package graft

import graft.Extras.{bm25QueryTerms, oracleIdxRoot}
import graft.text.TextAnalysis

/** The DuckDB oracle: for each extra query DuckDB can express, SQL in
  * DuckDB's dialect that computes the same rows from the same parquet
  * tables. Only [[Verify]] reads it, through [[SparkEntry.oracleSql]],
  * to write `oracle_sql.json` for the cross-check. Index-backed entries
  * read the stable artifact mirrors under `Extras.oracleIdxRoot`.
  *
  * The token expressions mirror TextAnalysis exactly: whitespace split,
  * empties dropped, 1-based n-gram shingles. A fragment that several
  * entries share is written once as a builder below; where the entries
  * spell it with different CTE names or indentation, the builder takes
  * those as parameters, so each entry's text is unchanged by the
  * sharing (OracleSqlSpec pins it).
  */
private[graft] object Oracle {

  /** One document's word tokens: `of` split on single spaces, empties
    * dropped (TextAnalysis's tokenizer). `v` only names the lambda.
    */
  private def words(v: String = "w", of: String = "text"): String =
    s"list_filter(str_split($of, ' '), $v -> $v <> '')"

  /** The `n`-token shingle starting at token `i` of `toks`. */
  private def shingle(n: Int): String =
    (0 until n).map(k => if (k == 0) "toks[i]" else s"toks[i+$k]")
      .mkString(" || ' ' || ")

  /** The distinct `n`-token shingles `s` of each `from` row's `toks`,
    * keyed by `key`. `aligned` indents the shingle lambda under the
    * first argument of `list_transform`; `and` extends the length
    * filter.
    */
  private def shingleSetCte(name: String, n: Int, from: String,
      key: String = "doc_id, ", materialized: Boolean = false, alias: String = "u",
      aligned: Boolean = false, and: String = ""): String = {
    val head = s"  SELECT ${key}unnest(list_transform("
    val indent = if (aligned) " " * head.length else "    "
    s"""$name AS ${asCte(materialized)}(SELECT DISTINCT ${key}s FROM (
${head}generate_series(1, len(toks) - ${n - 1}),
${indent}i -> ${shingle(n)})) AS s
  FROM $from WHERE len(toks) >= $n$and) $alias)"""
  }

  /** The CTE body prefix: DuckDB's MATERIALIZED hint or nothing. */
  private def asCte(materialized: Boolean): String =
    if (materialized) "MATERIALIZED " else ""

  /** Exact Jaccard of a pair sharing `c` shingles, sets sized `sa.sz`
    * and `sb.sz`.
    */
  private val jaccard = "CAST(c AS DOUBLE) / (sa.sz + sb.sz - c)"

  /** Shared-shingle count `c` per candidate pair of `cand`, over the
    * shingle table `sh` (both JOINs aligned at column 20).
    */
  private def pairOverlapCte(name: String, cand: String, sh: String): String = {
    val pad = " " * (14 - cand.length)
    s"""$name AS (SELECT $cand.i, $cand.j, COUNT(*) AS c
${pad}FROM $cand JOIN $sh a ON $cand.i = a.doc_id
                    JOIN $sh b ON $cand.j = b.doc_id AND a.s = b.s
${pad}GROUP BY 1, 2)"""
  }

  /** Per-doc shingle-set size `sz` plus the pair overlap counts — the
    * two inputs of [[jaccard]].
    */
  private def shingleOverlapCtes(cand: String, sh: String,
      sz: String = "sz", inter: String = "inter"): String =
    s"""$sz AS (SELECT doc_id, COUNT(*) AS sz FROM $sh GROUP BY doc_id),
${pairOverlapCte(inter, cand, sh)}"""

  /** The pairs of `inter` whose Jaccard reaches `t`. */
  private def jaccardPairsCte(name: String, inter: String, sz: String,
      t: Double): String =
    s"""$name AS (SELECT $inter.i, $inter.j FROM $inter
  JOIN $sz sa ON $inter.i = sa.doc_id JOIN $sz sb ON $inter.j = sb.doc_id
  WHERE $jaccard >= $t)"""

  /** The `nd` set: corpus docs with a bench partner at Jaccard ≥ 0.5. */
  private def nearDupDocsCte(sz: String): String =
    s"""nd AS (SELECT DISTINCT inter.i AS doc_id
       FROM inter JOIN $sz sa ON inter.i = sa.doc_id
                  JOIN $sz sb ON inter.j = sb.doc_id
       WHERE $jaccard >= 0.5)"""

  /** LSH candidate pairs: a self-join of the banded member table
    * `banded` on (band, bucket). `ordered` keeps only `i < j`; `where`
    * restricts the two sides.
    */
  private def bandCandCte(name: String, banded: String, where: String = "",
      ordered: Boolean = false): String = {
    val on =
      if (ordered) "\n    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id"
      else " ON a.band = b.band AND a.bucket = b.bucket"
    val filter = if (where.isEmpty) "" else s"\n  $where"
    s"""$name AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$banded') a
  JOIN read_parquet('$banded') b$on$filter)"""
  }

  /** The docs of the `cand` pairs and their tokens `toks` in table `t`,
    * read from `from`.
    */
  private def candTokensCtes(t: String, from: String): String = {
    val pad = " " * s"$t AS (".length
    s"""cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
$t AS (SELECT doc_id, ${words()} AS toks
${pad}FROM $from WHERE doc_id IN (SELECT doc_id FROM cids))"""
  }

  /** Transitive closure over the undirected pairs (i, j) of `pairs`:
    * `reach` holds every (node, reachable root) row.
    */
  private def closureCtes(pairs: String): String =
    s"""edges AS (SELECT i AS a, j AS b FROM $pairs UNION SELECT j, i FROM $pairs),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node)"""

  /** The seed-42 md5 coin of `col`: 8 hex digits, the portable
    * restatement of the engine's shuffle key.
    */
  private def coin(col: String): String =
    s"substring(md5(CAST($col AS VARCHAR) || ':' || '42'), 1, 8)"

  /** The hash-split label of `col` (train 80 %, val 10 %, test 10 %),
    * continuation lines indented by `indent`.
    */
  private def splitCase(col: String, indent: String): String = {
    def cut(p: Double) = graft.ops.Scale.hexCutoff(p)
    s"""CASE
${indent}WHEN substr(md5(CAST($col AS VARCHAR) || ':42'), 1, 8) < '${cut(0.8)}' THEN 'train'
${indent}WHEN substr(md5(CAST($col AS VARCHAR) || ':42'), 1, 8) < '${cut(0.9)}' THEN 'val'
${indent}ELSE 'test' END"""
  }

  /** Temperature-mixture keep cut per lang over `j<sfx>` (lang, n, t):
    * 'g' keeps all, else the 8-hex-digit coin bound.
    */
  private def mixtureCutCtes(sfx: String): String = {
    val pad = " " * s"fr$sfx AS (".length
    s"""tm$sfx AS (SELECT MIN(n / t) AS tmax FROM j$sfx),
fr$sfx AS (SELECT lang, CASE WHEN n / t = tmax THEN 'g'
$pad  WHEN tmax * t / n >= 1.0 THEN 'g'
$pad  ELSE printf('%08x', CAST(least(floor(tmax * t / n * 4294967296), 4294967295) AS BIGINT)) END AS cut
${pad}FROM j$sfx CROSS JOIN tm$sfx)"""
  }

  /** X48/X74: the docs whose coin falls under their lang's cut. */
  private val mixtureSampleSql = s"""${mixtureCutCtes("")}
SELECT d.doc_id, d.lang FROM documents d JOIN fr USING (lang)
WHERE ${coin("d.doc_id")} < fr.cut
ORDER BY d.doc_id"""

  /** X118/X125: one row per merged duplicate span of `gg`. */
  private val dupSpansSql = """SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(MIN(p) AS BIGINT) AS span_start,
  CAST(MAX(e) AS BIGINT) AS span_end,
  CAST(MAX(e) - MIN(p) + 1 AS BIGINT) AS span_tokens
FROM gg GROUP BY doc_id, grp ORDER BY doc_id, span_start"""

  /** Stride-1 10-token windows `win` over `from`'s words (t, w, k),
    * then [[windowMarkCtes]]. Every CTE name carries `sfx`.
    */
  private def dupWindowCtes(sfx: String, from: String): String =
    s"""t$sfx AS (SELECT doc_id, ${words()} AS words FROM $from),
w$sfx AS (SELECT doc_id, unnest(generate_series(1, len(words) - 9)) AS p, words FROM t$sfx WHERE len(words) >= 10),
k$sfx AS (SELECT doc_id, p, array_to_string(words[p : p+9], ' ') AS win FROM w$sfx),
${windowMarkCtes(sfx)}"""

  /** Exact-substring marking over the windows `k<sfx>`: a window key seen
    * more than once marks all but its globally-first occurrence, and
    * covered positions merge into islands (`gg<sfx>`.grp).
    */
  private def windowMarkCtes(sfx: String): String =
    s"""r$sfx AS (SELECT doc_id, p,
        COUNT(*) OVER (PARTITION BY win) AS occ,
        ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk
      FROM k$sfx),
h$sfx AS (SELECT doc_id, p, p + 9 AS e FROM r$sfx WHERE occ > 1 AND rk > 1),
g$sfx AS (SELECT doc_id, p, e,
        CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS ng$sfx
      FROM h$sfx),
gg$sfx AS (SELECT *, SUM(ng$sfx) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp FROM g$sfx)"""

  /** Cut the merged spans of `gg<sfx>` out of `t<sfx>`'s words: the
    * cleaned text per doc (agg) and the tokens cut (dup).
    */
  private def cleanTextCtes(sfx: String): String = {
    val pad = " " * s"kept$sfx AS (".length
    s"""sp$sfx AS (SELECT doc_id, MIN(p) AS s, MAX(e) AS e2 FROM gg$sfx GROUP BY doc_id, grp),
pos$sfx AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS i FROM t$sfx WHERE len(words) >= 1),
kept$sfx AS (SELECT pos$sfx.doc_id, pos$sfx.i, pos$sfx.words[pos$sfx.i] AS wtok
${pad}FROM pos$sfx LEFT JOIN sp$sfx ON pos$sfx.doc_id = sp$sfx.doc_id AND pos$sfx.i BETWEEN sp$sfx.s AND sp$sfx.e2
${pad}WHERE sp$sfx.doc_id IS NULL),
agg$sfx AS (SELECT doc_id, COALESCE(string_agg(wtok, ' ' ORDER BY i), '') AS clean_text FROM kept$sfx GROUP BY doc_id),
dup$sfx AS (SELECT doc_id, SUM(e2 - s + 1) AS dup_tokens FROM sp$sfx GROUP BY doc_id)"""
  }

  /** X126/X127's fixture base: the first 100 letters of each
    * all-lowercase doc among the first `limit` (s1), transliterated
    * into the Thai consonant block (t).
    */
  private def thaiFixtureCtes(limit: Int): String = s"""p0 AS (
  SELECT doc_id, text, replace(text, ' ', '') AS s0
  FROM documents WHERE doc_id < $limit),
f0 AS (
  SELECT doc_id, text, substring(s0, 1, 100) AS s1
  FROM p0 WHERE regexp_matches(s0, '^[a-z]+$$') AND length(s0) >= 100),
th AS (
  SELECT doc_id, text, array_to_string(list_transform(
    generate_series(1, length(s1)), i -> chr(unicode(s1[i:i]) + 3488)), '') AS t
  FROM f0)"""

  /** Stage 1 of the run-level substring tier over the fixture `u`:
    * the spaceless dispatch (cls), the virtual docs = homogeneous
    * whole docs ∪ mixed docs' ≥16-code-point non-ASCII runs (vd), and
    * their merged 10-char duplicate spans (cspans).
    */
  private val runCharSpanCtes: String = raw"""cls AS (
  SELECT doc_id, text,
    (length(text) >= 16 * len(${words("x")})
      AND 2 * length(regexp_replace(text, '[\x00-\x7F]', '', 'g'))
        >= length(text)) AS sp
  FROM u),
vruns AS (
  SELECT doc_id, list_zip(regexp_extract_all(text, '[^\x00-\x7F]{16,}'),
    generate_series(1, len(regexp_extract_all(text, '[^\x00-\x7F]{16,}')))) AS zz
  FROM cls WHERE NOT sp),
vhet AS (
  SELECT doc_id, z[1] AS t, CAST(z[2] AS INT) - 1 AS run_idx
  FROM (SELECT doc_id, unnest(zz) AS z FROM vruns)),
vd AS (
  SELECT doc_id, 0 AS run_idx, text AS t FROM cls WHERE sp
  UNION ALL
  SELECT doc_id, run_idx, t FROM vhet),
cw AS (
  SELECT doc_id, run_idx, unnest(generate_series(1, length(t) - 9)) AS p, t
  FROM vd WHERE length(t) >= 10),
ck AS (SELECT doc_id, run_idx, p, substring(t, p, 10) AS win FROM cw),
cr AS (SELECT doc_id, run_idx, p,
         COUNT(*) OVER (PARTITION BY win) AS occ,
         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, run_idx, p) AS rk
       FROM ck),
chh AS (SELECT doc_id, run_idx, p, p + 9 AS e FROM cr WHERE occ > 1 AND rk > 1),
cg AS (SELECT doc_id, run_idx, p, e,
         CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id, run_idx ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           THEN 1 ELSE 0 END AS ng
       FROM chh),
cgg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id, run_idx ORDER BY p
          ROWS UNBOUNDED PRECEDING) AS grp FROM cg),
cspans AS (
  SELECT doc_id, run_idx, MIN(p) AS span_start, MAX(e) AS span_end,
         MAX(e) - MIN(p) + 1 AS span_tokens
  FROM cgg GROUP BY doc_id, run_idx, grp)"""

  /** Stage 2 after [[runCharSpanCtes]]: each virtual doc rebuilt from
    * its uncovered chars (cclean), the cleaned runs spliced back into
    * their mixed docs (spliced, the run list named `cr`), then the
    * merged 10-word duplicate spans of the spliced text (wspans).
    */
  private def runCleanWordSpanCtes(cr: String): String = s"""cov AS (
  SELECT doc_id, run_idx, unnest(generate_series(span_start, span_end)) AS q
  FROM cspans),
allpos AS (
  SELECT doc_id, run_idx, unnest(generate_series(1, length(t))) AS q, t FROM vd),
kept AS (
  SELECT ap.doc_id, ap.run_idx, ap.q, substring(ap.t, ap.q, 1) AS uu
  FROM allpos ap LEFT JOIN cov c
    ON ap.doc_id = c.doc_id AND ap.run_idx = c.run_idx AND ap.q = c.q
  WHERE c.q IS NULL),
ckagg AS (
  SELECT doc_id, run_idx, string_agg(uu, '' ORDER BY q) AS clean
  FROM kept GROUP BY doc_id, run_idx),
cclean AS (
  SELECT vd.doc_id, vd.run_idx, COALESCE(k.clean, '') AS clean
  FROM vd LEFT JOIN ckagg k
    ON vd.doc_id = k.doc_id AND vd.run_idx = k.run_idx),
runsclean AS (
  SELECT c0.doc_id, list(c0.clean ORDER BY c0.run_idx) AS $cr
  FROM cclean c0 JOIN cls ON c0.doc_id = cls.doc_id
  WHERE NOT cls.sp GROUP BY c0.doc_id),
spl0 AS (
  SELECT c.doc_id, string_split_regex(c.text, '[^\\x00-\\x7F]{16,}') AS st,
    COALESCE(r.$cr, CAST([] AS VARCHAR[])) AS $cr
  FROM (SELECT doc_id, text FROM cls WHERE NOT sp) c
  LEFT JOIN runsclean r ON c.doc_id = r.doc_id),
spliced AS (
  SELECT doc_id, array_to_string(list_transform(
    generate_series(1, len(st)), i -> st[i] || COALESCE($cr[i], '')), '') AS text
  FROM spl0),
wt AS (SELECT doc_id, ${words("x")} AS toks
       FROM spliced),
ww AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS p, toks
       FROM wt WHERE len(toks) >= 10),
wk AS (SELECT doc_id, p, array_to_string(toks[p : p + 9], ' ') AS win FROM ww),
wr AS (SELECT doc_id, p, COUNT(*) OVER (PARTITION BY win) AS occ,
         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk FROM wk),
wh AS (SELECT doc_id, p, p + 9 AS e FROM wr WHERE occ > 1 AND rk > 1),
wg AS (SELECT doc_id, p, e,
         CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           THEN 1 ELSE 0 END AS ng
       FROM wh),
wgg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id ORDER BY p
          ROWS UNBOUNDED PRECEDING) AS grp FROM wg),
wspans AS (SELECT doc_id, MIN(p) AS span_start, MAX(e) AS span_end,
             MAX(e) - MIN(p) + 1 AS span_tokens FROM wgg GROUP BY doc_id, grp)"""

  /** The benchmark split of the curation oracles: `corpus` is every
    * non-src0 doc, `bench` the src0 docs.
    */
  private val benchSplitCtes =
    """corpus AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
bench AS (SELECT doc_id, text FROM documents WHERE source = 'src0')"""

  /** Decontamination signal 1: each corpus doc's fraction of 5-gram
    * shingles that also occur in the bench (ct, csh, bt, bsh, ng).
    */
  private def benchOverlapCtes(materialized: Boolean, aliases: (String, String)): String =
    s"""ct AS (SELECT doc_id, ${words()} AS toks FROM corpus),
${shingleSetCte("csh", 5, "ct", materialized = materialized, alias = aliases._1)},
bt AS (SELECT doc_id, ${words()} AS toks FROM bench),
${shingleSetCte("bsh", 5, "bt", key = "", materialized = materialized, alias = aliases._2)},
ng AS ${asCte(materialized)}(SELECT csh.doc_id,
         ROUND(CAST(COUNT(bsh.s) AS DOUBLE) / COUNT(*), 6) AS ngram_frac
       FROM csh LEFT JOIN bsh ON csh.s = bsh.s GROUP BY csh.doc_id)"""

  /** Corpus × bench LSH candidates off the banded mirror `banded`. */
  private def benchCandCte(banded: String): String =
    bandCandCte("cand", banded, """WHERE a.id IN (SELECT doc_id FROM corpus)
    AND b.id IN (SELECT doc_id FROM bench)""")

  /** Decontamination signal 3: each corpus doc's max cosine to any
    * bench embedding.
    */
  private val semanticCtes =
    """cemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM corpus)),
bemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM bench)),
sem AS (SELECT c.vec_id AS doc_id,
          ROUND(MAX(list_inner_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS semantic_cos
        FROM cemb c CROSS JOIN bemb b GROUP BY c.vec_id)"""

  /** The decontamination row of corpus doc `c`: the three signals and
    * their OR-ed drop verdict, named `verdict`.
    */
  private def deconVerdictCols(verdict: String): String =
    s"""  COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) AS ngram_frac,
  (nd.doc_id IS NOT NULL) AS near_dup,
  sem.semantic_cos,
  CASE WHEN COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) >= 0.2
         OR nd.doc_id IS NOT NULL
         OR sem.semantic_cos >= 0.35 THEN 'drop' ELSE 'keep' END AS $verdict"""

  /** The curation manifest's four-stage chain over the caller's
    * `corpus` and `bench` CTEs, through the final manifest SELECT:
    * decontamination (m0), banded near-dup dedup at Jaccard 0.8 (ded),
    * the bigram-LM perplexity cut (pplv) and the temperature mixture
    * (mixv). Stage texts are read from `text`; the decon verify reads
    * candidate texts from `pairText`. `runLevel` (X128) verifies both
    * tiers over the caller's run-level sets `shr`/`szall` instead of
    * word 3-gram sets and takes mixture strata from the fixture `u`.
    * `stage0Cols` are the caller's `stage0` columns that lead the row.
    */
  private def curationStagesSql(banded: String, text: String,
      pairText: String, runLevel: Boolean, stage0Cols: Seq[String]): String = {
    // X128's fixture CTE is named u, so its subquery aliases differ
    val Seq(a1, a2, a3) = if (runLevel) Seq("q1", "q2", "q3") else Seq("u", "u", "u")
    val deconPairs =
      if (runLevel) pairOverlapCte("inter", "cand", "shr")
      else s"""${candTokensCtes("tt", pairText)},
${shingleSetCte("sh05", 3, "tt", materialized = true)},
${shingleOverlapCtes("cand", "sh05")}"""
    val dedupPairs =
      if (runLevel) pairOverlapCte("ix8", "cand8", "shr")
      else s"""cid8 AS (SELECT i AS doc_id FROM cand8 UNION SELECT j FROM cand8),
sh8 AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
    i -> ${shingle(3)})) AS s
  FROM (SELECT doc_id, ${words()} AS toks
        FROM $text WHERE doc_id IN (SELECT doc_id FROM cid8)) t
  WHERE len(toks) >= 3) u),
${shingleOverlapCtes("cand8", "sh8", sz = "sz8", inter = "ix8")}"""
    val (sz, sz8) = if (runLevel) ("szall", "szall") else ("sz", "sz8")
    val (strata, s) = if (runLevel) ("u", "u") else ("documents d", "d")
    val (mixFrom, m) = if (runLevel) ("u uu", "uu") else ("documents d", "d")
    val lead =
      if (stage0Cols.isEmpty) "" else stage0Cols.map("s0." + _).mkString("", ", ", ",\n  ")
    val joinStage0 =
      if (stage0Cols.isEmpty) "" else "\nJOIN stage0 s0 ON m0.doc_id = s0.doc_id"
    s"""${benchOverlapCtes(materialized = true, (a1, a2))},
${benchCandCte(banded)},
$deconPairs,
${nearDupDocsCte(sz)},
$semanticCtes,
m0 AS MATERIALIZED (SELECT c.doc_id,
${deconVerdictCols("decon_verdict")}
  FROM corpus c
  LEFT JOIN ng ON c.doc_id = ng.doc_id
  LEFT JOIN nd ON c.doc_id = nd.doc_id
  LEFT JOIN sem ON c.doc_id = sem.doc_id),
s1 AS MATERIALIZED (SELECT doc_id FROM m0 WHERE decon_verdict = 'keep'),
${bandCandCte("cand8", banded,
  "WHERE a.id IN (SELECT doc_id FROM s1) AND b.id IN (SELECT doc_id FROM s1)",
  ordered = true)},
$dedupPairs,
${jaccardPairsCte("ver8", "ix8", sz8, 0.8)},
${closureCtes("ver8")},
clus AS MATERIALIZED (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
qual AS (SELECT doc_id,
  CAST(len(list_distinct(${words()})) AS BIGINT) AS n_uniq
  FROM $text WHERE doc_id IN (SELECT doc_id FROM s1)),
mm AS (SELECT clus.cluster_id, clus.doc_id, qual.n_uniq FROM clus JOIN qual USING (doc_id)),
rw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_uniq DESC, doc_id) AS rk FROM mm),
win AS (SELECT doc_id FROM rw WHERE rk = 1),
ded AS MATERIALIZED (SELECT s1.doc_id,
  (cl.doc_id IS NULL OR w.doc_id IS NOT NULL) AS dedup_keep
  FROM s1 LEFT JOIN (SELECT DISTINCT doc_id FROM clus) cl ON s1.doc_id = cl.doc_id
          LEFT JOIN win w ON s1.doc_id = w.doc_id),
s3ids AS MATERIALIZED (SELECT doc_id FROM ded WHERE dedup_keep),
tp AS (SELECT doc_id, ${words("x")} AS toks
       FROM $text WHERE doc_id IN (SELECT doc_id FROM s3ids)),
bgp AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM tp WHERE len(toks) >= 2) $a3),
mp AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgp GROUP BY w1, w2),
cxp AS (SELECT w1, SUM(c12) AS c1 FROM mp GROUP BY w1),
vp AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM tp) z),
sp AS MATERIALIZED (SELECT bgp.doc_id,
         ROUND(AVG(log10(CAST(mp.c12 + 1 AS DOUBLE) / CAST(cxp.c1 + vp.v AS DOUBLE))), 6) AS mean_logp
       FROM bgp JOIN mp USING (w1, w2) JOIN cxp USING (w1) CROSS JOIN vp
       GROUP BY bgp.doc_id),
rp AS (SELECT doc_id, mean_logp,
         ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS rank FROM sp),
np AS (SELECT COUNT(*) AS n FROM sp),
ppl AS (SELECT rp.doc_id,
          CAST(FLOOR(CAST((rp.rank - 1) * 3 AS DOUBLE) / np.n) AS BIGINT) AS ppl_bucket
        FROM rp, np),
pplv AS MATERIALIZED (SELECT s3ids.doc_id, ppl.ppl_bucket,
           COALESCE(ppl.ppl_bucket < 2, FALSE) AS ppl_keep
         FROM s3ids LEFT JOIN ppl ON s3ids.doc_id = ppl.doc_id),
s4ids AS MATERIALIZED (SELECT doc_id FROM pplv WHERE ppl_keep),
cnt4 AS (SELECT $s.lang, COUNT(*) AS n
         FROM $strata JOIN s4ids ON $s.doc_id = s4ids.doc_id GROUP BY $s.lang),
j4 AS (SELECT lang, n, pow(n, 0.5) AS t FROM cnt4),
${mixtureCutCtes("4")},
mix AS (SELECT $m.doc_id FROM $mixFrom
        JOIN s4ids ON $m.doc_id = s4ids.doc_id
        JOIN fr4 ON $m.lang = fr4.lang
        WHERE ${coin(s"$m.doc_id")} < fr4.cut),
mixv AS MATERIALIZED (SELECT s4ids.doc_id, (mix.doc_id IS NOT NULL) AS mixture_keep
         FROM s4ids LEFT JOIN mix ON s4ids.doc_id = mix.doc_id)
SELECT m0.doc_id, ${lead}m0.ngram_frac, m0.near_dup, m0.semantic_cos, m0.decon_verdict,
  CASE WHEN ded.dedup_keep THEN 'keep' WHEN NOT ded.dedup_keep THEN 'drop' END AS dedup_verdict,
  pplv.ppl_bucket,
  CASE WHEN pplv.ppl_keep THEN 'keep' WHEN NOT pplv.ppl_keep THEN 'drop' END AS ppl_verdict,
  CASE WHEN mixv.mixture_keep THEN 'keep' WHEN NOT mixv.mixture_keep THEN 'drop' END AS mixture_verdict,
  COALESCE(mixv.mixture_keep, FALSE) AS keep
FROM m0$joinStage0
LEFT JOIN ded ON m0.doc_id = ded.doc_id
LEFT JOIN pplv ON m0.doc_id = pplv.doc_id
LEFT JOIN mixv ON m0.doc_id = mixv.doc_id
ORDER BY m0.doc_id"""
  }

  /** The X17/X46 result: every counted pair at Jaccard ≥ 0.5, with its
    * rounded Jaccard.
    */
  private val jaccardRowsSql = s"""SELECT inter.i, inter.j,
       ROUND($jaccard, 6) AS jac
FROM inter
JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
WHERE $jaccard >= 0.5
ORDER BY i, j"""

  /** X05/X99: 3-gram shingles present in at most 50 docs, and their
    * per-pair overlap counts.
    */
  private val rareShingleOverlapCtes =
    s"""t AS (SELECT doc_id, ${words()} AS toks FROM documents),
${shingleSetCte("sha", 3, "t", aligned = true)},
rare AS (SELECT s FROM sha GROUP BY s HAVING COUNT(*) <= 50),
sh AS (SELECT sha.doc_id, sha.s FROM sha JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)"""

  /** Every 5-token shingle `s` of `from`'s `toks` with its start `pos`,
    * keyed by `key`.
    */
  private def shinglePosCte(from: String, key: String = "doc_id, "): String =
    s"""sh AS (SELECT ${key}i AS pos,
              ${shingle(5)} AS s
       FROM (SELECT ${key}toks, unnest(generate_series(1, len(toks) - 4)) AS i
             FROM $from WHERE len(toks) >= 5) u)"""

  /** Cut every token covered by a `hits` shingle (5 tokens from `pos`)
    * out of `from`'s docs; docs without a hit keep their text.
    */
  private def hitCutSql(from: String): String =
    s"""cov AS (SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS p FROM hits) z),
tokpos AS (SELECT doc_id, p, toks[p] AS tok
           FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p FROM $from) u),
kept AS (SELECT tokpos.doc_id, string_agg(tokpos.tok, ' ' ORDER BY tokpos.p) AS ct
         FROM tokpos LEFT JOIN cov ON tokpos.doc_id = cov.doc_id AND tokpos.p = cov.p
         WHERE cov.p IS NULL
         GROUP BY tokpos.doc_id)
SELECT $from.doc_id,
       CASE WHEN h.doc_id IS NULL THEN $from.text ELSE COALESCE(k.ct, '') END AS text
FROM $from
LEFT JOIN (SELECT DISTINCT doc_id FROM hits) h ON $from.doc_id = h.doc_id
LEFT JOIN kept k ON $from.doc_id = k.doc_id
ORDER BY $from.doc_id"""

  /** The BM25 corpus statistics: per-doc tokens and lengths, postings
    * with term frequency, document frequency and corpus totals.
    */
  private val bm25Ctes =
    s"""t AS (SELECT doc_id, ${words("x")} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
postings AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
             GROUP BY term, doc_id, dl),
dfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term),
stats AS (SELECT COUNT(*) AS n_docs, SUM(CAST(dl AS BIGINT)) AS sum_dl FROM d)"""

  /** BM25 (k1 1.2, b 0.75) of every doc for the query terms `q`. */
  private val bm25ScoredCte = """scored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 6) AS score
  FROM q JOIN postings p ON q.term = p.term
         JOIN dfx ON q.term = dfx.term
         CROSS JOIN stats
  GROUP BY q.query_id, p.doc_id)"""

  /** The corpus bigram LM (X70/X81): bigrams, their counts, context
    * counts and the vocabulary size.
    */
  private val bigramLmCtes =
    s"""t AS (SELECT doc_id, ${words("x")} AS toks FROM documents),
bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
cx AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t) z)"""

  /** X91/X102: the hash split of every doc, its bigrams, and the
    * bigram counts of the train split.
    */
  private val heldoutBigramCtes =
    s"""sp AS (SELECT doc_id, text, ${splitCase("doc_id", "    ")} AS split FROM documents),
t AS (SELECT doc_id, split, ${words("x")} AS toks FROM sp),
bg AS (SELECT doc_id, split, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, split, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE split = 'train' GROUP BY w1, w2)"""

  /** Per-doc word counts (X39/X44): words, per-word counts, and the
    * doc's word total, distinct words and top word count.
    */
  private val wordCountCtes =
    s"""wl AS (SELECT doc_id, ${words("x")} AS words FROM documents),
w AS (SELECT doc_id, unnest(words) AS w FROM wl),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, COUNT(*) AS n_uniq, MAX(c) AS top FROM wc GROUP BY doc_id)"""

  /** The corpus unigram LM (X45/X98): tokens, counts and total. */
  private val unigramCtes =
    s"""w AS (SELECT doc_id, unnest(${words("x")}) AS w FROM documents),
m AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
t AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM m)"""

  /** Exact cosine pairs above 0.4 (X06, and X12/X28 whose router and
    * bound make them exact).
    */
  private val embedNearDupSql = """
SELECT a.vec_id AS i, b.vec_id AS j,
  ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4
ORDER BY i, j
""".trim

  /** Chunk starts (stride 48) over each doc's words. */
  private val chunkStartCtes =
    s"""t AS (SELECT doc_id, ${words()} AS words FROM documents),
s AS (SELECT doc_id, words, len(words) AS n,
             unnest(range(0, greatest(len(words), 1), 48)) AS st FROM t)"""

  /** The 64-token chunks kept from [[chunkStartCtes]] with their sizes. */
  private val chunkCte = """ch AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens
       FROM s WHERE st = 0 OR st + 16 < n)"""

  /** The chunk stream in seed-42 shuffle order with its running token
    * count `run`.
    */
  private val packRunCtes = s"""sp AS (SELECT doc_id, row_number() OVER (
         ORDER BY ${coin("doc_id")}, doc_id) AS shuffle_pos
       FROM documents),
r AS (SELECT ch.*, sp.shuffle_pos,
        SUM(ch.n_tokens) OVER (ORDER BY sp.shuffle_pos, ch.chunk_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM ch JOIN sp USING (doc_id))"""

  /** Each chunk's start offset and first/last 256-token pack. */
  private val packSpanCte = """p AS (SELECT r.*, run - n_tokens AS strt,
        CAST((run - n_tokens) // 256 AS BIGINT) AS b0,
        CAST(CASE WHEN n_tokens = 0 THEN (run - n_tokens) // 256
                  ELSE (run - 1) // 256 END AS BIGINT) AS b1
      FROM r)"""

  /** Shared CTE chain: LSH candidate pairs off the MIRRORED banded
    * member table (plain bucket self-join — no capping term: the band
    * hash space is 2^64, so test corpora never produce an oversized
    * bucket and the Spark path's capped generation is exhaustive too),
    * exact-verified by 3-shingle Jaccard ≥ 0.8 over the SAME documents
    * table — the DuckDB restatement of candidatePairsFromBanded +
    * verifyCandidates. Used by the X15/X16/X29/X38 oracles.
    */
  private def bandedVerifiedCtes: String =
    s"""${bandCandCte("cand", s"$oracleIdxRoot/minhash_banded/*.parquet", ordered = true)},
$candShingleOverlapCtes,
verified AS (SELECT inter.i, inter.j,
    ROUND($jaccard, 6) AS jac
  FROM inter
  JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
  WHERE $jaccard >= 0.8)"""

  /** The 3-gram shingle sets of the `cand` docs (tokens read from
    * documents) and their pair overlap counts.
    */
  private def candShingleOverlapCtes: String =
    s"""${candTokensCtes("t", "documents")},
${shingleSetCte("sh", 3, "t", aligned = true)},
${shingleOverlapCtes("cand", "sh")}"""

  /** Winners = every document except verified-pair losers (min doc_id
    * wins) — winnersFrom in SQL.
    */
  private def bandedWinnersSql: String =
    s"""WITH $bandedVerifiedCtes
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT j FROM verified)
ORDER BY doc_id""".trim

  /** Connected components over the verified pairs via transitive
    * closure (component id = min reachable doc_id) — the SQL
    * restatement of BOTH min-label propagation (X16) and
    * large-star/small-star (X29), which the specs pin equal.
    */
  private def bandedClustersSql: String =
    s"""WITH RECURSIVE $bandedVerifiedCtes,
${closureCtes("verified")}
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node ORDER BY doc_id""".trim

  /** The persisted-IVF probe in SQL: nProbe nearest centroids by dot
    * product (unrounded, centroid_id tiebreak — Ivf.probeIndex's exact
    * arithmetic), partition-style list pruning, exact re-score rounded
    * to 6 dp. `k` then `keep` mirror the Spark form's limit(k) →
    * filter(≠probe) → limit(keep).
    */
  private def ivfProbeSql(k: Int, keep: Int): String = {
    val cents = s"$oracleIdxRoot/ivf/centroids/*.parquet"
    val vecs = s"$oracleIdxRoot/ivf/vectors/*/*.parquet"
    s"""WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
lists AS (SELECT centroid_id
  FROM read_parquet('$cents'), probe
  ORDER BY list_inner_product(centroid::DOUBLE[], probe.embedding::DOUBLE[]) DESC, centroid_id
  LIMIT 4),
topk AS (SELECT v.vec_id,
                ROUND(list_inner_product(v.embedding::DOUBLE[], p.embedding::DOUBLE[]), 6) AS cos
         FROM read_parquet('$vecs', hive_partitioning = true) v, probe p
         WHERE v.list_id IN (SELECT centroid_id FROM lists)
         ORDER BY cos DESC, vec_id
         LIMIT $k)
SELECT vec_id, cos FROM topk WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT $keep""".trim
  }

  /** `assigned`: each embedding's max-dot centroid of `cents`
    * (centroid_id tiebreak, Ivf.assign's struct max) as `list_id`,
    * with that dot as `sc` when `withScore`.
    */
  private def nearestCentroidCte(withScore: Boolean): String = {
    val (outSc, sc) =
      if (withScore) (", sc", "\n           list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) AS sc,")
      else ("", "")
    s"""assigned AS (
  SELECT vec_id, embedding, centroid_id AS list_id$outSc FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,$sc
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                      c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c) z
  WHERE rk = 1)"""
  }

  /** The inline IVF query in SQL: assignment recomputed from the
    * MIRRORED centroids (identical to X11's inline centroid choice —
    * writeIndex derives them deterministically from the corpus), argmax
    * by (dot DESC, centroid_id) exactly like Ivf.assign's struct max.
    */
  private def ivfInlineSql: String = {
    val cents = s"$oracleIdxRoot/ivf/centroids/*.parquet"
    s"""WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
cents AS (SELECT centroid_id, centroid FROM read_parquet('$cents')),
${nearestCentroidCte(withScore = false)},
lists AS (SELECT centroid_id FROM cents, probe
  ORDER BY list_inner_product(probe.embedding::DOUBLE[], centroid::DOUBLE[]) DESC, centroid_id
  LIMIT 4)
SELECT a.vec_id, ROUND(list_inner_product(p.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS cos
FROM assigned a, probe p
WHERE a.list_id IN (SELECT centroid_id FROM lists) AND a.vec_id <> 0
ORDER BY cos DESC, vec_id LIMIT 5""".trim
  }

  /** Shared CTE for the X60/X61 oracles: nearest-centroid assignment
    * over the MIRRORED k-means centroid parquet — the same argmax
    * (score desc, centroid_id asc) as [[graft.vector.SemDedup
    * .assignWithScore]], in portable SQL.
    */
  private def kmeansAssignedCte: String = {
    val cents = s"$oracleIdxRoot/kmeans/*.parquet"
    s"""cents AS (SELECT centroid_id, centroid FROM read_parquet('$cents')),
${nearestCentroidCte(withScore = true)}"""
  }

  /** |a|² − 2a·b + |b|² as DOUBLE inner products (the engine's
    * squared-L2 expansion), continuation lines indented by `indent`.
    */
  private def sqDist(a: String, b: String, indent: String): String =
    s"""list_inner_product($a::DOUBLE[], $a::DOUBLE[])
$indent- 2 * list_inner_product($a::DOUBLE[], $b::DOUBLE[])
$indent+ list_inner_product($b::DOUBLE[], $b::DOUBLE[])"""

  /** Ground truth for the PQ recall oracles: each query's exact
    * squared-L2 top-5 (6-dp rounded, vec_id tiebreak), self excluded.
    */
  private val exactTop5Cte = s"""exact AS (
  SELECT q.query_id, e.vec_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
    ROUND(${sqDist("q.embedding", "e.embedding", "      ")}, 6),
    e.vec_id) <= 5)"""

  /** Recall@5 per query of `approx` against `exact`. */
  private val recallSql = """SELECT x.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM exact x LEFT JOIN approx a
  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY 1 ORDER BY 1"""

  /** Keep each query's `k` smallest ADC distances (6-dp rounded,
    * vec_id tiebreak), lines indented by `indent`.
    */
  private def adcTopK(k: Int, indent: String): String =
    s"""${indent}QUALIFY row_number() OVER (PARTITION BY query_id
$indent                           ORDER BY ROUND(d2, 6), vec_id) <= $k"""

  /** The ADC top-5 result rows of `scan`. */
  private val adcTop5Sql = s"""SELECT query_id, vec_id, ROUND(d2, 6) AS adc_d2
FROM scan
${adcTopK(5, "")}
ORDER BY query_id, adc_d2, vec_id"""

  /** The mirrored plain-PQ codebook and codes, and the three queries. */
  private val pqInputCtes = s"""cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pq/codebook/*.parquet')),
co AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/pq/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3)"""

  /** The ADC lookup table: per (query, sub-space, centroid) the
    * squared-L2 term of the query's 8-dim slice, over `from`'s `q`
    * and `cb`.
    */
  private def flatLutCte(name: String, from: String): String = s"""$name AS (
  SELECT q.query_id, cb.sub, cb.cid,
    list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                       (q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[])
    - 2 * list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM $from)"""

  /** One row per (vector, sub-space code). */
  private val pqCodeCte = """ex AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
       FROM co)"""

  /** The flat ADC scan (X104/X105): each vector's summed lut distance
    * to each query, self excluded.
    */
  private val adcScanCtes = s"""$pqInputCtes,
${flatLutCte("lut", "q, cb")},
$pqCodeCte,
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e JOIN lut l ON l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)"""

  /** The residual lookup table over the probed lists' residual queries
    * `qr`; `cols` prefixes the key columns.
    */
  private def residualLutCte(cols: String): String = s"""lut AS (
  SELECT ${cols}p.query_id, p.list_id, cb.sub, cb.cid,
    list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                       p.qr[cb.sub*8+1 : cb.sub*8+8])
    - 2 * list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM probed p, cb)"""

  /** The residual IVFADC scan (X108/X109/X111/X112) over the mirrored
    * pqr index: the `nProbe` nearest coarse centroids per query, the
    * residual lut, and each vector's summed distance in the probed
    * lists.
    */
  private def ivfadcScanCtes(nProbe: Int): String = s"""cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pqr/codebook/*.parquet')),
$pqrListCtes,
probed AS (
  SELECT query_id, list_id, qr FROM (
    SELECT q.query_id, c.centroid_id AS list_id,
      [q.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE
       for i in range(1, len(q.embedding)+1)] AS qr,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        ${sqDist("q.embedding", "c.centroid", "        ")},
        c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) z WHERE rn <= $nProbe),
${residualLutCte("")},
$pqrCodeCte,
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.list_id = e.list_id AND l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)"""

  /** X110's residual energy |v − c|² of `assigned`. */
  private val residualD2 = sqDist("embedding", "centroid", "    ")

  /** The mirrored plain-PQ (p) and OPQ (o) codebooks and codes, and the
    * OPQ rotation.
    */
  private val opqInputCtes = s"""cbp AS (SELECT sub, cid, centroid
             FROM read_parquet('$oracleIdxRoot/pq/codebook/*.parquet')),
cop AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/pq/codes/*.parquet')),
cbo AS (SELECT sub, cid, centroid
        FROM read_parquet('$oracleIdxRoot/opq/codebook/*.parquet')),
coo AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/opq/codes/*.parquet')),
rot AS (SELECT i, vals FROM read_parquet('$oracleIdxRoot/opq/rotation/*.parquet'))"""

  /** Variant `v`'s ADC top-5 per query over the code rows `ex`. */
  private def opqApproxCte(v: String, ex: String): String = s"""approx$v AS (
  SELECT query_id, vec_id FROM (
    SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
    FROM $ex e JOIN lut$v l ON l.sub = e.i - 1 AND l.cid = e.cid
    WHERE e.vec_id <> l.query_id
    GROUP BY 1, 2) s
${adcTopK(5, "  ")})"""

  /** Variant `v`'s recall@5 rows, labelled `variant`. */
  private def opqRecallSql(variant: String, v: String): String =
    s"""  SELECT '$variant' AS variant, x.query_id,
    CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
    CAST(COUNT(*) AS BIGINT) AS n_exact,
    ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
  FROM exact x LEFT JOIN approx$v a
    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY 1, 2"""

  /** Variant `v`'s reconstruction of every vector from its codes. */
  private def reconCte(v: String): String = s"""recon$v AS (
  SELECT x.vec_id, flatten(array_agg(cb.centroid ORDER BY x.i)) AS recon
  FROM (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
        FROM co$v) x
  JOIN cb$v cb ON cb.sub = x.i - 1 AND cb.cid = x.cid
  GROUP BY x.vec_id)"""

  /** Recall@5 of `scan`'s ADC top-5 against the exact top-5. */
  private val adcRecallSql = s"""approx AS (
  SELECT query_id, vec_id FROM scan
${adcTopK(5, "  ")}),
$exactTop5Cte
$recallSql"""

  /** The mirrored residual-PQ codes, the three queries and the
    * refined coarse centroids.
    */
  private val pqrListCtes = s"""co AS (SELECT vec_id, list_id, codes
       FROM read_parquet('$oracleIdxRoot/pqr/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet'))"""

  /** One row per (vector, list, sub-space code) of the residual codes. */
  private val pqrCodeCte = """ex AS (SELECT vec_id, list_id, unnest(codes) AS cid,
              generate_subscripts(codes, 1) AS i
       FROM co)"""

  /** The X111/X112 two-stage pipeline parameterized by an unnested
    * (probe budget, policy) table — the shared CTE chain of the X113
    * operating curve and the X120 calibration wrapper (which
    * aggregates the same chain instead of restating it). Ends at the
    * `exact` ground-truth CTE; callers append their own final
    * aggregation.
    */
  private def probeCurveCtes: String = s"""
WITH pr AS (
  SELECT p, policy,
    CASE WHEN policy = 'fixed50' THEN 50 ELSE GREATEST(50, 16 * p) END AS r
  FROM (SELECT unnest([1, 2, 4, 8, 16]) AS p)
  CROSS JOIN (SELECT unnest(['auto', 'fixed50']) AS policy)),
ps AS (SELECT DISTINCT p FROM pr),
cb AS (SELECT sub, cid, centroid
       FROM read_parquet('$oracleIdxRoot/pqr/codebook/*.parquet')),
$pqrListCtes,
ranked AS (
  SELECT q.query_id, c.centroid_id AS list_id,
    [q.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE
     for i in range(1, len(q.embedding)+1)] AS qr,
    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      ${sqDist("q.embedding", "c.centroid", "      ")},
      c.centroid_id) AS rn
  FROM q CROSS JOIN cents c),
probed AS (
  SELECT ps.p, z.query_id, z.list_id, z.qr
  FROM ranked z CROSS JOIN ps WHERE z.rn <= ps.p),
${residualLutCte("p.p, ")},
$pqrCodeCte,
scan AS (
  SELECT l.p, l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.list_id = e.list_id AND l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2, 3),
short AS (
  SELECT pr.policy, pr.p, pr.r, s.query_id, s.vec_id
  FROM scan s JOIN pr ON pr.p = s.p
  QUALIFY row_number() OVER (PARTITION BY pr.policy, pr.p, s.query_id
                             ORDER BY ROUND(s.d2, 6), s.vec_id) <= pr.r),
approx AS (
  SELECT s.policy, s.p, s.query_id, s.vec_id FROM (
    SELECT s.policy, s.p, s.query_id, s.vec_id,
      ROUND(${sqDist("q.embedding", "e.embedding", "        ")}, 6)
        AS d2
    FROM short s
    JOIN q ON q.query_id = s.query_id
    JOIN embeddings e ON e.vec_id = s.vec_id) s
  QUALIFY row_number() OVER (PARTITION BY s.policy, s.p, s.query_id
                             ORDER BY s.d2, s.vec_id) <= 5),
$exactTop5Cte""".trim

  /** The X93 manifest oracle (v1 release order) — referenced by the
    * X93 map entry and nested verbatim inside X122's comparison.
    */
  private def x93OracleSql: String = s"""
WITH RECURSIVE $benchSplitCtes,
${curationStagesSql(s"$oracleIdxRoot/minhash_banded/*.parquet",
  text = "documents", pairText = "documents", runLevel = false, stage0Cols = Nil)}
""".trim

  /** The X121 manifest oracle (v2 release order): the X119
    * substring-clean chain (CTEs suffixed 0) produces the corpus the
    * X93 stage chain then runs over — text reads that were
    * `documents` become the cleaned corpus view (union'd with the
    * untouched benchmark where the verify needs both sides), the
    * banded index is the v2 mirror (built over the same cleaned
    * text), and the final row gains the stage-0 token accounting.
    * Referenced by the X121 map entry and nested inside X122.
    */
  private def x121OracleSql: String = s"""
WITH RECURSIVE raw AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
${dupWindowCtes("0", "raw")},
${cleanTextCtes("0")},
stage0 AS MATERIALIZED (SELECT t0.doc_id,
    CAST(len(t0.words) AS BIGINT) AS n_tokens,
    CAST(COALESCE(dup0.dup_tokens, 0) AS BIGINT) AS sub_dup_tokens,
    COALESCE(agg0.clean_text, '') AS clean_text
  FROM t0 LEFT JOIN dup0 ON t0.doc_id = dup0.doc_id
          LEFT JOIN agg0 ON t0.doc_id = agg0.doc_id),
corpus AS (SELECT doc_id, clean_text AS text FROM stage0),
bench AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
alltext AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM bench),
${curationStagesSql(s"$oracleIdxRoot/minhash_banded_v2/*.parquet",
  text = "corpus", pairText = "alltext", runLevel = false,
  stage0Cols = Seq("n_tokens", "sub_dup_tokens"))}
""".trim

  /** The X128 manifest oracle (run-level release order): the X127
    * two-stage substring SQL becomes stage 0 (char windows over the
    * virtual run corpus, splice, word windows over the spliced text,
    * plus the clean-text rebuild and per-doc token accounting), and
    * the X121 stage chain runs over that cleaned corpus with RUN-LEVEL
    * shingle sets (the X126 regexp run-splitting SQL) in BOTH verify
    * tiers — near-dup decon at 0.5 and the corpus dedup stage at 0.8 —
    * candidates off the `minhash_banded_rl` mirror. Strata for the
    * mixture stage come from the fixture's lang column.
    */
  private def x128OracleSql: String = s"""
WITH RECURSIVE p0 AS (
  SELECT doc_id, lang, text, replace(text, ' ', '') AS s0
  FROM documents WHERE doc_id < 120),
f0 AS (
  SELECT doc_id, lang, text, substring(s0, 1, 100) AS s1
  FROM p0 WHERE regexp_matches(s0, '^[a-z]+$$') AND length(s0) >= 100),
th AS (
  SELECT doc_id, lang, text, array_to_string(list_transform(
    generate_series(1, length(s1)), i -> chr(unicode(s1[i:i]) + 3488)), '') AS t
  FROM f0),
u AS (
  SELECT doc_id, lang, text FROM th
  UNION ALL
  SELECT doc_id + 100000, lang, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 101, 60) FROM th
  UNION ALL
  SELECT doc_id + 200000, lang, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 161, 60) FROM th
  UNION ALL
  SELECT doc_id + 300000, lang, t FROM th),
bench AS (
  SELECT doc_id + 400000 AS doc_id,
    substring(text, 1, 80) || ' ' || substring(t, 1, 60) AS text
  FROM th),
$runCharSpanCtes,
rdup AS (SELECT doc_id, SUM(span_tokens) AS run_cut FROM cspans GROUP BY doc_id),
${runCleanWordSpanCtes("cr2")},
wpos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
         FROM wt WHERE len(toks) >= 1),
wkept AS (SELECT wpos.doc_id, wpos.i, wpos.toks[wpos.i] AS tok
          FROM wpos LEFT JOIN wspans ON wpos.doc_id = wspans.doc_id
            AND wpos.i BETWEEN wspans.span_start AND wspans.span_end
          WHERE wspans.doc_id IS NULL),
wagg AS (SELECT doc_id, COALESCE(string_agg(tok, ' ' ORDER BY i), '') AS clean
         FROM wkept GROUP BY doc_id),
wdup AS (SELECT doc_id, SUM(span_tokens) AS dup FROM wspans GROUP BY doc_id),
stage0 AS MATERIALIZED (
  SELECT cls.doc_id,
    CAST(length(cls.text) AS BIGINT) AS n_tokens,
    CAST(COALESCE(rd.run_cut, 0) AS BIGINT) AS sub_dup_tokens,
    CAST(COALESCE(rd.run_cut, 0) AS BIGINT) AS run_dup_chars,
    cc.clean AS clean_text
  FROM cls
  JOIN cclean cc ON cls.doc_id = cc.doc_id AND cc.run_idx = 0
  LEFT JOIN rdup rd ON cls.doc_id = rd.doc_id
  WHERE cls.sp
  UNION ALL
  SELECT s.doc_id,
    CAST(len(wt.toks) AS BIGINT) AS n_tokens,
    CAST(COALESCE(wd.dup, 0) AS BIGINT) AS sub_dup_tokens,
    CAST(COALESCE(rd.run_cut, 0) AS BIGINT) AS run_dup_chars,
    COALESCE(wa.clean, '') AS clean_text
  FROM spliced s
  JOIN wt ON s.doc_id = wt.doc_id
  LEFT JOIN wdup wd ON s.doc_id = wd.doc_id
  LEFT JOIN wagg wa ON s.doc_id = wa.doc_id
  LEFT JOIN rdup rd ON s.doc_id = rd.doc_id),
corpus AS (SELECT doc_id, clean_text AS text FROM stage0),
alltext AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM bench),
rl0 AS (
  SELECT doc_id, text AS x,
    ${words()} AS toks,
    length(text) AS ls,
    length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS nasc,
    regexp_replace(text, '[^\\x00-\\x7F]{16,}', ' ', 'g') AS rem,
    regexp_extract_all(text, '[^\\x00-\\x7F]{16,}') AS runs
  FROM alltext),
rl1 AS (
  SELECT doc_id, x, toks, ls, runs,
    (2 * nasc >= ls AND (len(toks) < 3 OR ls >= 16 * len(toks))) AS sp,
    ${words(of = "rem")} AS rtoks
  FROM rl0),
rlsets AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN sp THEN
      list_distinct(list_transform(range(1, ls - 3), i -> substring(x, i, 5)))
    ELSE
      list_distinct(list_concat(
        list_transform(range(1, len(rtoks) - 1),
          i -> array_to_string(rtoks[i:i+2], ' ')),
        flatten(list_transform(runs,
          r -> list_transform(range(1, length(r) - 3),
            i -> substring(r, i, 5))))))
    END AS ss
  FROM rl1),
shr AS (SELECT doc_id, unnest(ss) AS s FROM rlsets),
szall AS (SELECT doc_id, len(ss) AS sz FROM rlsets),
${curationStagesSql(s"$oracleIdxRoot/minhash_banded_rl/*.parquet",
  text = "corpus", pairText = "alltext", runLevel = true,
  stage0Cols = Seq("n_tokens", "sub_dup_tokens", "run_dup_chars"))}
""".trim

  val oracleSql: Map[String, String] = Map(
    // -- index-backed extras, oracle-checked against the MIRRORED
    // persisted artifacts (VERDICT r5 item 3): the signature/centroid
    // GENERATION is engine-specific (xxhash64), but everything
    // downstream of the persisted parquet — bucket self-join, exact
    // Jaccard verify, winner/cluster algebra, centroid probe — is plain
    // SQL DuckDB runs on the same files --
    "X07_minhash_dedup" -> bandedWinnersSql,
    "X15_minhash_from_sigs" -> bandedWinnersSql,
    "X38_minhash_from_banded" -> bandedWinnersSql,
    // sign-LSH ANN probe over the mirrored bucket-partitioned index:
    // probe bucket = vec 0's own partition, candidates = partitions
    // within Hamming radius 2, exact rescore, k=6 then self-exclusion
    // to 5 (X14's contract)
    "X09_ann_top5" -> {
      val vecs = s"$oracleIdxRoot/annlsh/vectors/*/*.parquet"
      s"""
WITH v AS (SELECT vec_id, embedding, CAST(bucket AS BIGINT) AS bucket
           FROM read_parquet('$vecs', hive_partitioning = true)),
probe AS (SELECT embedding AS pe, bucket AS pb FROM v WHERE vec_id = 0),
topk AS (SELECT v.vec_id,
                ROUND(list_inner_product(v.embedding::DOUBLE[], p.pe::DOUBLE[]), 6) AS cos
         FROM v, probe p
         WHERE bit_count(xor(v.bucket, p.pb)) <= 2
         ORDER BY cos DESC, vec_id LIMIT 6)
SELECT vec_id, cos FROM topk WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 5""".trim
    },
    // learned-quality SCORING from the mirrored weight + feature
    // parquet: σ(Σ v·w) per doc, 6-dp round, top-20 — fixed scalar SQL
    // downstream of the persisted artifacts (training itself stays
    // engine-specific and is spec-pinned)
    "X65_quality_classifier" -> s"""
WITH w AS (SELECT f, weight FROM read_parquet('$oracleIdxRoot/lr/weights/*.parquet')),
x AS (SELECT doc_id, f, v FROM read_parquet('$oracleIdxRoot/lr/feats/*.parquet')),
m AS (SELECT doc_id, SUM(v * weight) AS mg FROM x JOIN w USING (f) GROUP BY doc_id)
SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-mg)), 6) AS p_target
FROM m ORDER BY p_target DESC, doc_id LIMIT 20""".trim,
    "X16_dup_clusters" -> bandedClustersSql,
    "X29_dup_clusters_stars" -> bandedClustersSql,
    "X84_dedup_report" -> s"""
WITH RECURSIVE $bandedVerifiedCtes,
${closureCtes("verified")},
cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
per AS (
  SELECT cluster_id, COUNT(*) AS cluster_size,
         SUM(d.n_chars) - arg_min(d.n_chars, d.doc_id) AS chars_lost
  FROM cl JOIN documents d USING (doc_id) GROUP BY cluster_id),
bstats AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN n > 4096 THEN n END), 0) AS BIGINT) AS capped_member_rows,
         CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_member_rows
  FROM (SELECT COUNT(*) AS n
        FROM read_parquet('$oracleIdxRoot/minhash_banded/*.parquet')
        GROUP BY band, bucket))
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_removed,
  CAST(SUM(chars_lost) AS BIGINT) AS chars_removed,
  s.capped_member_rows, s.total_member_rows,
  ROUND(CAST(s.capped_member_rows AS DOUBLE) /
        GREATEST(s.total_member_rows, 1), 6) AS capped_member_frac
FROM per CROSS JOIN bstats s
GROUP BY cluster_size, s.capped_member_rows, s.total_member_rows
ORDER BY cluster_size
""".trim,
    // simhash from the mirrored token-hash parquet: per-bit ±1 majority
    // vote, sign vector packed into one BIGINT (bit 63 via the
    // Long.MinValue literal — DuckDB's 1<<63 promotes to INT128);
    // disjoint bit values make SUM equal the bitwise OR exactly
    "X08_simhash" -> {
      val f = s"$oracleIdxRoot/simhash_tok/*.parquet"
      s"""
WITH th AS (SELECT doc_id, h FROM read_parquet('$f')),
bits AS (
  SELECT doc_id, g.i,
         SUM(CASE WHEN ((h >> g.i) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
  GROUP BY doc_id, g.i)
SELECT doc_id,
  CAST(SUM(CASE WHEN s >= 0 THEN
    CASE WHEN i = 63 THEN (-9223372036854775807::BIGINT - 1)
         ELSE (1::BIGINT << CAST(i AS INTEGER)) END
    ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id""".trim
    },
    // winnowing pairs from the mirrored fingerprint parquet: df stop
    // filter (<= 50 docs), fingerprint equi self-join, exact set
    // Jaccard >= 0.5 — integer-only arithmetic
    "X17_winnow_pairs" -> {
      val f = s"$oracleIdxRoot/winnow/*.parquet"
      s"""
WITH fp0 AS (SELECT doc_id, f FROM read_parquet('$f')),
rare AS (SELECT f FROM fp0 GROUP BY f HAVING COUNT(*) <= 50),
fp AS (SELECT doc_id, f FROM fp0 WHERE f IN (SELECT f FROM rare)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
          FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
$jaccardRowsSql""".trim
    },
    // cross-corpus near-dup decontamination from the same mirrored
    // banded index: corpus-side vs src0-side candidates on
    // (band, bucket), exact 3-gram shingle Jaccard >= 0.5
    "X46_neardup_decontaminate" -> {
      val b = s"$oracleIdxRoot/minhash_banded/*.parquet"
      s"""
WITH ${bandCandCte("cand", b,
  """WHERE a.id IN (SELECT doc_id FROM documents WHERE source <> 'src0')
    AND b.id IN (SELECT doc_id FROM documents WHERE source = 'src0')""")},
$candShingleOverlapCtes
$jaccardRowsSql""".trim
    },
    "X11_ivf_top5" -> ivfInlineSql,
    "X14_ivf_index_probe" -> ivfProbeSql(k = 6, keep = 5),
    "X60_kmeans_clusters" -> s"""
WITH $kmeansAssignedCte
SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(sc), 6) AS avg_cos,
       ROUND(MIN(sc), 6) AS min_cos,
       ROUND(MAX(sc), 6) AS max_cos
FROM assigned GROUP BY list_id ORDER BY list_id
""".trim,
    "X61_semantic_dedup" -> s"""
WITH $kmeansAssignedCte,
hits AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS dp
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4),
k AS (SELECT j, MIN(i) AS kept_by FROM hits GROUP BY j)
SELECT k.j AS vec_id, k.kept_by, ROUND(h.dp, 6) AS cos
FROM k JOIN hits h ON h.j = k.j AND h.i = k.kept_by
ORDER BY vec_id
""".trim,
    "X82_diversity_sample" -> s"""
WITH $kmeansAssignedCte
SELECT vec_id, list_id FROM (
  SELECT vec_id, list_id, row_number() OVER (PARTITION BY list_id
    ORDER BY ${coin("vec_id")}, vec_id) AS rk
  FROM assigned) t
WHERE rk <= 10 ORDER BY list_id, vec_id
""".trim,
    "X85_semantic_outliers" -> s"""
WITH $kmeansAssignedCte
SELECT vec_id, list_id, ROUND(sc, 6) AS cos
FROM assigned WHERE sc < 0.3 ORDER BY vec_id
""".trim,
    "X62_importance_weights" -> s"""
WITH rw AS (SELECT doc_id, unnest(${words("x")}) AS w
            FROM documents WHERE source <> 'src0'),
tw AS (SELECT doc_id, unnest(${words("x")}) AS w
       FROM documents WHERE source = 'src0'),
cr AS (SELECT w, COUNT(*) AS cr FROM rw GROUP BY w),
ct AS (SELECT w, COUNT(*) AS ct FROM tw GROUP BY w),
vocab AS (SELECT COALESCE(cr.w, ct.w) AS w,
                 COALESCE(cr.cr, 0) AS cr, COALESCE(ct.ct, 0) AS ct
          FROM cr FULL OUTER JOIN ct ON cr.w = ct.w),
tot AS (SELECT COUNT(*) AS v, SUM(cr) AS r, SUM(ct) AS t FROM vocab),
lr AS (SELECT w,
              ln(CAST(ct + 1 AS DOUBLE) / (t + v)) - ln(CAST(cr + 1 AS DOUBLE) / (r + v)) AS lr
       FROM vocab CROSS JOIN tot)
SELECT rw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(lr.lr), 6) AS dsir_weight
FROM rw JOIN lr ON rw.w = lr.w
GROUP BY rw.doc_id ORDER BY rw.doc_id
""".trim,
    "X63_bm25_topk" -> graft.text.Bm25.topKSql(bm25QueryTerms, k = 20),
    "X66_bm25_join" -> s"""
WITH $bm25Ctes,
q AS (SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest(toks[1:5]) AS term FROM t WHERE doc_id < 3) z),
$bm25ScoredCte,
rk AS (SELECT query_id, doc_id, score,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
       FROM scored)
SELECT query_id, doc_id, score FROM rk WHERE r <= 5
ORDER BY query_id, score DESC, doc_id
""".trim,
    "X76_hard_negatives" -> {
      s"""
WITH $bm25Ctes,
q AS (SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest(toks) AS term FROM t WHERE doc_id < 3) z),
${bandCandCte("cand", s"$oracleIdxRoot/minhash_banded/*.parquet", "WHERE b.id < 3")},
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
${shingleSetCte("sh", 3, "t", aligned = true,
  and = " AND doc_id IN (SELECT doc_id FROM cids)")},
${shingleOverlapCtes("cand", "sh")},
${jaccardPairsCte("nd", "inter", "sz", 0.5)},
$bm25ScoredCte,
kept AS (
  SELECT s.query_id, s.doc_id, s.score FROM scored s
  WHERE s.doc_id <> s.query_id
    AND NOT EXISTS (SELECT 1 FROM nd
                    WHERE nd.j = s.query_id AND nd.i = s.doc_id)),
rk AS (SELECT query_id, doc_id, score,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
       FROM kept)
SELECT query_id, doc_id, score FROM rk WHERE r <= 5
ORDER BY query_id, score DESC, doc_id""".trim
    },
    "X64_weighted_sample" -> s"""
WITH t AS (SELECT doc_id, len(${words("x")}) AS n_tokens
           FROM documents)
SELECT doc_id, n_tokens,
       ROUND(ln((('0x' || ${coin("doc_id")})::UBIGINT + 0.5)
                / 4294967296.0)
             / CAST(n_tokens AS DOUBLE), 6) AS es_key
FROM t ORDER BY es_key DESC, doc_id LIMIT 50
""".trim,
    "X67_dup_ngram_coverage" -> s"""
WITH t AS (SELECT doc_id, ${words("x")} AS toks FROM documents),
${shinglePosCte("t")},
shared AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, pos FROM sh JOIN shared USING (s)),
sp AS (SELECT doc_id, COUNT(*) AS shared_pos FROM hits GROUP BY doc_id),
cov AS (SELECT doc_id, COUNT(DISTINCT p) AS covered FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS p FROM hits) z
        GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(sp.shared_pos, 0) AS BIGINT) AS shared_pos,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       ROUND(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / CAST(len(t.toks) AS DOUBLE), 6) AS dup_frac
FROM t LEFT JOIN sp ON t.doc_id = sp.doc_id LEFT JOIN cov ON t.doc_id = cov.doc_id
ORDER BY t.doc_id
""".trim,
    "X68_remove_shared_spans" -> s"""
WITH t AS (SELECT doc_id, text, ${words("x")} AS toks FROM documents),
${shinglePosCte("t")},
shared AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, pos FROM sh JOIN shared USING (s)),
${hitCutSql("t")}
""".trim,
    "X70_bigram_logprob" -> s"""
WITH $bigramLmCtes
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(log10(CAST(m.c12 + 1 AS DOUBLE) / CAST(cx.c1 + v.v AS DOUBLE))), 6) AS mean_logp
FROM bg JOIN m USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
GROUP BY bg.doc_id ORDER BY bg.doc_id
""".trim,
    "X81_perplexity_buckets" -> s"""
WITH $bigramLmCtes,
s AS (SELECT bg.doc_id,
        ROUND(AVG(log10(CAST(m.c12 + 1 AS DOUBLE) / CAST(cx.c1 + v.v AS DOUBLE))), 6) AS mean_logp
      FROM bg JOIN m USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
      GROUP BY bg.doc_id),
r AS (SELECT doc_id, mean_logp,
        ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS rank FROM s),
n AS (SELECT COUNT(*) AS n FROM s)
SELECT r.doc_id, r.mean_logp, r.rank,
  CAST(FLOOR(CAST((r.rank - 1) * 3 AS DOUBLE) / n.n) AS BIGINT) AS bucket
FROM r, n ORDER BY r.rank
""".trim,
    "X71_pii_redact" -> {
      // generated from the SAME PiiPatterns constant the engine uses
      // (and the same email→url→phone→ipv4 order), so the two sides
      // cannot drift; the patterns are both-engine-valid by the X31
      // contract and contain no SQL-quoting metacharacters
      val byName = TextAnalysis.PiiPatterns.toMap
      val redacted = Seq("email", "url", "phone", "ipv4").foldLeft("text") {
        case (acc, name) =>
          val tag = s"[${name.toUpperCase(java.util.Locale.ROOT)}]"
          s"regexp_replace($acc, '${byName(name)}', '$tag', 'g')"
      }
      s"SELECT doc_id, $redacted AS text FROM documents ORDER BY doc_id"
    },
    "X72_scrub_benchmark" -> s"""
WITH c AS (SELECT doc_id, text, ${words("x")} AS toks
           FROM documents WHERE source <> 'src0'),
b AS (SELECT ${words("x")} AS toks
      FROM documents WHERE source = 'src0'),
bs AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS s
       FROM (SELECT toks, unnest(generate_series(1, len(toks) - 4)) AS i
             FROM b WHERE len(toks) >= 5) u),
${shinglePosCte("c")},
hits AS (SELECT doc_id, pos FROM sh JOIN bs USING (s)),
${hitCutSql("c")}
""".trim,
    "X01_token_stats" -> s"""
WITH t AS (SELECT lang, len(${words()}) AS tok FROM documents)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
       ROUND(AVG(tok), 4) AS avg_tokens
FROM t GROUP BY lang ORDER BY lang
""".trim,
    "X02_quality" -> s"""
WITH t AS (SELECT doc_id, n_chars, ${words()} AS toks FROM documents)
SELECT doc_id, n_chars, len(toks) AS n_tokens,
       ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS uniq_ratio,
       ROUND(CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks), 4) AS avg_tok_len
FROM t ORDER BY doc_id LIMIT 200
""".trim,
    "X41_funnel" -> """
WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
       WHERE e.event_type = 'click' GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT stage, n_users FROM (
  SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
  UNION ALL SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM s3) f
ORDER BY stage
""".trim,
    "X42_retention" -> """
WITH a AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events)
SELECT a.h, CAST(COUNT(*) AS BIGINT) AS active, CAST(COUNT(b.user_id) AS BIGINT) AS retained
FROM a LEFT JOIN a b ON b.user_id = a.user_id AND b.h = a.h + INTERVAL 1 HOUR
GROUP BY a.h ORDER BY a.h
""".trim,
    "X43_time_to_convert" -> """
WITH f AS (SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t1, MIN(f.t0) AS t0 FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= f.t0 GROUP BY e.user_id),
m AS (SELECT date_diff('second', t0, t1) / 60.0 AS m FROM c)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
  ROUND(MIN(m), 4) AS min_minutes,
  ROUND(quantile_cont(m, 0.5), 4) AS p50_minutes,
  ROUND(quantile_cont(m, 0.9), 4) AS p90_minutes,
  ROUND(MAX(m), 4) AS max_minutes
FROM m
""".trim,
    "X39_repetition" -> s"""
WITH $wordCountCtes,
bg AS (SELECT doc_id, unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bg FROM wl),
bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb, COUNT(*) AS nbu FROM bc GROUP BY doc_id)
SELECT wa.doc_id, wa.n_words,
  ROUND((wa.n_words - wa.n_uniq) / CAST(wa.n_words AS DOUBLE), 6) AS dup_word_frac,
  ROUND(wa.top / CAST(wa.n_words AS DOUBLE), 6) AS top_word_frac,
  ROUND(COALESCE((ba.nb - ba.nbu) / CAST(ba.nb AS DOUBLE), 0.0), 6) AS dup_bigram_frac
FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id ORDER BY wa.doc_id
""".trim,
    "X44_filter_verdicts" -> s"""
WITH $wordCountCtes,
v AS (SELECT doc_id,
  (n_words >= 10 AND n_words <= 100000) AS ok_len,
  (ROUND((n_words - n_uniq) / CAST(n_words AS DOUBLE), 6) <= 0.9) AS ok_dup,
  (ROUND(top / CAST(n_words AS DOUBLE), 6) <= 0.3) AS ok_top
FROM wa)
SELECT doc_id, ok_len, ok_dup, ok_top, (ok_len AND ok_dup AND ok_top) AS keep
FROM v ORDER BY doc_id
""".trim,
    "X45_unigram_logprob" -> s"""
WITH $unigramCtes
SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(AVG(log10(m.c / t.total)), 6) AS mean_logp
FROM w JOIN m USING (w) CROSS JOIN t
GROUP BY w.doc_id ORDER BY w.doc_id
""".trim,
    "X40_segment_dedup" -> """
WITH s AS (
  SELECT doc_id, unnest(str_split(text, chr(10))) AS seg,
         generate_subscripts(str_split(text, chr(10)), 1) AS idx
  FROM documents
), r AS (
  SELECT doc_id, idx, seg,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
  FROM s
)
SELECT doc_id, COUNT(*) AS n_kept, string_agg(seg, chr(10) ORDER BY idx) AS text_deduped
FROM r WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id
""".trim,
    "X03_langid" -> s"""
WITH t AS (SELECT lang, ${words()} AS toks FROM documents),
c AS (SELECT lang,
  len(list_filter(toks, w -> w IN ('order','group','window'))) AS c_de,
  len(list_filter(toks, w -> w IN ('the','a','fast'))) AS c_en,
  len(list_filter(toks, w -> w IN ('data','table','row'))) AS c_es,
  len(list_filter(toks, w -> w IN ('query','join','merge'))) AS c_fr,
  len(list_filter(toks, w -> w IN ('hash','scan','sort'))) AS c_zh
FROM t),
p AS (SELECT lang, CASE WHEN c_de = m THEN 'de' WHEN c_en = m THEN 'en' WHEN c_es = m THEN 'es'
                        WHEN c_fr = m THEN 'fr' ELSE 'zh' END AS pred_lang
      FROM (SELECT *, greatest(c_de, c_en, c_es, c_fr, c_zh) AS m FROM c) x)
SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang
""".trim,
    "X04_fingerprint_dedup" -> """
SELECT keep_id, n FROM (
  SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n FROM documents GROUP BY md5(text)) x
WHERE n > 1 ORDER BY keep_id
""".trim,
    "X05_ngram_jaccard" -> s"""
WITH $rareShingleOverlapCtes
SELECT i, j, ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
FROM inter JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.6
ORDER BY i, j
""".trim,
    "X06_embed_neardup" -> embedNearDupSql,
    // X12's threshold-0.4 call sits in the non-pruning sign-LSH regime,
    // so the cost router takes the exact all-pairs scan — the result is
    // deterministically X06's, and the shared oracle pins the ROUTER's
    // decision too: if a geometry change ever sent X12 back down the
    // probabilistic banded path, this hash check would fail loudly
    "X12_embed_neardup_lsh" -> embedNearDupSql,
    "X30_decontaminate" -> s"""
WITH t AS (SELECT doc_id, source, ${words()} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, source, s FROM (
  SELECT doc_id, source, unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM t WHERE len(toks) >= 5) u),
bs AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
cs AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cs GROUP BY doc_id),
hit AS (SELECT doc_id, COUNT(*) AS n_overlap FROM cs JOIN bs USING (s) GROUP BY doc_id)
SELECT tot.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
  CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
  ROUND(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_shingles, 6) AS overlap_frac
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id ORDER BY tot.doc_id
""".trim,
    "X31_pii_stats" -> """
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_email,
  CAST(SUM(len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%?=&#-]+'))) AS BIGINT) AS n_url,
  CAST(SUM(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}'))) AS BIGINT) AS n_ipv4,
  CAST(SUM(len(regexp_extract_all(text, '\+[0-9][0-9()\-. ]{7,}[0-9]'))) AS BIGINT) AS n_phone
FROM documents GROUP BY source ORDER BY source
""".trim,
    // X28 shares the exact-pairs oracle: within a shared LSH bucket the
    // int8 bound admits every true pair (provable superset + exact
    // re-score), and the 4x80 banding catches every qualifying pair on
    // the test corpora (expected misses ~1e-3, verified at all 3 SFs;
    // seed-fixed, so the equality is reproducible, not flaky)
    "X28_quantized_neardup" -> embedNearDupSql,
    "X18_packing" -> s"""
WITH t AS (SELECT doc_id, CAST(len(${words()}) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
SELECT doc_id, n_tokens, CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 4096) AS BIGINT) AS bin
FROM c ORDER BY doc_id
""".trim,
    "X20_asof_native" -> Contract.byId("J10").duckSql,
    "X21_normalize" -> """
SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '  *', ' ', 'g')) AS norm
FROM documents ORDER BY doc_id
""".trim,
    "X22_pivot" -> """
SELECT o_orderpriority,
  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""".trim,
    "X23_unpivot" -> """
SELECT p_partkey, attr, val FROM (
  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part) u
ORDER BY p_partkey, attr
""".trim,
    "X19_profile" -> Seq("doc_id", "lang", "n_chars", "source", "text").map(c =>
      s"""SELECT '$c' AS "column", COUNT($c) AS n_nonnull,
         | COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
         | CAST(MIN($c) AS VARCHAR) AS mn, CAST(MAX($c) AS VARCHAR) AS mx
         | FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),
    "X24_bpe_token_stats" -> raw"""
WITH t AS (SELECT lang,
  CAST(len(${words()}) AS BIGINT) AS ws,
  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS bpe
FROM documents)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens, ROUND(AVG(bpe), 4) AS avg_bpe_tokens
FROM t GROUP BY lang ORDER BY lang
""".trim,
    // quality-aware winners: the X16 recursive-closure clusters joined
    // with the distinct-token mass, same (n_uniq DESC, doc_id) window
    "X78_quality_winners" -> s"""WITH RECURSIVE $bandedVerifiedCtes,
${closureCtes("verified")},
clus AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
qual AS (SELECT doc_id,
  CAST(len(list_distinct(${words()})) AS BIGINT) AS n_uniq
  FROM documents),
m AS (SELECT clus.cluster_id, clus.doc_id, qual.n_uniq FROM clus JOIN qual USING (doc_id)),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_uniq DESC, doc_id) AS rk FROM m),
n AS (SELECT cluster_id, COUNT(*) AS n_members FROM m GROUP BY cluster_id)
SELECT r.cluster_id, r.doc_id AS keep_id, r.n_uniq, n.n_members
FROM r JOIN n USING (cluster_id) WHERE rk = 1 ORDER BY r.cluster_id""".trim,
    "X80_budget_cut" -> s"""
WITH t AS (SELECT doc_id,
  len(${words()}) AS n_tokens
  FROM documents),
o AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, row_number() OVER (
    ORDER BY ${coin("doc_id")}, doc_id) AS shuffle_pos
  FROM t),
c AS (SELECT *, SUM(n_tokens) OVER (ORDER BY shuffle_pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens FROM o)
SELECT doc_id, shuffle_pos, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens - n_tokens < 5000 ORDER BY shuffle_pos
""".trim,
    "X79_epoch_plan" -> s"""
WITH t AS (SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(${words()})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source HAVING n_tokens > 0),
z AS (SELECT SUM(POW(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM t)
SELECT source, n_docs, n_tokens,
  ROUND(POW(CAST(n_tokens AS DOUBLE), 0.5) / z, 6) AS weight,
  ROUND(CAST(1000000000 AS DOUBLE) * POW(CAST(n_tokens AS DOUBLE), 0.5) / z / CAST(n_tokens AS DOUBLE), 4) AS epochs
FROM t, z ORDER BY source
""".trim,
    "X69_compression_ratio" -> s"""
SELECT doc_id, raw_bytes, deflate_bytes,
  ROUND(CAST(deflate_bytes AS DOUBLE) / GREATEST(raw_bytes, 1), 6) AS compression_ratio
FROM read_parquet('$oracleIdxRoot/deflate/*.parquet') ORDER BY doc_id
""".trim,
    "X59_bpe_token_freq" -> s"""
SELECT token, COUNT(*) AS freq
FROM read_parquet('$oracleIdxRoot/bpe_encoded/*.parquet')
GROUP BY token ORDER BY freq DESC, token LIMIT 20
""".trim,
    "X83_tokenizer_fertility" -> s"""
WITH toks AS (
  SELECT doc_id, COUNT(*) AS n_tokens
  FROM read_parquet('$oracleIdxRoot/bpe_encoded/*.parquet') GROUP BY doc_id),
w AS (
  SELECT doc_id, lang, n_chars,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_words
  FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(n_words) AS BIGINT) AS total_words,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words), 6) AS tokens_per_word,
  ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 6) AS chars_per_token
FROM w JOIN toks USING (doc_id)
GROUP BY lang ORDER BY lang
""".trim,
    // media/audio/clip stats read the SAME mirrored feature parquet the
    // Spark queries just produced — decode is generation, these are the
    // portable exact-integer downstreams (micro-unit BIGINT features)
    "X10_media_features" -> s"""
SELECT kind, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
  MIN(width) AS min_w, MAX(width) AS max_w, MIN(height) AS min_h, MAX(height) AS max_h,
  ROUND(CAST(SUM(f_micro[1]) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_f0
FROM read_parquet('$oracleIdxRoot/media/feat/*.parquet')
GROUP BY kind ORDER BY kind
""".trim,
    "X25_media_resize" -> s"""
SELECT a.doc_id, a.kind AS src_kind, b.width, b.height,
  ROUND(CAST(b.f_micro[1] - a.f_micro[1] AS DOUBLE) / 1e6, 6) AS f0_shift
FROM read_parquet('$oracleIdxRoot/media/feat/*.parquet') a
JOIN read_parquet('$oracleIdxRoot/media/resized/*.parquet') b USING (doc_id)
ORDER BY a.doc_id
""".trim,
    "X26_audio_features" -> s"""
SELECT sample_rate, n_samples, COUNT(*) AS n_docs,
  CAST(MAX(duration_ms) AS BIGINT) AS duration_ms,
  ROUND(CAST(SUM(rms_micro) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_rms,
  CAST(SUM(zero_crossings) AS BIGINT) AS total_zc
FROM read_parquet('$oracleIdxRoot/audio_feat/*.parquet')
GROUP BY sample_rate, n_samples ORDER BY sample_rate, n_samples
""".trim,
    "X27_clip_frames" -> s"""
SELECT doc_id, MAX(n_frames) AS n_frames, COUNT(*) AS n_sampled,
  MIN(width) AS w, MIN(height) AS h,
  ROUND(CAST(SUM(f0_micro) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_f0
FROM read_parquet('$oracleIdxRoot/clip_frames/*.parquet')
GROUP BY doc_id ORDER BY doc_id
""".trim,
    "X77_split_leakage" -> {
      s"""
WITH $bandedVerifiedCtes,
sp AS (SELECT doc_id, ${splitCase("doc_id", "    ")} AS split
  FROM documents)
SELECT v.i, v.j, v.jac, si.split AS split_i, sj.split AS split_j
FROM verified v
JOIN sp si ON v.i = si.doc_id JOIN sp sj ON v.j = sj.doc_id
WHERE si.split <> sj.split
ORDER BY i, j""".trim
    },
    "X32_hash_split" -> s"""
WITH t AS (SELECT ${splitCase("doc_id", "    ")} AS split, n_chars
  FROM documents)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM t GROUP BY split ORDER BY split
""".trim,
    "X33_stratified_sample" -> s"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.5)}')
   OR (lang = 'fr' AND substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.25)}')
   OR (lang = 'de' AND substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.125)}')
ORDER BY doc_id
""".trim,
    "X47_shuffle_order" -> s"""
SELECT doc_id, row_number() OVER (
  ORDER BY ${coin("doc_id")}, doc_id) AS shuffle_pos
FROM documents ORDER BY shuffle_pos
""".trim,
    "X48_mixture_resample" -> s"""
WITH tgt(lang, t) AS (VALUES
  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.4 AS DOUBLE)), ('es', CAST(0.15 AS DOUBLE)),
  ('fr', CAST(0.15 AS DOUBLE)), ('zh', CAST(0.15 AS DOUBLE))),
counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
j AS (SELECT c.lang, c.n, tgt.t FROM counts c JOIN tgt USING (lang)),
$mixtureSampleSql
""".trim,
    "X74_temperature_mixture" -> s"""
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
j AS (SELECT lang, n, pow(n, 0.5) AS t FROM counts),
$mixtureSampleSql
""".trim,
    "X49_eval_sample" -> s"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (
    PARTITION BY lang
    ORDER BY ${coin("doc_id")}, doc_id) AS rk
  FROM documents) t
WHERE rk <= 25 ORDER BY doc_id
""".trim,
    "X50_chunking" -> s"""
WITH $chunkStartCtes
SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
  CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens,
  array_to_string(words[st+1 : st+64], ' ') AS chunk
FROM s WHERE st = 0 OR st + 16 < n
ORDER BY doc_id, chunk_idx
""".trim,
    "X34_percentiles" -> """
SELECT lang,
  quantile_cont(n_chars, 0.25) AS p25,
  quantile_cont(n_chars, 0.5) AS p50,
  quantile_cont(n_chars, 0.75) AS p75,
  quantile_cont(n_chars, 0.9) AS p90
FROM documents GROUP BY lang ORDER BY lang
""".trim,
    "X35_bloom_semijoin" -> """
SELECT o_orderpriority, COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
FROM orders
WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal > 9000)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""".trim,
    // the same mask-and-shift bit-spread the native expression computes,
    // spelled out in portable SQL (decimal mask literals: DuckDB 1.0
    // parses 0x literals as 0)
    "X36_zorder" -> """
WITH b AS (SELECT p_partkey, p_size, CAST(p_partkey AS BIGINT) AS x, CAST(p_size AS BIGINT) AS y FROM part),
s1 AS (SELECT p_partkey, p_size, (x | (x << 16)) & 281470681808895 AS x, (y | (y << 16)) & 281470681808895 AS y FROM b),
s2 AS (SELECT p_partkey, p_size, (x | (x << 8)) & 71777214294589695 AS x, (y | (y << 8)) & 71777214294589695 AS y FROM s1),
s3 AS (SELECT p_partkey, p_size, (x | (x << 4)) & 1085102592571150095 AS x, (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
s4 AS (SELECT p_partkey, p_size, (x | (x << 2)) & 3689348814741910323 AS x, (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
s5 AS (SELECT p_partkey, p_size, (x | (x << 1)) & 6148914691236517205 AS x, (y | (y << 1)) & 6148914691236517205 AS y FROM s4)
SELECT p_partkey, p_size, x | (y << 1) AS z FROM s5 ORDER BY z, p_partkey LIMIT 200
""".trim,
    "X51_zorder3" -> """
SELECT p_partkey, p_size, CAST(length(p_name) AS BIGINT) AS name_len,
  CAST(
    list_sum(list_transform(range(0, 20), i -> ((CAST(p_partkey AS BIGINT) >> i) & 1) << (3*i))) +
    list_sum(list_transform(range(0, 20), i -> ((CAST(p_size    AS BIGINT) >> i) & 1) << (3*i + 1))) +
    list_sum(list_transform(range(0, 20), i -> ((CAST(length(p_name) AS BIGINT) >> i) & 1) << (3*i + 2)))
  AS BIGINT) AS z3
FROM part ORDER BY z3, p_partkey LIMIT 200
""".trim,
    "X52_knn_join" -> """
WITH s AS (
  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
    ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
r AS (SELECT qid, vec_id, cos,
  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM s)
SELECT qid, vec_id, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5 ORDER BY qid, rk
""".trim,
    "X53_vocab_coverage" -> s"""
WITH toks AS (SELECT unnest(${words()}) AS w FROM documents),
c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w),
t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM c),
r AS (SELECT w, cnt,
  row_number() OVER (ORDER BY cnt DESC, w) AS rk,
  SUM(cnt) OVER (ORDER BY cnt DESC, w ROWS UNBOUNDED PRECEDING) AS run FROM c)
SELECT CAST(rk AS BIGINT) AS rk, w, cnt, ROUND(run / tot, 6) AS coverage
FROM r, t WHERE rk <= 500 ORDER BY rk
""".trim,
    "X54_corpus_diff" -> """
WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 450),
n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
      FROM documents WHERE doc_id >= 50),
j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.doc_id IS NULL THEN 'added'
             WHEN o.text <> n.text THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT doc_id, status FROM j WHERE status <> 'unchanged' ORDER BY doc_id
""".trim,
    "X56_length_batches" -> s"""
WITH $chunkStartCtes,
$chunkCte,
k AS (SELECT *, n_tokens // 16 AS bucket,
        substring(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_idx AS VARCHAR) || ':' || '42'), 1, 8) AS coin
      FROM ch),
r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY coin, doc_id, chunk_idx) AS brn FROM k),
bo AS (SELECT bucket, CAST(ceil(COUNT(*) / CAST(8 AS DOUBLE)) AS BIGINT) AS nb FROM k GROUP BY bucket),
o AS (SELECT bucket, COALESCE(SUM(nb) OVER (ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS boff FROM bo)
SELECT r.doc_id, r.chunk_idx, r.n_tokens,
  CAST(o.boff + (r.brn - 1) // 8 AS BIGINT) AS batch_id
FROM r JOIN o USING (bucket) ORDER BY r.doc_id, r.chunk_idx
""".trim,
    "X73_token_packing" -> s"""
WITH $chunkStartCtes,
$chunkCte,
$packRunCtes
SELECT doc_id, chunk_idx, n_tokens, CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
  CAST((run - n_tokens) // 256 AS BIGINT) AS pack_id,
  CAST((run - n_tokens) - ((run - n_tokens) // 256) * 256 AS BIGINT) AS pack_off
FROM r ORDER BY doc_id, chunk_idx
""".trim,
    "X75_pack_stats" -> s"""
WITH $chunkStartCtes,
$chunkCte,
$packRunCtes
SELECT CAST((run - n_tokens) // 256 AS BIGINT) AS pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(n_tokens) AS BIGINT) AS fill_tokens,
  CAST(greatest(0, 256 - SUM(n_tokens)) AS BIGINT) AS pad_tokens
FROM r GROUP BY 1 ORDER BY pack_id
""".trim,
    // X116/X117: the X73 prefix-sum stream with the straddling chunk
    // SPLIT at the 256-token pack boundary — pieces = the chunk's token
    // span clipped per pack (generate_series over the packs the span
    // touches; a zero-token chunk lands as an empty piece in the pack
    // where it starts), then the per-pack manifest aggregate
    "X116_exact_packing" -> s"""
WITH $chunkStartCtes,
ch AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         words[st+1 : st+64] AS cw,
         CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens
       FROM s WHERE st = 0 OR st + 16 < n),
$packRunCtes,
$packSpanCte,
pieces AS (SELECT p.*, unnest(generate_series(b0, b1)) AS pack_id FROM p)
SELECT doc_id, chunk_idx,
  CAST(pack_id - b0 AS BIGINT) AS piece_idx,
  CAST(pack_id AS BIGINT) AS pack_id,
  CAST(strt + greatest(0, pack_id*256 - strt) - pack_id*256 AS BIGINT) AS pack_off,
  CAST(least(n_tokens, (pack_id+1)*256 - strt)
       - greatest(0, pack_id*256 - strt) AS BIGINT) AS piece_tokens,
  array_to_string(cw[greatest(0, pack_id*256 - strt)+1 :
                     least(n_tokens, (pack_id+1)*256 - strt)], ' ') AS piece
FROM pieces ORDER BY doc_id, chunk_idx, piece_idx
""".trim,
    "X117_pack_manifest" -> s"""
WITH $chunkStartCtes,
$chunkCte,
$packRunCtes,
$packSpanCte,
pieces AS (
  SELECT p.doc_id, p.shuffle_pos, pk.pack_id,
    least(p.n_tokens, (pk.pack_id+1)*256 - p.strt)
      - greatest(0, pk.pack_id*256 - p.strt) AS piece_tokens
  FROM p, LATERAL (SELECT unnest(generate_series(p.b0, p.b1)) AS pack_id) pk)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_pieces,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(SUM(piece_tokens) AS BIGINT) AS n_tokens,
  CAST(MIN(shuffle_pos) AS BIGINT) AS first_pos,
  CAST(MAX(shuffle_pos) AS BIGINT) AS last_pos,
  SUM(piece_tokens) = 256 AS exact
FROM pieces GROUP BY 1 ORDER BY 1
""".trim,
    // X118/X119: exact substring dedup — stride-1 10-token windows, a
    // key seen more than once marks all but its globally-first
    // occurrence, covered positions merge into maximal spans
    // (gaps-and-islands), X119 cuts them and rejoins the survivors
    "X118_substring_dup_spans" -> s"""
WITH ${dupWindowCtes("", "documents")}
$dupSpansSql
""".trim,
    "X119_substring_dedup_clean" -> s"""
WITH ${dupWindowCtes("", "documents")},
${cleanTextCtes("")}
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
  CAST(len(t.words) AS BIGINT) AS n_tokens,
  CAST(COALESCE(dup.dup_tokens, 0) AS BIGINT) AS dup_tokens,
  COALESCE(agg.clean_text, '') AS clean_text
FROM t LEFT JOIN dup ON t.doc_id = dup.doc_id LEFT JOIN agg ON t.doc_id = agg.doc_id
ORDER BY doc_id
""".trim,
    "X55_event_gaps" -> """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
d AS (SELECT user_id,
        us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_us,
  CAST(COALESCE(SUM(CASE WHEN gap > 3600000000 THEN 1 END), 0) AS BIGINT) AS n_long_gaps
FROM d GROUP BY user_id ORDER BY user_id
""".trim,
    "X13_tfidf_top3" -> s"""
WITH toks AS (SELECT doc_id, unnest(${words()}) AS w FROM documents),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (SELECT doc_id, tf.w AS w, tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
      FROM tf JOIN dfq ON tf.w = dfq.w CROSS JOIN n),
r AS (SELECT doc_id, w, tfidf,
      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn FROM s)
SELECT doc_id, rn, w, ROUND(tfidf, 6) AS score FROM r WHERE rn <= 3 ORDER BY doc_id, rn
""".trim,
    "X86_novelty_curve" -> s"""
WITH d AS (SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rn FROM documents),
nd AS (SELECT COUNT(*) AS n FROM documents),
b AS (SELECT CAST(((rn - 1) * 20) // n AS BIGINT) AS bucket, text FROM d, nd),
tk AS (SELECT bucket, unnest(${words()}) AS w FROM b),
fs AS (SELECT w, MIN(bucket) AS bucket FROM tk GROUP BY w),
nt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types FROM fs GROUP BY bucket),
pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(${words()})) AS BIGINT) AS n_tokens
       FROM b GROUP BY bucket)
SELECT pb.bucket, pb.n_docs, pb.n_tokens,
  CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY pb.bucket
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM pb LEFT JOIN nt USING (bucket) ORDER BY bucket
""".trim,
    "X87_split_divergence" -> s"""
WITH sp AS (SELECT ${splitCase("doc_id", "    ")} AS split, text FROM documents),
tk AS (SELECT split, unnest(${words()}) AS w FROM sp),
c AS (SELECT w,
        SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_train,
        SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS c_val,
        SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS c_test
      FROM tk GROUP BY w),
t AS (SELECT SUM(c_train) AS n_train, SUM(c_val) AS n_val,
        SUM(c_test) AS n_test, COUNT(*) AS v FROM c),
p AS (SELECT CAST(c_train + 1 AS DOUBLE) / CAST(n_train + v AS DOUBLE) AS p_train,
        CAST(c_val + 1 AS DOUBLE) / CAST(n_val + v AS DOUBLE) AS p_val,
        CAST(c_test + 1 AS DOUBLE) / CAST(n_test + v AS DOUBLE) AS p_test
      FROM c, t),
one AS (SELECT
  ROUND(SUM(p_train * ln(p_train / p_val)), 6) AS kl_train_val,
  ROUND(SUM(ABS(p_train - p_val)) / 2, 6) AS tv_train_val,
  ROUND(SUM(p_train * ln(p_train / p_test)), 6) AS kl_train_test,
  ROUND(SUM(ABS(p_train - p_test)) / 2, 6) AS tv_train_test,
  ROUND(SUM(p_val * ln(p_val / p_train)), 6) AS kl_val_train,
  ROUND(SUM(ABS(p_val - p_train)) / 2, 6) AS tv_val_train,
  ROUND(SUM(p_val * ln(p_val / p_test)), 6) AS kl_val_test,
  ROUND(SUM(ABS(p_val - p_test)) / 2, 6) AS tv_val_test,
  ROUND(SUM(p_test * ln(p_test / p_train)), 6) AS kl_test_train,
  ROUND(SUM(ABS(p_test - p_train)) / 2, 6) AS tv_test_train,
  ROUND(SUM(p_test * ln(p_test / p_val)), 6) AS kl_test_val,
  ROUND(SUM(ABS(p_test - p_val)) / 2, 6) AS tv_test_val
  FROM p)
SELECT split_a, split_b, kl, tv FROM (
  SELECT 'train' AS split_a, 'val' AS split_b, kl_train_val AS kl, tv_train_val AS tv FROM one
  UNION ALL SELECT 'train', 'test', kl_train_test, tv_train_test FROM one
  UNION ALL SELECT 'val', 'train', kl_val_train, tv_val_train FROM one
  UNION ALL SELECT 'val', 'test', kl_val_test, tv_val_test FROM one
  UNION ALL SELECT 'test', 'train', kl_test_train, tv_test_train FROM one
  UNION ALL SELECT 'test', 'val', kl_test_val, tv_test_val FROM one)
ORDER BY split_a, split_b
""".trim,
    "X88_semantic_leakage" -> s"""
WITH sp AS (SELECT vec_id, embedding,
    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}'
      THEN 'train' ELSE 'eval' END AS split FROM embeddings),
s AS (SELECT a.vec_id AS eval_id, b.vec_id AS train_id,
    ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
  FROM sp a, sp b WHERE a.split = 'eval' AND b.split = 'train'),
r AS (SELECT eval_id, train_id, cos,
    row_number() OVER (PARTITION BY eval_id ORDER BY cos DESC, train_id) AS rk FROM s)
SELECT eval_id, train_id, cos, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 1 AND cos >= 0.35 ORDER BY eval_id, rk
""".trim,
    "X89_zipf_fit" -> s"""
WITH toks AS (SELECT unnest(${words()}) AS w FROM documents),
c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM c),
xy AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
       FROM r WHERE rk <= 500)
SELECT CAST(COUNT(*) AS BIGINT) AS top_v,
  ROUND(regr_slope(y, x), 6) AS slope,
  ROUND(regr_intercept(y, x), 6) AS intercept,
  ROUND(regr_r2(y, x), 6) AS r2
FROM xy
""".trim,
    "X92_source_lm_matrix" -> s"""
WITH t AS (SELECT doc_id, source, ${words("x")} AS toks FROM documents),
bg AS (SELECT doc_id, source, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT source AS model_source, w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2, 3),
cx AS (SELECT model_source, w1, SUM(c12) AS c1 FROM m GROUP BY 1, 2),
v AS (SELECT source AS model_source, COUNT(DISTINCT w) AS v
      FROM (SELECT source, unnest(toks) AS w FROM t) z GROUP BY 1),
pd AS (SELECT bg.doc_id, bg.source, v.model_source,
         AVG(log10(CAST(COALESCE(m.c12, 0) + 1 AS DOUBLE) /
                   CAST(COALESCE(cx.c1, 0) + v.v AS DOUBLE))) AS logp
       FROM bg CROSS JOIN v
       LEFT JOIN m ON v.model_source = m.model_source AND bg.w1 = m.w1 AND bg.w2 = m.w2
       LEFT JOIN cx ON v.model_source = cx.model_source AND bg.w1 = cx.w1
       GROUP BY 1, 2, 3)
SELECT source AS scored_source, model_source,
  CAST(COUNT(*) AS BIGINT) AS n_docs, ROUND(AVG(logp), 6) AS avg_logp
FROM pd GROUP BY 1, 2 ORDER BY scored_source, model_source
""".trim,
    "X91_heldout_logprob" -> s"""
WITH $heldoutBigramCtes,
cx AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(toks) AS w FROM t WHERE split = 'train') z)
SELECT bg.doc_id, bg.split, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(log10(CAST(COALESCE(m.c12, 0) + 1 AS DOUBLE) /
                  CAST(COALESCE(cx.c1, 0) + v.v AS DOUBLE))), 6) AS mean_logp
FROM bg LEFT JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        LEFT JOIN cx ON bg.w1 = cx.w1
        CROSS JOIN v
GROUP BY bg.doc_id, bg.split ORDER BY bg.doc_id
""".trim,
    "X90_decontamination_report" -> {
      val b = s"$oracleIdxRoot/minhash_banded/*.parquet"
      s"""
WITH $benchSplitCtes,
${benchOverlapCtes(materialized = false, ("u", "u"))},
${benchCandCte(b)},
${candTokensCtes("t3", "documents")},
${shingleSetCte("sh3", 3, "t3")},
${shingleOverlapCtes("cand", "sh3")},
${nearDupDocsCte("sz")},
$semanticCtes
SELECT c.doc_id,
${deconVerdictCols("verdict")}
FROM corpus c
LEFT JOIN ng ON c.doc_id = ng.doc_id
LEFT JOIN nd ON c.doc_id = nd.doc_id
LEFT JOIN sem ON c.doc_id = sem.doc_id
ORDER BY c.doc_id
""".trim
    },
    // the composed curation manifest: stage 1 is the X90 oracle chain
    // verbatim; stage 2 restricts the X78 banded/recursive-CTE chain
    // to stage-1 survivors; stage 3 is the X81 LM chain over stage-2
    // survivors; stage 4 the X74 temperature-mixture arithmetic over
    // stage-3 survivors (alpha 0.5, lang strata, seed-42 coin)
    "X93_curation_manifest" -> x93OracleSql,
    "X121_curation_manifest_v2" -> x121OracleSql,
    "X128_runlevel_curation" -> x128OracleSql,
    // X122: both release orders summarized per pipeline — the two
    // manifest statements nested verbatim as derived tables, then one
    // conditional-count aggregate each (v1 cuts nothing by definition)
    "X122_order_impact" -> s"""
WITH m1 AS (SELECT * FROM ($x93OracleSql) z1),
m2 AS (SELECT * FROM ($x121OracleSql) z2)
SELECT 'v1_doc_level_first' AS pipeline,
  CAST(COUNT(*) AS BIGINT) AS docs,
  CAST(COALESCE(SUM(CASE WHEN decon_verdict = 'drop' THEN 1 END), 0) AS BIGINT) AS decon_drops,
  CAST(COALESCE(SUM(CASE WHEN dedup_verdict = 'drop' THEN 1 END), 0) AS BIGINT) AS dedup_drops,
  CAST(0 AS BIGINT) AS sub_cut_tokens,
  CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS kept
FROM m1
UNION ALL
SELECT 'v2_span_cut_first',
  CAST(COUNT(*) AS BIGINT),
  CAST(COALESCE(SUM(CASE WHEN decon_verdict = 'drop' THEN 1 END), 0) AS BIGINT),
  CAST(COALESCE(SUM(CASE WHEN dedup_verdict = 'drop' THEN 1 END), 0) AS BIGINT),
  CAST(COALESCE(SUM(sub_dup_tokens), 0) AS BIGINT),
  CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
FROM m2
ORDER BY pipeline
""".trim,
    // X123: CCNet normalization vs raw fingerprinting — the DuckDB
    // restatement of TextAnalysis.normalizeText is
    // nfc_normalize → lower → \p{N}→'0' → \p{P}+→' ' → whitespace
    // collapse (RE2's Unicode categories match Java's; whitespace is an
    // EXPLICIT class because RE2's \s excludes the vertical tab Java's
    // includes); variants are planted with chr() so no non-ASCII
    // literal rides the SQL string
    "X123_normalized_dedup" -> """
WITH s AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
u AS (
  SELECT doc_id, text FROM s
  UNION ALL
  SELECT doc_id + 100000, replace(text, 'a', chr(225)) FROM s
  UNION ALL
  SELECT doc_id + 200000, upper(replace(text, 'a', 'a' || chr(769))) FROM s),
f AS (SELECT doc_id, md5(text) AS rfp,
  md5(trim(regexp_replace(regexp_replace(regexp_replace(
    lower(nfc_normalize(text)),
    '\p{N}', '0', 'g'), '\p{P}+', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS nfp
  FROM u),
rc AS (SELECT rfp, CAST(COUNT(*) AS BIGINT) AS raw_grp FROM f GROUP BY 1),
nc AS (SELECT nfp, CAST(COUNT(*) AS BIGINT) AS norm_grp FROM f GROUP BY 1)
SELECT CAST(f.doc_id AS BIGINT) AS doc_id, rc.raw_grp, nc.norm_grp,
  nc.norm_grp > rc.raw_grp AS caught_by_normalization
FROM f JOIN rc ON f.rfp = rc.rfp JOIN nc ON f.nfp = nc.nfp
ORDER BY doc_id
""".trim,
    // X124: character-5-gram shingles over space-stripped docs
    // transliterated into the Thai consonant block (chr(unicode+3488):
    // 'a' 97 → U+0E01 3585) + their one-char-edited variants, as
    // code-point substring windows; the dispatch predicate restates
    // TextAnalysis.spaceless's integer arithmetic (majority-non-ASCII
    // AND (ntok < n OR length >= 16*ntok)) verbatim
    "X124_cjk_char_shingles" -> raw"""
WITH p0 AS (
  SELECT doc_id, replace(text, ' ', '') AS s0
  FROM documents WHERE doc_id < 150),
s0 AS (
  SELECT doc_id, array_to_string(list_transform(
    generate_series(1, length(s0)), i -> chr(unicode(s0[i:i]) + 3488)), '') AS s
  FROM p0 WHERE regexp_matches(s0, '^[a-z]+$$') AND length(s0) >= 100),
s1 AS (
  SELECT doc_id, s,
    substring(s, 1, 49) || chr(3631) || substring(s, 51, length(s)) AS v
  FROM s0),
g AS (
  SELECT doc_id,
    len(${words("w", of = "s")}) AS ntok,
    length(s) AS ls,
    length(regexp_replace(s, '[\x00-\x7F]', '', 'g')) AS nasc,
    list_distinct(list_transform(range(1, length(s) - 3), i -> substring(s, i, 5))) AS ga,
    list_distinct(list_transform(range(1, length(v) - 3), i -> substring(v, i, 5))) AS gb
  FROM s1),
j AS (
  SELECT doc_id,
    CAST(CASE WHEN ntok >= 3 THEN ntok - 2 ELSE 0 END AS BIGINT) AS n_word_shingles,
    (2 * nasc >= ls AND (ntok < 3 OR ls >= 16 * ntok)) AS dispatch_char,
    CAST(len(ga) AS BIGINT) AS n_char_grams,
    ROUND(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
      CAST(len(ga) + len(gb) - len(list_intersect(ga, gb)) AS DOUBLE), 6) AS char_jac
  FROM g)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_word_shingles, dispatch_char,
  n_char_grams, char_jac, char_jac >= 0.8 AS caught_char
FROM j ORDER BY doc_id
""".trim,
    // X125: the substring tier's char-unit path — units = single chars
    // when len >= 16*ntok (the spacelessRun dispatch, integer
    // arithmetic verbatim) else words; windows join with '' in char
    // mode, ' ' in word mode; then the X118 mark/merge pipeline
    "X125_cjk_substring_spans" -> raw"""
WITH s0 AS (
  SELECT doc_id, replace(text, ' ', '') AS s
  FROM documents WHERE doc_id < 120),
raw AS (
  SELECT doc_id, array_to_string(list_transform(
    generate_series(1, length(s)), i -> chr(unicode(s[i:i]) + 19871)), '') AS text
  FROM s0 WHERE regexp_matches(s, '^[a-z]+$$')),
va AS (
  SELECT doc_id + 100000 AS doc_id,
    repeat('q', 15) || substring(text, 21, 40) || repeat('j', 15) AS text
  FROM raw WHERE length(text) >= 80),
wo AS (SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 120),
u AS (SELECT * FROM raw UNION ALL SELECT * FROM va UNION ALL SELECT * FROM wo),
t AS (
  SELECT doc_id,
    CASE WHEN cm0
      THEN list_transform(generate_series(1, length(text)), i -> text[i:i])
      ELSE ${words("x")} END AS units,
    cm0 AS cm
  FROM (SELECT doc_id, text,
    (length(text) >= 16 * len(${words("x")})
      AND 2 * length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) >= length(text)) AS cm0
    FROM u)),
w AS (SELECT doc_id, unnest(generate_series(1, len(units) - 9)) AS p, units, cm
      FROM t WHERE len(units) >= 10),
k AS (SELECT doc_id, p,
        CASE WHEN cm THEN array_to_string(units[p : p+9], '')
             ELSE array_to_string(units[p : p+9], ' ') END AS win
      FROM w),
${windowMarkCtes("")}
$dupSpansSql
""".trim,
    // X126: run-level shingle sets — per side (base/mixed): the
    // doc-level dispatch (the X124 arithmetic verbatim), word
    // 3-shingles, char 5-grams, runs via regexp_extract_all +
    // remainder via regexp_replace(.., ' ', 'g'); run-level set =
    // remainder word shingles ∪ per-run grams; then both Jaccards
    "X126_runlevel_minhash" -> raw"""
WITH ${thaiFixtureCtes(150)},
pr AS (
  SELECT doc_id, t AS base_text,
    substring(text, 1, 50) || ' ' || substring(t, 1, 95) || ' ' ||
      substring(text, 51, 50) AS mixed_text
  FROM th),
sides AS (
  SELECT doc_id, 0 AS side, base_text AS x FROM pr
  UNION ALL
  SELECT doc_id, 1 AS side, mixed_text AS x FROM pr),
c0 AS (
  SELECT doc_id, side, x,
    ${words("w", of = "x")} AS toks,
    length(x) AS ls,
    length(regexp_replace(x, '[\x00-\x7F]', '', 'g')) AS nasc,
    regexp_replace(x, '[^\x00-\x7F]{16,}', ' ', 'g') AS rem,
    regexp_extract_all(x, '[^\x00-\x7F]{16,}') AS runs
  FROM sides),
c1 AS (
  SELECT doc_id, side, x, toks, ls, runs,
    (2 * nasc >= ls AND (len(toks) < 3 OR ls >= 16 * len(toks))) AS sp,
    ${words("w", of = "rem")} AS rtoks
  FROM c0),
c2 AS (
  SELECT doc_id, side, sp, len(runs) AS nruns,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> array_to_string(toks[i:i+2], ' '))) AS wsh,
    list_distinct(list_transform(range(1, ls - 3),
      i -> substring(x, i, 5))) AS grams,
    list_distinct(list_transform(range(1, len(rtoks) - 1),
      i -> array_to_string(rtoks[i:i+2], ' '))) AS wshr,
    list_distinct(flatten(list_transform(runs,
      r -> list_transform(range(1, length(r) - 3),
        i -> substring(r, i, 5))))) AS rgrams
  FROM c1),
c3 AS (
  SELECT doc_id, side, sp, nruns,
    CASE WHEN sp THEN grams ELSE wsh END AS set_doc,
    CASE WHEN sp THEN grams
         ELSE list_distinct(list_concat(wshr, rgrams)) END AS set_run
  FROM c2),
j AS (
  SELECT a.doc_id,
    a.sp AS dispatch_base, b.sp AS dispatch_mixed,
    CAST(b.nruns AS BIGINT) AS n_runs_mixed,
    ROUND(CAST(len(list_intersect(a.set_doc, b.set_doc)) AS DOUBLE) /
      CAST(len(a.set_doc) + len(b.set_doc)
        - len(list_intersect(a.set_doc, b.set_doc)) AS DOUBLE), 6) AS jac_doc,
    ROUND(CAST(len(list_intersect(a.set_run, b.set_run)) AS DOUBLE) /
      CAST(len(a.set_run) + len(b.set_run)
        - len(list_intersect(a.set_run, b.set_run)) AS DOUBLE), 6) AS jac_run
  FROM c3 a JOIN c3 b ON a.doc_id = b.doc_id AND a.side = 0 AND b.side = 1)
SELECT CAST(doc_id AS BIGINT) AS doc_id, dispatch_base, dispatch_mixed,
  n_runs_mixed, jac_doc, jac_run,
  jac_doc >= 0.7 AS caught_doc, jac_run >= 0.7 AS caught_run
FROM j ORDER BY doc_id
""".trim,
    // X127: the run-level substring composition — stage 1 char windows
    // over {homo whole-docs ∪ mixed docs' ≥16-cp non-ASCII runs}
    // (canonical order doc_id, run_idx, p), per-vdoc clean rebuild from
    // uncovered positions, splice via string_split_regex interleave,
    // stage 2 word windows over the spliced corpus
    "X127_runlevel_substring" -> s"""
WITH ${thaiFixtureCtes(120)},
u AS (
  SELECT doc_id, text FROM th
  UNION ALL
  SELECT doc_id + 100000, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 101, 60) FROM th
  UNION ALL
  SELECT doc_id + 200000, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 161, 60) FROM th
  UNION ALL
  SELECT doc_id + 300000, t FROM th),
$runCharSpanCtes,
${runCleanWordSpanCtes("cr")}
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'char' AS tier,
  CAST(run_idx AS INT) AS run_idx, CAST(span_start AS BIGINT) AS span_start,
  CAST(span_end AS BIGINT) AS span_end, CAST(span_tokens AS BIGINT) AS span_tokens
FROM cspans
UNION ALL
SELECT CAST(doc_id AS BIGINT), 'word', CAST(-1 AS INT), CAST(span_start AS BIGINT),
  CAST(span_end AS BIGINT), CAST(span_tokens AS BIGINT)
FROM wspans
ORDER BY doc_id, tier, run_idx, span_start
""".trim,
    // X79's plan arithmetic at a 1 M budget, then the repetition
    // explode: full epochs via generate_series, the residual via the
    // hexCutoff printf idiom (the X74 oracle's guard) on the portable
    // md5 coin
    "X94_epoch_expand" -> s"""
WITH t AS (SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(${words()})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source HAVING n_tokens > 0),
z AS (SELECT SUM(POW(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM t),
e AS (SELECT source,
  ROUND(CAST(1000000 AS DOUBLE) * POW(CAST(n_tokens AS DOUBLE), 0.5) / z / CAST(n_tokens AS DOUBLE), 4) AS epochs
  FROM t, z),
c AS (SELECT source, CAST(FLOOR(epochs) AS BIGINT) AS nfull,
             epochs - FLOOR(epochs) AS frac FROM e),
cut AS (SELECT source, nfull,
  printf('%08x', CAST(least(floor(frac * 4294967296), 4294967295) AS BIGINT)) AS cut
  FROM c)
SELECT u.doc_id, u.source, CAST(u.e AS BIGINT) AS epoch FROM (
  SELECT d.doc_id, d.source, unnest(list_concat(
    CASE WHEN cut.nfull >= 1 THEN generate_series(0, cut.nfull - 1)
         ELSE CAST([] AS BIGINT[]) END,
    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':42'), 1, 8) < cut.cut
         THEN [cut.nfull] ELSE CAST([] AS BIGINT[]) END)) AS e
  FROM documents d JOIN cut USING (source)) u
ORDER BY u.doc_id, epoch
""".trim,
    // near-dup clusters via the recursive closure over the banded
    // mirror's verified pairs; split on COALESCE(cluster, doc) with
    // the X32 cutoff chain
    "X95_leakfree_split" -> s"""WITH RECURSIVE $bandedVerifiedCtes,
${closureCtes("verified")},
clus AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
g AS (SELECT d.doc_id, COALESCE(clus.cluster_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN clus ON d.doc_id = clus.doc_id)
SELECT doc_id, group_id, ${splitCase("group_id", "  ")} AS split
FROM g ORDER BY doc_id""".trim,
    // gaps-and-islands restatement of the per-doc consecutive-run fold:
    // island id = pos − row_number within the doc's sorted hit positions
    "X96_max_overlap_span" -> s"""
WITH t AS (SELECT doc_id, source, ${words()} AS toks FROM documents),
${shinglePosCte("t", "doc_id, source, ")},
bs AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN bs USING (s) WHERE sh.source <> 'src0'),
runs AS (SELECT doc_id, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM hits),
rl AS (SELECT doc_id, COUNT(*) AS run FROM runs GROUP BY doc_id, isl),
mx AS (SELECT doc_id, MAX(run) AS max_run FROM rl GROUP BY doc_id),
nh AS (SELECT doc_id, COUNT(*) AS n_hits FROM hits GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(mx.max_run + 4, 0) AS BIGINT) AS max_span_tokens
FROM t LEFT JOIN nh ON t.doc_id = nh.doc_id LEFT JOIN mx ON t.doc_id = mx.doc_id
WHERE t.source <> 'src0'
ORDER BY t.doc_id
""".trim,
    // verified pairs off the banded mirror rolled up by unordered
    // source pair
    "X97_cross_source_dups" -> s"""WITH $bandedVerifiedCtes,
src AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT CASE WHEN si.source <= sj.source THEN si.source ELSE sj.source END AS source_a,
         CASE WHEN si.source <= sj.source THEN sj.source ELSE si.source END AS source_b,
         v.jac
  FROM verified v
  JOIN src si ON v.i = si.doc_id JOIN src sj ON v.j = sj.doc_id)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs, MAX(jac) AS max_jac
FROM lab GROUP BY source_a, source_b ORDER BY source_a, source_b""".trim,
    // X45 scoring + standard ROW_NUMBER/NTILE over (mean_logp DESC,
    // doc_id) — the 6-dp rounded key makes the total order portable
    "X98_curriculum" -> s"""
WITH $unigramCtes,
sc AS (SELECT w.doc_id, ROUND(AVG(log10(m.c / t.total)), 6) AS mean_logp
       FROM w JOIN m USING (w) CROSS JOIN t GROUP BY w.doc_id)
SELECT doc_id, mean_logp,
       CAST(ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS BIGINT) AS ord,
       CAST(NTILE(4) OVER (ORDER BY mean_logp DESC, doc_id) AS BIGINT) AS stage
FROM sc ORDER BY ord
""".trim,
    // X05's capped kernel with the containment denominator; both
    // measures emitted from the same counts
    "X99_ngram_containment" -> s"""
WITH $rareShingleOverlapCtes
SELECT i, j,
  ROUND(CAST(c AS DOUBLE) / LEAST(sa.sz, sb.sz), 6) AS containment,
  ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
FROM inter JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
WHERE CAST(c AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.8
ORDER BY i, j
""".trim,
    // X87's smoothing over the union vocabulary, two sides, two rows
    "X100_unigram_drift" -> s"""
WITH tk AS (
  SELECT CASE WHEN source = 'src0' THEN 'ref' ELSE 'cur' END AS split,
         unnest(${words()}) AS w
  FROM documents),
c AS (SELECT w,
        SUM(CASE WHEN split = 'cur' THEN 1 ELSE 0 END) AS c_cur,
        SUM(CASE WHEN split = 'ref' THEN 1 ELSE 0 END) AS c_ref
      FROM tk GROUP BY w),
t AS (SELECT SUM(c_cur) AS n_cur, SUM(c_ref) AS n_ref, COUNT(*) AS v FROM c),
p AS (SELECT CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + v AS DOUBLE) AS p_cur,
             CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + v AS DOUBLE) AS p_ref
      FROM c, t),
one AS (SELECT
  ROUND(SUM(p_cur * ln(p_cur / p_ref)), 6) AS kl_cur_ref,
  ROUND(SUM(ABS(p_cur - p_ref)) / 2, 6) AS tv_cur_ref,
  ROUND(SUM(p_ref * ln(p_ref / p_cur)), 6) AS kl_ref_cur,
  ROUND(SUM(ABS(p_ref - p_cur)) / 2, 6) AS tv_ref_cur
  FROM p)
SELECT 'cur' AS side_a, 'ref' AS side_b, kl_cur_ref AS kl, tv_cur_ref AS tv FROM one
UNION ALL
SELECT 'ref', 'cur', kl_ref_cur, tv_ref_cur FROM one
ORDER BY side_a, side_b
""".trim,
    // X66's BM25 CTE chain (k=20, self excluded) + X52's cosine shape
    // (queries vec_id<3, k=20) fused by reciprocal rank 1/(60+r)
    "X101_hybrid_rrf" -> s"""
WITH $bm25Ctes,
qq AS (SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest(toks[1:5]) AS term FROM t
        WHERE doc_id < 3
          -- the Spark query frame is documents JOIN embeddings: a doc
          -- without an embedding row is not a query in EITHER channel
          AND doc_id IN (SELECT vec_id FROM embeddings)) z),
scored AS (
  SELECT qq.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 6) AS score
  FROM qq JOIN postings p ON qq.term = p.term
         JOIN dfx ON qq.term = dfx.term
         CROSS JOIN stats
  WHERE p.doc_id <> qq.query_id
  GROUP BY qq.query_id, p.doc_id),
lex AS (SELECT query_id, doc_id, CAST(r AS BIGINT) AS r_lex FROM (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
  FROM scored) z WHERE r <= 20),
sc AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
         ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
       FROM embeddings a, embeddings b
       WHERE a.vec_id < 3 AND b.vec_id <> a.vec_id
         AND a.vec_id IN (SELECT doc_id FROM documents)),
sem AS (SELECT query_id, doc_id, CAST(r AS BIGINT) AS r_sem FROM (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r
  FROM sc) z WHERE r <= 20),
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.doc_id) AS doc_id,
         COALESCE(l.r_lex, 0) AS r_lex, COALESCE(s.r_sem, 0) AS r_sem
  FROM lex l FULL OUTER JOIN sem s ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
rr AS (SELECT query_id, doc_id, r_lex, r_sem,
  ROUND(CASE WHEN r_lex > 0 THEN CAST(1 AS DOUBLE) / (60 + r_lex) ELSE CAST(0 AS DOUBLE) END +
        CASE WHEN r_sem > 0 THEN CAST(1 AS DOUBLE) / (60 + r_sem) ELSE CAST(0 AS DOUBLE) END, 6) AS rrf
  FROM fused),
rk AS (SELECT query_id, doc_id, rrf, r_lex, r_sem,
  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS r FROM rr)
SELECT query_id, doc_id, rrf, r_lex, r_sem FROM rk WHERE r <= 10
ORDER BY query_id, rrf DESC, doc_id
""".trim,
    // X91's split + bigram CTEs under absolute-discount interpolation:
    // max(c12-D,0)/c1 + D*n1p/c1*Pcont, Pcont=(contc+1)/(B+V),
    // unseen context backs off to Pcont entirely
    "X102_kn_heldout_logprob" -> s"""
WITH $heldoutBigramCtes,
cx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM m GROUP BY w1),
co AS (SELECT w2, COUNT(*) AS contc FROM m GROUP BY w2),
tot AS (SELECT (SELECT COUNT(*) FROM m) AS b,
               (SELECT COUNT(DISTINCT w) FROM (
                  SELECT unnest(toks) AS w FROM t WHERE split = 'train') z) AS v)
SELECT bg.doc_id, bg.split, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(log10(
    CASE WHEN cx.c1 IS NULL THEN
      CAST(COALESCE(co.contc, 0) + 1 AS DOUBLE) / CAST(tot.b + tot.v AS DOUBLE)
    ELSE
      GREATEST(CAST(COALESCE(m.c12, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        / CAST(cx.c1 AS DOUBLE)
      + CAST(0.75 AS DOUBLE) * CAST(cx.n1p AS DOUBLE) / CAST(cx.c1 AS DOUBLE)
        * (CAST(COALESCE(co.contc, 0) + 1 AS DOUBLE) / CAST(tot.b + tot.v AS DOUBLE))
    END)), 6) AS mean_logp
FROM bg LEFT JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        LEFT JOIN cx ON bg.w1 = cx.w1
        LEFT JOIN co ON bg.w2 = co.w2
        CROSS JOIN tot
GROUP BY bg.doc_id, bg.split ORDER BY bg.doc_id
""".trim,
    // all-pairs Hamming over the persisted dHash table — semantically
    // identical to the banded Spark plan (exact by pigeonhole at <= 7
    // of 8 bands); integer xor/popcount both engines share
    "X103_phash_neardup" -> s"""
WITH p AS (SELECT doc_id, variant, phash
           FROM read_parquet('$oracleIdxRoot/phash/hashes/*.parquet'))
SELECT a.doc_id AS i_doc, a.variant AS i_var, b.doc_id AS j_doc, b.variant AS j_var,
  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM p a JOIN p b
  ON (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.variant < b.variant))
WHERE bit_count(xor(a.phash, b.phash)) <= 7
ORDER BY i_doc, i_var, j_doc, j_var
""".trim,
    // X104/X105 restate the ADC fold over the MIRRORED codebook/codes:
    // every lut entry is the same |q|^2 - 2 q.c + |c|^2 double
    // expansion (list_inner_product = graft_dot's left-to-right
    // accumulation over the identical float bytes), summed per
    // (query, vector) and top-5'd on (rounded d2, vec_id)
    "X104_pq_adc_top5" -> s"""
WITH $adcScanCtes
$adcTop5Sql
""".trim,
    "X105_pq_recall" -> s"""
WITH $adcScanCtes,
$adcRecallSql
""".trim,
    // X106: the ratio-margin criterion — both kNN directions rank by
    // the 6-dp-rounded cosine (knnJoin's contract) and the margin is
    // rounded before the threshold compare, boundary-exact
    "X106_margin_pairs" -> """
WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
b AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
fr AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
  FROM (SELECT a.vec_id AS qid, b.vec_id AS vid,
          ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        FROM a, b) f),
br AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
  FROM (SELECT b.vec_id AS qid, a.vec_id AS vid,
          ROUND(list_inner_product(b.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS cos
        FROM b, a) g),
da AS (SELECT qid, AVG(cos) AS avg_a FROM fr WHERE rk <= 4 GROUP BY qid),
db AS (SELECT qid, AVG(cos) AS avg_b FROM br WHERE rk <= 4 GROUP BY qid)
SELECT f.qid AS i, f.vid AS j, f.cos,
  ROUND(f.cos / (da.avg_a / 2 + db.avg_b / 2), 6) AS margin
FROM fr f JOIN da ON da.qid = f.qid JOIN db ON db.qid = f.vid
WHERE f.rk = 1
  AND (da.avg_a / 2 + db.avg_b / 2) > 0
  AND ROUND(f.cos / (da.avg_a / 2 + db.avg_b / 2), 6) >= 1.02
ORDER BY i, j
""".trim,
    // X107: X104's lut/fold/top-5 restricted to probed IVF lists — the
    // coarse probe ranks centroids by the same |q|^2-2q.c+|c|^2
    // expansion (tie: list id), the assign argmax mirrors Ivf.assign
    // (max dot, tie: min centroid_id), both over the MIRRORED ivf
    // centroids
    "X107_ivfpq_top5" -> s"""
WITH $pqInputCtes,
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/ivf/centroids/*.parquet')),
probed AS (
  SELECT query_id, list_id FROM (
    SELECT q.query_id, c.centroid_id AS list_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        ${sqDist("q.embedding", "c.centroid", "        ")},
        c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) z WHERE rn <= 4),
assigned AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.centroid_id AS list_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
        c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c) z WHERE rk = 1),
${flatLutCte("lut", "q, cb")},
$pqCodeCte,
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.sub = e.i - 1 AND l.cid = e.cid
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN probed p ON p.query_id = l.query_id AND p.list_id = a.list_id
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)
$adcTop5Sql
""".trim,
    // X108: IVFADC proper — the residual-PQ composition. The coarse
    // probe ranks centroids exactly like X107; the lookup table is
    // per-(query, probed list) over the RESIDUAL query q − c_list
    // (elementwise exact double subtraction), with the same
    // |x|²−2x·y+|y|² expansion; codes carry their list_id from the
    // mirrored residual index, so the lut join on list_id IS the
    // probe pruning
    "X108_ivfadc_top5" -> s"""
WITH ${ivfadcScanCtes(nProbe = 4)}
$adcTop5Sql
""".trim,
    // X109: recall@5 of the full-probe residual IVFADC result against
    // exact-L2 ground truth — X105's audit shape over the residual tier
    "X109_ivfadc_recall" -> s"""
WITH ${ivfadcScanCtes(nProbe = 16)},
$adcRecallSql
""".trim,
    // X110: the residual-encoding go/no-go — assign = Ivf.assignL2's
    // argmin (min |v|²−2v·c+|c|², tie: min centroid_id) over the
    // mirrored refined coarse quantizer, then the corpus averages of
    // |v|² and the same residual expansion
    "X110_residual_gain" -> s"""
WITH cents AS (SELECT centroid_id, centroid
               FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet')),
assigned AS (
  SELECT vec_id, embedding, centroid FROM (
    SELECT e.vec_id, e.embedding, c.centroid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        ${sqDist("e.embedding", "c.centroid", "        ")},
        c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c) z WHERE rk = 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
  ROUND(AVG(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
    AS avg_raw_d2,
  ROUND(AVG($residualD2), 6)
    AS avg_residual_d2,
  ROUND(AVG($residualD2)
    / AVG(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
    AS residual_gain
FROM assigned
""".trim,
    // X111: the two-stage serve — X108's IVFADC scan nominates the
    // 50-candidate shortlist (ROUND-6 ADC ordering, vec_id tie-break),
    // then the exact |q|²−2q·e+|e|² re-rank over the raw embeddings
    // keeps the true top-5 among them (both stages' orderings restated
    // exactly)
    "X111_ivfadc_rerank_top5" -> s"""
WITH ${ivfadcScanCtes(nProbe = 4)},
short AS (
  SELECT query_id, vec_id FROM scan
${adcTopK(50, "  ")}),
rr AS (
  SELECT s.query_id, s.vec_id,
    ROUND(${sqDist("q.embedding", "e.embedding", "      ")}, 6)
      AS d2
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN embeddings e ON e.vec_id = s.vec_id)
SELECT query_id, vec_id, d2 FROM rr
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) <= 5
ORDER BY query_id, d2, vec_id
""".trim,
    // X112: recall@5 of the re-ranked two-stage result at X109's probe
    // budget (nProbe = 16, shortlist 50) vs exact-L2 ground truth
    "X112_rerank_recall" -> s"""
WITH ${ivfadcScanCtes(nProbe = 16)},
short AS (
  SELECT query_id, vec_id FROM scan
${adcTopK(50, "  ")}),
approx AS (
  SELECT s.query_id, s.vec_id FROM (
    SELECT s.query_id, s.vec_id,
      ROUND(${sqDist("q.embedding", "e.embedding", "        ")}, 6)
        AS d2
    FROM short s
    JOIN q ON q.query_id = s.query_id
    JOIN embeddings e ON e.vec_id = s.vec_id) s
  QUALIFY row_number() OVER (PARTITION BY s.query_id
                             ORDER BY s.d2, s.vec_id) <= 5),
$exactTop5Cte
$recallSql
""".trim,
    // X113: the probe-budget operating curve under BOTH shortlist
    // policies — the X111/X112 two-stage pipeline restated once,
    // parameterized by an unnested (probe budget, policy) table whose
    // shortlist bound is the CASE restatement of Pq.adaptiveShortlist
    // (fixed50 → 50, auto → GREATEST(50, 16·p)); the ADC scan is keyed
    // by p only (the policy reuses it), the shortlist QUALIFY carries
    // (policy, p), then recall per (policy, nprobe, query)
    "X113_probe_recall_curve" -> s"""
$probeCurveCtes
SELECT pr.policy, pr.p AS nprobe, pr.r AS shortlist, x.query_id,
  CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM pr CROSS JOIN exact x
LEFT JOIN approx a
  ON a.policy = pr.policy AND a.p = pr.p
  AND a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 4
""".trim,
    // X120: recall-targeted serve calibration — the X113 chain's auto
    // branch MICRO-aggregated per budget (Σ hits / Σ exact, one
    // integer division — Pq.probeBudgetCurve's arithmetic), then per
    // target the smallest budget meeting it, falling back to the
    // largest calibrated budget (Pq.chooseProbeBudget's fallback)
    "X120_serve_calibration" -> s"""
$probeCurveCtes,
hits AS (
  SELECT pr.p, pr.r, x.query_id,
    COUNT(a.vec_id) AS n_hit, COUNT(*) AS n_exact
  FROM pr CROSS JOIN exact x
  LEFT JOIN approx a
    ON a.policy = pr.policy AND a.p = pr.p
    AND a.query_id = x.query_id AND a.vec_id = x.vec_id
  WHERE pr.policy = 'auto'
  GROUP BY 1, 2, 3),
micro AS (
  SELECT p AS nprobe, r AS shortlist,
    ROUND(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_exact), 6) AS recall
  FROM hits GROUP BY 1, 2),
tg AS (SELECT CAST(unnest([0.3, 0.6, 0.9, 0.99]) AS DOUBLE) AS target),
met AS (SELECT tg.target, MIN(m.nprobe) AS met_np
        FROM tg LEFT JOIN micro m ON m.recall >= tg.target GROUP BY 1),
fb AS (SELECT MAX(nprobe) AS fb_np FROM micro)
SELECT met.target,
  CAST(m.nprobe AS INT) AS nprobe,
  CAST(m.shortlist AS INT) AS shortlist,
  m.recall AS achieved_recall
FROM met CROSS JOIN fb
JOIN micro m ON m.nprobe = COALESCE(met.met_np, fb.fb_np)
ORDER BY met.target
""".trim,
    // X114: OPQ vs plain PQ recall@5 at equal m·ks over 25 queries —
    // the plain side is the X105 pipeline over the pq mirror; the OPQ
    // side first rotates each query with the persisted rotation
    // (array_agg of per-output-row list_inner_product, cast to REAL —
    // the exact float discipline the engine's corpus side uses) and
    // runs the same lut/fold/top-5 over the opq mirror. Exact ground
    // truth is raw-space (rotation is orthogonal)
    "X114_opq_recall" -> s"""
WITH $opqInputCtes,
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 25),
rq AS (SELECT q.query_id,
         array_agg(CAST(list_inner_product(r.vals::DOUBLE[], q.embedding::DOUBLE[])
                        AS REAL) ORDER BY r.i) AS embedding
       FROM q CROSS JOIN rot r GROUP BY q.query_id),
${flatLutCte("lutp", "q, cbp cb")},
${flatLutCte("luto", "rq q, cbo cb")},
exp_ AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
         FROM cop),
exo AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
        FROM coo),
${opqApproxCte("p", "exp_")},
${opqApproxCte("o", "exo")},
$exactTop5Cte
SELECT * FROM (
${opqRecallSql("pq", "p")}
  UNION ALL
${opqRecallSql("opq", "o")})
ORDER BY 1, 2
""".trim,
    // X115: the OPQ training objective avg |R·x − y|² per variant —
    // rotate every corpus vector with the persisted rotation (REAL
    // cast, same float discipline as the engine), reconstruct y from
    // the stored codes (flatten of per-sub assigned centroids), and
    // average the full-vector |a|²−2a·b+|b|² expansion; the plain
    // variant is the same arithmetic over the raw vectors and the pq
    // mirror
    "X115_opq_error" -> s"""
WITH $opqInputCtes,
rv AS (SELECT e.vec_id,
         array_agg(CAST(list_inner_product(r.vals::DOUBLE[], e.embedding::DOUBLE[])
                        AS REAL) ORDER BY r.i) AS emb
       FROM embeddings e CROSS JOIN rot r GROUP BY e.vec_id),
${reconCte("p")},
${reconCte("o")}
SELECT * FROM (
  SELECT 'pq' AS variant, CAST(COUNT(*) AS BIGINT) AS n_vectors,
    ROUND(AVG(
      ${sqDist("e.embedding", "p.recon", "      ")}), 6)
      AS avg_q_error
  FROM embeddings e JOIN reconp p ON p.vec_id = e.vec_id
  UNION ALL
  SELECT 'opq' AS variant, CAST(COUNT(*) AS BIGINT) AS n_vectors,
    ROUND(AVG(
      ${sqDist("v.emb", "o.recon", "      ")}), 6)
      AS avg_q_error
  FROM rv v JOIN recono o ON o.vec_id = v.vec_id)
ORDER BY 1
""".trim
  )
}
