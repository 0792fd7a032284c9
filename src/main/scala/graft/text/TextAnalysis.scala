package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, document
  * fingerprinting, shingling and exact n-gram Jaccard similarity.
  *
  * Everything here is a declarative Column/DataFrame program — no UDFs —
  * so the full pipeline stays inside whole-stage codegen and scales by
  * partition count alone: per-document work is map-side, and the only
  * shuffles are the final aggregations / joins on derived keys.
  */
object TextAnalysis {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Plan-estimate threshold above which an UNCAPPED exact-Jaccard call
    * warns: ~32 MB of source text is ~10⁵ typical documents, the point
    * where a hot shingle's df² join mass starts to dominate. The check
    * reads Catalyst's optimized-plan size estimate — no job is run.
    */
  private[graft] val UncappedJaccardWarnBytes: Long = 32L * 1024 * 1024

  /** True when [[ngramJaccardPairs]] should announce its quadratic
    * footgun: the caller left `maxDf` uncapped AND the input's
    * estimated size exceeds [[UncappedJaccardWarnBytes]]. Split out so
    * the gate is unit-testable without log capture.
    */
  private[graft] def uncappedJaccardWarnNeeded(documents: DataFrame, maxDf: Int): Boolean =
    maxDf == Int.MaxValue &&
      documents.queryExecution.optimizedPlan.stats.sizeInBytes > UncappedJaccardWarnBytes

  /** Whitespace tokens with empties dropped (consistent with L03/L04). */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** CCNet-style text normalization (Wenzek et al. 2020) as a pure
    * Column program — the opt-in front end of every dedup tier
    * (fingerprint, MinHash, substring): near-dups differing only in
    * Unicode composition form, case, digits or punctuation escape raw
    * fingerprinting entirely; normalizing BEFORE fingerprinting catches
    * them. Steps, in order:
    *
    *   1. NFC (native codegen'd [[graft.functions.NfcNormalize]]) —
    *      canonically-equivalent byte sequences become one form;
    *   2. case fold (`lower`);
    *   3. digit fold — every Unicode number codepoint (\p{N}) becomes
    *      one '0' (the CCNet per-digit rule: "page 17" ≡ "page 99" ≡
    *      "page 00"; numbers with DIFFERENT digit counts still differ —
    *      "17" → "00" vs "438" → "000");
    *   4. punctuation fold — runs of Unicode punctuation (\p{P})
    *      become one space (boilerplate differing only in quote style
    *      or dash width collapses);
    *   5. whitespace collapse + trim, so the result re-tokenizes
    *      cleanly under [[tokens]]'s single-space convention.
    *
    * Each fold is independently optional; defaults are the full CCNet
    * recipe. Restated in portable SQL (DuckDB `nfc_normalize` + `lower`
    * + RE2 `\p{N}`/`\p{P}`, which match Java's Unicode categories) —
    * the X123 oracle pins the parity. Normalization is for KEYS
    * (fingerprints, shingles, window hashes), not for shipped text:
    * callers keep the raw text column and derive keys from this.
    */
  def normalizeText(
      text: Column,
      caseFold: Boolean = true,
      foldDigits: Boolean = true,
      foldPunct: Boolean = true): Column = {
    val nfc = graft.functions.NfcNormalize(text)
    val cased = if (caseFold) lower(nfc) else nfc
    val digits = if (foldDigits) regexp_replace(cased, "\\p{N}", "0") else cased
    val punct = if (foldPunct) regexp_replace(digits, "\\p{P}+", " ") else digits
    // whitespace spelled as an explicit class, NOT \s: Java's \s is
    // [ \t\n\x0B\f\r] while RE2's (the DuckDB oracle) excludes vertical
    // tab — the X123 parity pin requires the identical class on both
    // sides, so both spell it out
    trim(regexp_replace(punct, "[ \\t\\n\\x0B\\f\\r]+", " "))
  }

  /** `documents` with `text` replaced by [[normalizeText]] of itself —
    * the convenience wrapper for running a whole dedup tier over
    * normalized text (every other column rides along unchanged). For
    * pipelines that must SHIP raw text while DEDUPING normalized text,
    * derive keys with [[normalizeText]] directly instead.
    */
  def withNormalizedText(
      documents: DataFrame,
      caseFold: Boolean = true,
      foldDigits: Boolean = true,
      foldPunct: Boolean = true): DataFrame =
    documents.withColumn("text",
      normalizeText(col("text"), caseFold, foldDigits, foldPunct))

  /** Word n-gram shingles: positions 1..len-n+1, space-joined. The unit
    * of near-dup detection — shingle collisions across documents are
    * rare for independent texts, so shingle-keyed joins stay sparse.
    */
  /** Evaluate `v` ONCE per row and hand it to `f` as a bound lambda
    * variable. A higher-order-function lambda that closes over an
    * unbound Column INLINES that expression into the lambda body, so
    * it re-evaluates at EVERY element — e.g. `slice(tokens(text), i,
    * n)` inside a transform re-splits the whole document at every
    * shingle position, turning a linear pass O(T²) per doc (measured:
    * the X30 corpus shingle explode at sf0.1 dropped 2.1 s → 0.47 s
    * from this binding alone). The single-element array wrapper is the
    * portable way to introduce a bound variable in the Column algebra;
    * the value and nullability of `f(v)` are unchanged.
    */
  private[graft] def bindOnce(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  def shingles(text: Column, n: Int): Column =
    // bindOnce: the per-position lambda must slice a BOUND token array,
    // not re-run the split per position (see bindOnce's scaladoc)
    bindOnce(tokens(text)) { toks =>
      // guard: sequence(1, k) runs DESCENDING for k < 1 — short docs must
      // yield an empty shingle set, not [1, 0]
      when(size(toks) >= n,
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }

  /** Average-token-length bound of the spaceless-script dispatch: a
    * doc whose tokens average ≥ this many code points is treated as a
    * spaceless-script run (CJK/Thai text carries no ASCII spaces, so
    * whitespace "tokens" are whole sentences — Latin words average
    * 5–6 chars plus the space). Shared verbatim by the Column
    * predicate [[spaceless]], the native
    * [[graft.functions.ShingleHash]] dispatch, and the X124 oracle
    * SQL — the three must stay arithmetic-identical.
    */
  val SpacelessAvgTokenLen: Int = 16

  /** Doc-level spaceless-script predicate: word shingling produces
    * nothing (fewer than `n` tokens) or would be near-useless (tokens
    * averaging [[SpacelessAvgTokenLen]]+ code points — whole sentences
    * between rare spaces, so one edited char kills every shingle that
    * run appears in). BOTH disjuncts carry the majority-non-ASCII
    * guard: spaceless scripts are non-ASCII by construction, while a
    * short pure-ASCII doc (URL, base64 blob, ID list) sharing a long
    * prefix with another would otherwise char-gram into a ≥0.8-Jaccard
    * "near-dup" and be dropped by dedup winners — short Latin docs
    * must stay word-shingled (and, below `n` tokens, legitimately
    * invisible). Integer arithmetic only, so the DuckDB restatement is
    * exact: `2*len(non_ascii) >= len AND (ntok < n OR len >= 16*ntok)`.
    */
  def spaceless(text: Column, n: Int): Column =
    (size(tokens(text)) < n && nonAsciiMajority(text)) || spacelessRun(text)

  /** Majority-non-ASCII test shared by both [[spaceless]] disjuncts.
    * The ASCII class `[\x00-\x7F]` is spelled identically in Java
    * regex and RE2, so the DuckDB restatement stays exact:
    * `2*len(non_ascii_chars) >= len`.
    */
  private def nonAsciiMajority(text: Column): Column =
    length(regexp_replace(text, "[\\x00-\\x7F]", "")) * 2 >= length(text)

  /** The spaceless-RUN predicate of [[spaceless]] (its second
    * disjunct): tokens average ≥ [[SpacelessAvgTokenLen]] code points
    * AND the doc is majority non-ASCII. Both conditions matter:
    *  - the substring tier dispatches on THIS alone and deliberately
    *    not on the too-few-tokens case — a short Latin doc
    *    legitimately emits no windows (it cannot contain a duplicated
    *    run of window length), and char-cutting it would invent
    *    sub-word duplication inside ordinary words;
    *  - the non-ASCII-majority test keeps single-long-token LATIN docs
    *    (URLs, base64 blobs, long identifiers) on word semantics —
    *    spaceless SCRIPTS are non-ASCII by construction, while
    *    char-cutting two URLs' shared prefix would mangle ordinary
    *    data. The ASCII class `[\x00-\x7F]` is spelled identically in
    *    Java regex and RE2, so the DuckDB restatement stays exact:
    *    `len >= 16*ntok AND 2*len(non_ascii_chars) >= len`.
    */
  def spacelessRun(text: Column): Column =
    length(text) >= lit(SpacelessAvgTokenLen) * size(tokens(text)) &&
      nonAsciiMajority(text)

  /** Single-code-point units of `text`, spaces included as units — the
    * spaceless-script token representation of the substring tier
    * (windows become k-char runs; the span cut rejoins with "" and
    * reconstructs the text exactly minus the cut runs). The native
    * [[graft.functions.CodePointUnits]] walks the bytes ONCE — the
    * Column twin below re-scans from offset 0 per position (O(n²) per
    * doc, ruinous for long spaceless docs); [[charUnitsTwin]] remains
    * the certified restatement (code-point `substr`, matching DuckDB
    * substring/indexing exactly) and the two are spec-pinned equal,
    * astral chars included.
    */
  def charUnits(text: Column): Column =
    graft.functions.CodePointUnits(text)

  /** The interpreted Column twin of [[charUnits]] — oracle-shaped
    * (`substr` is code-point based like DuckDB's substring), used only
    * by the equality pin.
    */
  private[graft] def charUnitsTwin(text: Column): Column =
    when(length(text) >= 1,
      transform(sequence(lit(1), length(text)), i => text.substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))

  /** Character k-gram shingles over the raw text (code-point windows —
    * `substr` counts code points, matching DuckDB `substring` and the
    * native expression's dispatch) — the near-dup unit for spaceless
    * scripts, where word shingles collapse to near-document
    * granularity. Public recipe: character-n-gram shingling for CJK
    * (e.g. Broder-style shingling applied at character granularity).
    */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) >= k,
      transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** [[shingles]] with the [[spaceless]] char-gram fallback — what the
    * MinHash tier computes when `MinHashConfig.charK > 0`: word
    * n-grams for normal text, character `charK`-grams for docs the
    * doc-level dispatch classifies as spaceless. Exact-Jaccard
    * verification uses THIS definition so candidates from the native
    * hash path verify against the same granularity they signed with.
    */
  def shinglesAuto(text: Column, n: Int, charK: Int): Column =
    shinglesAuto(text, n, charK, runLevel = false)

  /** [[shinglesAuto]] with the RUN-LEVEL refinement
    * (`MinHashConfig.runLevel`): a doc the doc-level dispatch
    * classifies as spaceless keeps the whole-text char path (the
    * homogeneous fast path), but a MIXED doc — majority-ASCII with
    * embedded spaceless-script runs — additionally char-grams each
    * long non-ASCII run ([[RunPattern]]: ≥ [[SpacelessAvgTokenLen]]
    * contiguous non-ASCII code points) while word-shingling the
    * remainder (runs replaced by a space). Without this, an embedded
    * CJK/Thai quote is ONE opaque token: a spaceless doc and a mixed
    * doc quoting it can never meet (the quote signs as char grams in
    * one and as part of a word shingle in the other). Word shingles
    * and run char-grams cannot collide as strings: a word shingle
    * (n ≥ 2) carries an ASCII space, a run gram is 100% non-ASCII.
    */
  def shinglesAuto(text: Column, n: Int, charK: Int, runLevel: Boolean): Column =
    if (charK <= 0) shingles(text, n)
    else if (!runLevel)
      when(spaceless(text, n), charShingles(text, charK))
        .otherwise(shingles(text, n))
    else
      when(spaceless(text, n), charShingles(text, charK))
        .otherwise(concat(
          shingles(runRemainder(text), n),
          flatten(transform(scriptRuns(text), r => charShingles(r, charK)))))

  /** Maximal spaceless-script runs of `text`: every contiguous
    * sequence of ≥ [[SpacelessAvgTokenLen]] non-ASCII code points.
    * The `{16,}`-quantified class is spelled identically in Java regex
    * and RE2, so the DuckDB restatement (`regexp_extract_all`) is
    * exact. Shorter non-ASCII stretches (accented words, isolated CJK
    * chars) stay embedded in the word remainder — char-cutting them
    * would invent sub-word duplication inside ordinary words.
    */
  val RunPattern: String = s"[^\\x00-\\x7F]{$SpacelessAvgTokenLen,}"

  def scriptRuns(text: Column): Column =
    regexp_extract_all(text, lit(RunPattern), lit(0))

  /** `text` with every [[RunPattern]] run replaced by one space — the
    * word-semantics remainder of run-level processing. DuckDB twin:
    * `regexp_replace(text, pat, ' ', 'g')`.
    */
  def runRemainder(text: Column): Column =
    regexp_replace(text, RunPattern, " ")

  /** GPT-2-style pre-tokenization regex (ASCII-simplified): English
    * contraction suffixes, space-prefixed letter runs, space-prefixed
    * digit runs, space-prefixed punctuation runs, residual whitespace.
    * The count of these pre-tokens is the standard cheap proxy for a
    * BPE tokenizer's token count (each pre-token splits into ≥1 BPE
    * unit, and short common pre-tokens are single units). The pattern
    * is valid in both Java regex (Spark codegen) and RE2 (DuckDB), with
    * identical leftmost-first alternation semantics — parity verified
    * token-for-token in the oracle check.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** BPE-ish pre-token count of `text` — map-side, codegen'd. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Whitespace vs BPE-ish token counts per language — the budgeting
    * signal a training pipeline needs before paying a real tokenizer
    * pass (map-side counting, one shuffle on lang).
    */
  def tokenCountComparison(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("ws"),
        bpeTokenCount(col("text")).as("bpe"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("ws").cast("bigint").as("ws_tokens"),
        sum("bpe").cast("bigint").as("bpe_tokens"),
        round(avg("bpe"), 4).as("avg_bpe_tokens"))
      .orderBy("lang")

  /** Benchmark decontamination — the training-pipeline gate that keeps
    * evaluation data out of the training corpus: for every corpus
    * document, the fraction of its distinct word n-grams that also
    * appear ANYWHERE in the benchmark set. Docs above a threshold are
    * contaminated and get dropped upstream.
    *
    * Scale shape: one shingle-keyed equi join — the benchmark side is
    * deduplicated to distinct shingles (benchmarks are tiny next to the
    * corpus, so Spark broadcasts it), and the corpus side is the same
    * map-side shingle explode every dedup pass uses. String shingle
    * keys keep this DuckDB-oracle-checkable (X30); at petabyte scale
    * swap in [[graft.functions.ShingleHash]] 8-byte keys exactly as the
    * MinHash pipeline does.
    */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame, n: Int): DataFrame =
    contaminationScoresAgainst(corpus, benchmarkShingleSet(benchmark, n), n)

  /** The deduped benchmark n-gram set [[contaminationScores]] probes —
    * exposed so a long-lived consumer (the streaming gates) can compute
    * it ONCE and reuse it across micro-batches instead of re-shingling
    * the frozen benchmark per batch.
    */
  def benchmarkShingleSet(benchmark: DataFrame, n: Int): DataFrame =
    graft.ops.Scale.spreadForCompute(benchmark, col("doc_id"))
      .select(explode(array_distinct(shingles(col("text"), n))).as("s"))
      .distinct()

  /** [[contaminationScores]] against a precomputed
    * [[benchmarkShingleSet]]. */
  def contaminationScoresAgainst(
      corpus: DataFrame,
      benchShingles: DataFrame,
      n: Int): DataFrame = {
    // single-row-group rescue: the shingle explode is the dominant map
    // cost and runs on the corpus scan's task count; counts are exact,
    // so the spread is bit-identical. No-op at scale.
    val cs = graft.ops.Scale.spreadForCompute(corpus, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("s"))
    // ONE pass over the corpus shingles: a left join against the deduped
    // benchmark (≤1 match per shingle, no fan-out) marks hits, and both
    // counts come out of the same doc_id aggregation — two separate
    // consumers of the explode would re-run the dominant map-side
    // shingle work per consumer (no shared exchange to reuse)
    cs.join(benchShingles.withColumn("__hit", lit(1)), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        round(col("n_overlap").cast("double") /
          col("n_shingles").cast("double"), 6).as("overlap_frac"))
      .orderBy("doc_id")
  }

  /** Longest verbatim benchmark-overlap span per corpus document — the
    * "longest contaminated run" decontamination metric, the span-length
    * complement of [[contaminationScores]]'s overlap FRACTION (public
    * eval-hygiene rules gate on exactly this shape — e.g. GPT-3
    * appendix C's 13-gram rule: a document whose longest contiguous
    * benchmark match exceeds a token bound is contaminated even when
    * its overall overlap fraction is small). Output per corpus doc:
    * token length, total benchmark-hit shingle positions, and the token
    * length of the longest run of CONSECUTIVE hit positions (a run of r
    * consecutive n-gram hits covers r + n − 1 tokens; 0 when clean).
    *
    * Scale shape: one positional corpus shingle explode, a left-semi
    * probe of the deduped benchmark shingle set (benchmarks are tiny
    * next to the corpus → broadcast), then a PER-DOC sorted fold over
    * the doc's own hit list — the [[crossDocDupCoverageFrom]] idiom:
    * state is (prevPos, curRun, bestRun), list size is bounded by doc
    * length, no window, no SinglePartition. All-integer output ⇒
    * bit-exact in any engine.
    */
  def maxBenchmarkOverlapSpan(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 5): DataFrame =
    maxBenchmarkOverlapSpanAgainst(corpus, benchmarkShingleSet(benchmark, n), n)

  /** [[maxBenchmarkOverlapSpan]] against a precomputed
    * [[benchmarkShingleSet]] — the frozen-artifact entry point the
    * streaming gate reuses across micro-batches (the
    * [[contaminationScoresAgainst]] idiom).
    */
  def maxBenchmarkOverlapSpanAgainst(
      corpus: DataFrame,
      bs: DataFrame,
      n: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2: $n")
    val hits = graft.ops.Scale.spreadForCompute(corpus, col("doc_id"))
      .select(col("doc_id"), posexplode(shingles(col("text"), n)).as(Seq("pos", "s")))
      .join(bs, Seq("s"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    // fold: acc = (prevPos, curRun, bestRun); a hit at p extends the
    // run iff p == prevPos + 1 (positions are distinct and sorted)
    val folded = hits.select(
      col("doc_id"),
      size(col("ps")).cast("bigint").as("n_hits"),
      aggregate(col("ps"),
        struct(lit(-2).cast("int").as("p"), lit(0).cast("int").as("r"),
          lit(0).cast("int").as("b")),
        (acc, p) => {
          val run = when(p === acc("p") + 1, acc("r") + 1).otherwise(lit(1))
          struct(p.as("p"), run.as("r"), greatest(acc("b"), run).as("b"))
        },
        acc => acc("b")).cast("bigint").as("max_run"))
    corpus
      .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(folded, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("max_run") + (n - 1), lit(0L)).as("max_span_tokens"))
      .orderBy("doc_id")
  }

  /** PII detector patterns — simple character classes only, valid with
    * identical semantics in Java regex (Spark codegen) and RE2 (DuckDB),
    * so the scan is oracle-checkable. Heuristic by design: a production
    * pass would add locale-specific validators AFTER this cheap
    * distributed pre-filter.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "url" -> "https?://[A-Za-z0-9./_%?=&#-]+",
    "ipv4" -> "([0-9]{1,3}\\.){3}[0-9]{1,3}",
    "phone" -> "\\+[0-9][0-9()\\-. ]{7,}[0-9]")

  /** Per-source PII hit totals (map-side regexp counting, one shuffle). */
  def piiStats(documents: DataFrame): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as(s"c_$name")
    }
    documents
      .select(col("source") +: counts: _*)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        PiiPatterns.map { case (name, _) =>
          sum(col(s"c_$name")).cast("bigint").as(s"n_$name")
        }: _*)
      .orderBy("source")
  }

  /** Per-domain URL statistics — the domain-level audit table of a
    * CC-style ingest (domain blocklists, host-concentration review):
    * extract every URL with the shared PII url pattern, take the
    * lowercased authority (host[:port] — the chars before the first
    * path slash), count URL hits and distinct citing documents per
    * domain. Map-side regexp + one shuffle on the domain key; top-`k`
    * by (n_urls DESC, domain) keeps the output stable and bounded.
    */
  def domainStats(documents: DataFrame, k: Int = 50): DataFrame = {
    val urlPat = PiiPatterns.toMap.apply("url")
    documents
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(urlPat), lit(0))).as("url"))
      .select(col("doc_id"),
        lower(regexp_extract(col("url"), "^https?://([^/]+)", 1)).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct("doc_id").as("n_docs"))
      .orderBy(desc("n_urls"), asc("domain"))
      .limit(k)
  }

  /** Redact every PII match with a typed placeholder — the map-side
    * scrub pass run before training-data export. Phone runs BEFORE
    * ipv4: the ipv4 pattern would otherwise eat the middle of a
    * dot-separated phone number ("+1.415.555.0199" → "+[IPV4]9"),
    * leaking digits instead of emitting [PHONE]; an IP never starts
    * with '+', so the swap cannot regress IP redaction.
    */
  def piiRedact(text: Column): Column = {
    val byName = PiiPatterns.toMap
    Seq("email", "url", "phone", "ipv4").foldLeft(text) { case (c, name) =>
      // Locale.ROOT: a tr_TR default locale would uppercase to [İPV4]
      regexp_replace(c, byName(name), s"[${name.toUpperCase(java.util.Locale.ROOT)}]")
    }
  }

  /** Per-language token statistics (map-side token counting, one
    * shuffle on lang).
    */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), size(tokens(col("text"))).as("tok"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tok").cast("bigint").as("total_tokens"),
        round(avg("tok"), 4).as("avg_tokens"))
      .orderBy("lang")

  /** Per-document quality features: token count, distinct-token ratio
    * (repetition signal), mean token length — the standard cheap
    * pre-training quality filters, all computed map-side.
    */
  def qualityFeatures(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(
        col("doc_id"),
        col("n_chars"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_uniq"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"),
        // zero-token (blank) documents: NULL ratios, not an ANSI
        // divide-by-zero that kills the whole job on one bad row
        round(when(col("n_tokens") > 0,
          col("n_uniq") / col("n_tokens")), 6).as("uniq_ratio"),
        // chars minus the n_tokens-1 separating spaces, per token
        round(when(col("n_tokens") > 0,
          (col("n_chars") - (col("n_tokens") - 1)) / col("n_tokens")), 4).as("avg_tok_len"))
  }

  /** Gopher-style repetition signals per document — the standard
    * pre-training repetition filters: duplicate-word fraction,
    * top-word fraction, duplicate-bigram fraction. A document whose
    * mass concentrates in few words/bigrams is boilerplate or spam.
    *
    * Scale shape: two two-phase aggregations (word counts, bigram
    * counts) with map-side partials, joined on doc_id — no windows, no
    * full-array aggregation of a document's tokens on one reducer.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val words = documents.select(col("doc_id"), explode(toks).as("w"))
    val wordAgg = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").cast("bigint").as("n_words"),
        count(lit(1)).as("n_uniq"),
        max("c").as("top"))
    // adjacent-word bigrams via two shifted slices; a 1-word document
    // has no bigrams and its fraction is defined as 0
    val bigrams = documents.select(col("doc_id"),
      explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("bg"))
    val biAgg = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").cast("bigint").as("nb"),
        count(lit(1)).as("nbu"))
    wordAgg.join(biAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"),
        round((col("n_words") - col("n_uniq")) / col("n_words").cast("double"), 6)
          .as("dup_word_frac"),
        round(col("top") / col("n_words").cast("double"), 6).as("top_word_frac"),
        round(coalesce((col("nb") - col("nbu")) / col("nb").cast("double"), lit(0.0)), 6)
          .as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Segment-level (line/paragraph) dedup across the WHOLE corpus —
    * the CCNet shape: split every document on `sep`, keep each distinct
    * segment only at its first occurrence (smallest (doc_id, position)),
    * and reconstruct documents from their surviving segments in order.
    * Boilerplate lines shared by thousands of pages survive exactly
    * once, in the earliest document. A document whose every segment is
    * seen earlier disappears entirely (no output row), matching the
    * min-id-wins contract of the document-level dedups.
    *
    * Scale shape: the first-occurrence winner is a groupBy(segment) with
    * a partial MIN of the (doc_id, idx) struct — map-side combine, no
    * window over the segment key, so a boilerplate segment occurring a
    * billion times costs one reducer one min, not a sort. Reconstruction
    * aggregates only the KEPT rows per document.
    */
  def segmentDedup(documents: DataFrame, sep: String = "\n"): DataFrame = {
    val segs = documents
      .select(col("doc_id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep))))
      .toDF("doc_id", "idx", "seg")
    val first = segs.groupBy("seg")
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      .select(col("seg").as("fseg"), col("f.doc_id").as("fdoc"), col("f.idx").as("fidx"))
    val kept = segs.join(first,
      col("seg") === col("fseg") && col("doc_id") === col("fdoc") && col("idx") === col("fidx"))
      .select("doc_id", "idx", "seg")
    kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("seg")))),
            s => s.getField("seg")), sep).as("text_deduped"))
      .orderBy("doc_id")
  }

  /** Composable quality-filter verdict pass — the Dolma/CCNet
    * "attributes" shape: evaluate every rule per document as an
    * explicit boolean column (auditable, re-aggregatable), then AND
    * them into `keep`. Rules: token count in [minWords, maxWords],
    * duplicate-word fraction ≤ maxDupWordFrac, top-word fraction ≤
    * maxTopWordFrac, mean token length in [3, 12]. Entirely map-side
    * except the repetition aggregates (two-phase).
    *
    * Keeping per-rule flags instead of a bare filter matters
    * operationally at 100 TB: one attributes pass supports ANY
    * downstream threshold sweep without rescanning the corpus.
    */
  def filterVerdicts(
      documents: DataFrame,
      minWords: Long = 10L,
      maxWords: Long = 100000L,
      maxDupWordFrac: Double = 0.9,
      maxTopWordFrac: Double = 0.3): DataFrame = {
    val rep = repetitionStats(documents)
    rep.select(
      col("doc_id"),
      (col("n_words") >= minWords && col("n_words") <= maxWords).as("ok_len"),
      (col("dup_word_frac") <= maxDupWordFrac).as("ok_dup"),
      (col("top_word_frac") <= maxTopWordFrac).as("ok_top"))
      .select(col("doc_id"), col("ok_len"), col("ok_dup"), col("ok_top"),
        (col("ok_len") && col("ok_dup") && col("ok_top")).as("keep"))
      .orderBy("doc_id")
  }

  /** Unigram log-probability scoring — the cheap corpus-level fluency /
    * outlier signal (a perplexity proxy without an external LM): token
    * probabilities are the corpus's OWN unigram frequencies, and each
    * document scores the mean log10 probability of its tokens. Gibberish
    * and vocabulary-outlier documents score far below the mode.
    *
    * Two passes, both shuffle-light: a (token → count) aggregate with
    * map-side combine builds the model (vocabulary-sized, NOT
    * corpus-sized); scoring re-joins tokens to it on the token key. At
    * 100 TB the model table is broadcastable for any real vocabulary.
    */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val words = documents.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val model = words.groupBy("w").agg(count(lit(1)).as("c"))
    val total = model.agg(sum("c")).first().getLong(0).toDouble
    words
      .join(broadcast(model), Seq("w"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_tokens"),
        round(avg(log(10.0, col("c") / total)), 6).as("mean_logp"))
      .orderBy("doc_id")
  }

  /** Bigram language-model fluency score — the step from
    * [[unigramLogProb]] toward a CCNet-style LM filter: the corpus's
    * own adjacent-word bigram counts form the model, context counts
    * derive from the model itself (c(w1) = Σ_w2 c(w1,w2)), and each
    * document scores the mean add-one-smoothed conditional
    * log-probability log10((c(w1,w2)+1) / (c(w1)+V)) over its bigrams,
    * with V the corpus word-type count. Word-salad documents score far
    * below fluent prose even when every unigram is individually
    * common — exactly the signal the unigram score cannot see.
    *
    * Scale shape: the model is ONE (w1, w2) count aggregate with
    * map-side combine (bigram-type-bounded, far below corpus size);
    * context counts re-aggregate the MODEL, not the corpus; V is a
    * vocabulary-sized distinct count riding the same 1-row
    * broadcast-cross-join idiom as A10/X62/X63. Scoring equi-joins doc
    * bigrams to the model on the (w1, w2) key — AQE broadcasts the
    * model when it fits, hash-joins otherwise — so the corpus text is
    * scanned twice (bigrams, vocab) and its token stream never
    * shuffles; only (doc_id, bigram) pairs move. Docs with fewer than
    * 2 tokens have no bigrams and drop out (callers score them with
    * [[unigramLogProb]] instead).
    */
  /** (keys..., w1, w2) bigram stream — the ONE explode definition
    * behind the self-trained (X70), held-out (X91) and per-source
    * (X92) LMs, so a slicing fix lands in all three at once (the
    * zero-token slice guard here has been patched before).
    */
  private def bigramRows(df: DataFrame, keys: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    df.select(keys.map(col) :+
        explode(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"): _*)
      .select(keys.map(col) :+ col("bg.w1").as("w1") :+
        col("bg.w2").as("w2"): _*)
  }

  def bigramLogProb(documents: DataFrame): DataFrame =
    bigramLogProbUnordered(documents).orderBy("doc_id")

  /** [[bigramLogProb]] without the final doc_id sort — for internal
    * consumers ([[perplexityBuckets]]) that immediately re-aggregate or
    * re-rank by VALUE, where the scorer's row order is irrelevant and
    * the global sort would cost a range exchange + boundary-sample job
    * per materialization. Same rows, same values — only the order
    * differs.
    */
  private[graft] def bigramLogProbUnordered(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // single-row-group rescue: the tokenize/explode passes (bigrams AND
    // vocab) and the model probe are all narrow over the documents
    // scan, so a small corpus file pins them to one task; per-doc
    // values are bit-identical under the doc_id spread (order preserved
    // within a doc, counts exact) — Scale.spreadForCompute scaladoc
    val docs = graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
    val bgs = bigramRows(docs, Seq("doc_id"))
    val model = bgs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // context counts fold the model, so model+context is one join of
    // two model-sized sides, prepared BEFORE the corpus-sized probe
    val withCtx = model.join(
      model.groupBy("w1").agg(sum("c12").as("c1")), Seq("w1"))
    val vocab = docs.select(explode(toks).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    bgs.join(withCtx, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_bigrams"),
        round(avg(log(10.0,
          (col("c12") + lit(1)).cast("double") /
            (col("c1") + col("v")).cast("double"))), 6).as("mean_logp"))
  }

  /** [[bigramLogProb]] under a model trained on a SEPARATE training
    * corpus — the leakage-free held-out scoring discipline: a
    * self-trained score (X70) rewards memorized duplicates because
    * every document contributes its own bigrams to the model it is
    * scored by, while a held-out model measures fluency the scored
    * text never influenced. Add-one smoothing extends off the training
    * support: an unseen bigram over a seen context scores
    * (0+1)/(c1+V), an unseen context the uniform (0+1)/(0+V).
    * Output: (doc_id, n_bigrams, mean_logp) for every scored doc with
    * ≥ 2 tokens — [[bigramLogProb]]'s schema, so the bucketing and
    * gate machinery downstream compose unchanged.
    *
    * Scale shape: X70's — the model/context/vocab sides are
    * training-corpus aggregates prepared once; scoring is one
    * (doc_id, bigram) explode probed through two model-sized left
    * joins and the 1-row vocab broadcast. Nothing corpus-sized
    * shuffles except the bigram pairs themselves.
    */
  def bigramLogProbFrom(
      trainDocs: DataFrame,
      scoreDocs: DataFrame): DataFrame = {
    // single-row-group rescue on both sides (see bigramLogProbUnordered)
    val train = graft.ops.Scale.spreadForCompute(trainDocs, col("doc_id"))
    val model = bigramRows(train, Seq("doc_id"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = model.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = train.select(explode(tokens(col("text"))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    bigramRows(graft.ops.Scale.spreadForCompute(scoreDocs, col("doc_id")),
        Seq("doc_id"))
      .join(model, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_bigrams"),
        round(avg(log(10.0,
          (coalesce(col("c12"), lit(0L)) + lit(1)).cast("double") /
            (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))), 6)
          .as("mean_logp"))
      .orderBy("doc_id")
  }

  /** [[bigramLogProbFrom]] under interpolated ABSOLUTE-DISCOUNT
    * smoothing (the Kneser–Ney family production perplexity filters
    * use — CCNet's KenLM models are KN-smoothed) instead of add-one:
    * a fixed discount D is subtracted from every seen bigram count and
    * the freed mass is interpolated with the CONTINUATION distribution
    * P_cont(w) ∝ |{v : c(v,w) > 0}| — "how many contexts does w
    * complete", the novel-continuation signal that makes KN rank
    * common-but-context-bound words (e.g. "Francisco") below genuinely
    * productive ones. Add-one smoothing (X91) over-taxes frequent
    * contexts and scores all unseen bigrams of a context identically;
    * the discounted form is the shape whose perplexities track fluency
    * closely enough to gate corpora on.
    *
    * Exact semantics (engine-portable, every term a train-side count):
    *  - P_cont(w) = (N1p(·,w) + 1) / (B + V), B = distinct train
    *    bigram types, V = distinct train unigrams — add-one extension
    *    off the training support so unseen WORDS keep nonzero mass
    *    (held-out scoring must never log(0); the same discipline X91's
    *    unseen-context uniform uses).
    *  - seen context v: P(w|v) = max(c(v,w)−D, 0)/c(v)
    *      + (D·N1p(v,·)/c(v)) · P_cont(w)
    *    (mass check: the interpolation weight is exactly the mass the
    *    max(·−D,0) truncation removed, so Σ_w P(w|v) = 1 up to the
    *    P_cont add-one extension).
    *  - unseen context v: P(w|v) = P_cont(w) (back off entirely).
    * Output: (doc_id, n_bigrams, mean_logp) — [[bigramLogProb]]'s
    * schema; mean_logp = round(avg(log10 P), 6).
    *
    * Scale shape: X91's exactly — the model/context/continuation/total
    * sides are TRAIN-corpus aggregates (model-sized, all derived from
    * the one (w1,w2) count table, whose repeated subtree Catalyst
    * de-duplicates via exchange reuse); scoring is one (doc_id,
    * bigram) explode probed through three model-sized left joins and a
    * 1-row broadcast. Nothing corpus-sized shuffles except the bigram
    * pairs themselves.
    */
  def bigramLogProbDiscounted(
      trainDocs: DataFrame,
      scoreDocs: DataFrame,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1): $discount")
    // single-row-group rescue on both sides (see bigramLogProbUnordered)
    val train = graft.ops.Scale.spreadForCompute(trainDocs, col("doc_id"))
    val model = bigramRows(train, Seq("doc_id"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // c1 = context total, n1p = distinct continuations of the context
    val ctx = model.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    // contc = in how many distinct contexts does w2 appear
    val cont = model.groupBy("w2").agg(count(lit(1)).as("contc"))
    val totals = model.agg(count(lit(1)).as("b")).crossJoin(
      train.select(explode(tokens(col("text"))).as("w"))
        .agg(count_distinct(col("w")).as("v")))
    val d = lit(discount)
    val pcont = (coalesce(col("contc"), lit(0L)) + 1).cast("double") /
      (col("b") + col("v")).cast("double")
    val pSeen =
      greatest(coalesce(col("c12"), lit(0L)).cast("double") - d, lit(0.0)) /
        col("c1").cast("double") +
      d * col("n1p").cast("double") / col("c1").cast("double") * pcont
    val p = when(col("c1").isNull, pcont).otherwise(pSeen)
    bigramRows(graft.ops.Scale.spreadForCompute(scoreDocs, col("doc_id")),
        Seq("doc_id"))
      .join(model, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_bigrams"),
        round(avg(log(10.0, p)), 6).as("mean_logp"))
      .orderBy("doc_id")
  }

  /** Source-affinity LM matrix: for every ordered (scored source,
    * model source) pair, the mean over the scored source's documents
    * of their per-doc mean bigram log-probability under the model
    * source's add-one bigram LM ([[bigramLogProbFrom]]'s smoothing,
    * per source) — "which sources speak the same language". The
    * diagonal is each source's self-fluency; a LOW off-diagonal cell
    * says the two sources are linguistically far, the signal mixture
    * design (X48/X74/X79) wants before weighting sources as
    * interchangeable.
    *
    * Output: (scored_source, model_source, n_docs, avg_logp), one row
    * per ordered source pair, avg_logp rounded 6 dp.
    *
    * Scale shape: ALL per-source models come out of ONE
    * (source, bigram) aggregation (adding a grouping key, not a pass);
    * the probe crosses the bigram stream with the SOURCES-sized
    * broadcast (|S| is a small constant — the stream grows |S|-fold,
    * linear in corpus × sources) and left-joins the two model-sized
    * sides; everything after the per-doc aggregate is |S|²-sized.
    *
    * `minVocabOverlap` > 0 scores only source PAIRS whose word-type
    * sets have Jaccard overlap ≥ the floor — the large-|S| escape
    * hatch: with 100+ sources the full |S|²-fold probe is mostly cells
    * between sources that share no vocabulary (whose score is the
    * uninformative smoothing floor anyway), so a mixture designer
    * prunes those pairs BEFORE the probe pays for them. The overlap
    * test is one vocab-sized (source, word) self-join producing an
    * |S|²-bounded pair table; the probe stream then grows only
    * |kept pairs|-fold instead of |S|-fold. The diagonal (overlap 1)
    * always survives, and the kept cells equal the full matrix's cells
    * EXACTLY (the filter selects pairs, it never changes a model —
    * spec-pinned). Default 0.0 = the full matrix, no extra pass.
    */
  def sourceLmMatrix(
      documents: DataFrame,
      minVocabOverlap: Double = 0.0): DataFrame = {
    require(minVocabOverlap >= 0.0 && minVocabOverlap <= 1.0,
      s"minVocabOverlap=$minVocabOverlap must be in [0, 1]")
    val toks = tokens(col("text"))
    // single-row-group rescue: every pass below (bigram explode, vocab
    // explode, the |S|-fold probe chain) is narrow over the documents
    // scan or the checkpointed stream, so a small corpus file pinned
    // the whole matrix to one task (measured: a 3.2 s single-task
    // probe stage on 32 cores) — see Scale.spreadForCompute
    val docs = graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
    // consumed by the model aggregation AND the |S|-fold probe — one
    // tokenize/explode pass, not two (the X81 lazy-checkpoint idiom)
    val bgs = bigramRows(docs, Seq("doc_id", "source"))
      .localCheckpoint(false)
    val model = bgs.groupBy("source", "w1", "w2").agg(count(lit(1)).as("c12"))
      .withColumnRenamed("source", "model_source")
    val ctx = model.groupBy("model_source", "w1").agg(sum("c12").as("c1"))
    val vocab = docs
      .select(col("source").as("model_source"), explode(toks).as("w"))
      .groupBy("model_source").agg(count_distinct(col("w")).as("v"))
    // the |S|-fold fan-out table: every (model_source, v) row fans the
    // bigram stream once; with a pair floor, only kept pairs fan out
    val fanout =
      if (minVocabOverlap <= 0.0)
        documents.select("source").distinct().crossJoin(vocab)
      else {
        val sv = docs.select(col("source"), explode(toks).as("w")).distinct()
          .localCheckpoint(false)
        val sizes = sv.groupBy("source").agg(count(lit(1)).as("nv"))
        val inter = sv.as("a")
          .join(sv.as("b"), Seq("w"))
          .groupBy(col("a.source").as("source"), col("b.source").as("model_source"))
          .agg(count(lit(1)).as("ni"))
        // nvb IS the model source's distinct-word count — the same
        // number `vocab` computes — so the smoothing V rides the size
        // table instead of paying a second tokenize+explode corpus pass
        inter
          .join(sizes.select(col("source"), col("nv").as("nva")), Seq("source"))
          .join(sizes.select(col("source").as("model_source"), col("nv").as("nvb")),
            Seq("model_source"))
          .filter(col("ni").cast("double") / (col("nva") + col("nvb") - col("ni"))
            >= minVocabOverlap)
          .select(col("source"), col("model_source"), col("nvb").as("v"))
      }
    val perDoc = bgs
      .join(broadcast(fanout), Seq("source"))
      .join(model, Seq("model_source", "w1", "w2"), "left")
      .join(ctx, Seq("model_source", "w1"), "left")
      .groupBy("doc_id", "source", "model_source")
      .agg(avg(log(10.0,
        (coalesce(col("c12"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))).as("logp"))
    perDoc.groupBy(col("source").as("scored_source"), col("model_source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        round(avg(col("logp")), 6).as("avg_logp"))
      .orderBy("scored_source", "model_source")
  }

  /** CCNet-style LM-score bucketing (Wenzek et al. 2020, CCNet —
    * public): rank every scored document by the corpus bigram-LM
    * fluency score ([[bigramLogProb]]) and split the ranking into
    * `nBuckets` equal-mass buckets — bucket 0 = head (most fluent),
    * last = tail. The standard head/middle/tail filter keeps or
    * re-weights BUCKETS rather than hard-thresholding a score whose
    * scale drifts per corpus and language. Documents with fewer than
    * two tokens carry no bigram and are absent, matching the scorer.
    *
    * bucket = floor((rank−1)·nBuckets / n): exact integer arithmetic
    * over the ROUNDED score's (mean_logp DESC, doc_id) rank, so rank
    * and bucket are engine-portable; the rank comes from the
    * distributed global row number — no single-partition window.
    */
  def perplexityBuckets(documents: DataFrame, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    // LAZY checkpoint: the global-row-number machinery drives the input
    // through three separate jobs (boundary sample, bucket counts,
    // final pass) and the normalizer count is a fourth — without this
    // the bigram scorer (explode + vocab join) re-runs per job
    // (measured 3.5 s → 1.3 s at sf0.1). Lazy, so plan-only callers
    // trigger no work; the scored table is 2 columns per doc — the
    // same per-executor footprint class as the dedup edge lists.
    val scores = bigramLogProbUnordered(documents)
      .select("doc_id", "mean_logp")
      .localCheckpoint(false)
    val ranked = graft.ops.ScalableWindows.withGlobalRowNumber(
        scores.withColumn("__neg", -col("mean_logp")),
        Seq("__neg", "doc_id"), "rank")
      .drop("__neg")
    val n = scores.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket",
        floor((col("rank") - 1).cast("double") * nBuckets / col("__n"))
          .cast("long"))
      .select("doc_id", "mean_logp", "rank", "bucket")
      .orderBy("rank")
  }

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. On real corpora these would be frequent function words
    * per language; the synthetic corpus shares one vocabulary, so the
    * sets are fixed disjoint probes — the *mechanism* (marker counting,
    * deterministic argmax) is the operator.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("order", "group", "window"),
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("data", "table", "row"),
    "fr" -> Seq("query", "join", "merge"),
    "zh" -> Seq("hash", "scan", "sort"))

  /** Language identification: count marker-word hits per language and
    * take the argmax (alphabetical tie-break). Map-side only.
    */
  def withPredictedLang(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val counted = langMarkers.foldLeft(documents) { case (df, (lang, markers)) =>
      df.withColumn(
        s"c_$lang",
        size(filter(toks, w => w.isin(markers.map(lit): _*))))
    }
    val mx = greatest(langMarkers.map { case (l, _) => col(s"c_$l") }: _*)
    // alphabetical order ⇒ deterministic tie-break
    val pred = langMarkers.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, _)) => when(col(s"c_$lang") === mx, lang).otherwise(acc)
    }
    counted.withColumn("pred_lang", pred)
      .drop(langMarkers.map { case (l, _) => s"c_$l" }: _*)
  }

  /** Language-ID evaluation: confusion counts actual × predicted. */
  def langIdConfusion(documents: DataFrame): DataFrame =
    withPredictedLang(documents)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  /** Content fingerprint: 128-bit MD5 of the text. Grouping on the
    * fingerprint instead of the raw text is the 100 TB exact-dedup plan
    * — the shuffle moves 32-byte keys, not documents.
    */
  def fingerprint(text: Column): Column = md5(text)

  /** Exact-dedup winners via fingerprint grouping: MIN(doc_id) kept per
    * duplicated fingerprint (hash-groupBy dedup; same contract as L02
    * but scale-safe because the groupBy key is 32 bytes).
    */
  def fingerprintDedupWinners(documents: DataFrame): DataFrame =
    documents
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("keep_id", "n")
      .orderBy("keep_id")

  /** Exact n-gram Jaccard similarity ≥ `threshold` between all document
    * pairs, computed relationally: distinct shingles per doc, a
    * shingle-keyed equi-join for intersection sizes, set sizes joined
    * back.
    *
    * Hot-key control (same stop-fingerprint move as [[winnowPairsFromFingerprints]]):
    * shingles present in more than `maxDf` documents are dropped BEFORE
    * the self-join. Without the cap the join is quadratic in each
    * shingle's document frequency — a boilerplate 3-gram shared by 10⁶
    * docs is a 10¹²-row join key at corpus scale. A shingle that common
    * carries no pairwise-similarity signal, so dropping it bounds the
    * join at ≤ maxDf²/2 rows per key while leaving near-dup pairs
    * intact; Jaccard is computed over the retained sets on BOTH sides,
    * so exact duplicates still score exactly 1.0. The MinHash module
    * replaces the exact intersection with banded signatures at 100 TB.
    *
    * The default is UNCAPPED (exact Jaccard over the full shingle
    * sets): the MinHash/winnow specs use this form as their exact
    * ground truth, and a silently capped baseline would shrink what
    * "recall vs exact" measures. Production callers and the declared
    * X05 query pass an explicit `maxDf` (the oracle SQL mirrors the
    * same literal cap). An uncapped call over an input whose plan-
    * estimated size exceeds ~32 MB (≈10⁵ typical documents) logs a
    * WARN so the footgun announces itself — pass any finite `maxDf`
    * (or run on a small fixture) to stay silent.
    */
  /** The quadratic-footgun announcement shared by every consumer of
    * [[ngramPairCounts]] — one copy, so the gate condition and the
    * advice can never drift between the set-similarity measures.
    */
  private def warnIfUncapped(caller: String, documents: DataFrame, maxDf: Int): Unit =
    if (uncappedJaccardWarnNeeded(documents, maxDf))
      logger.warn(
        s"$caller called UNCAPPED (maxDf=Int.MaxValue) on an input " +
        s"estimated at ${documents.queryExecution.optimizedPlan.stats.sizeInBytes} bytes " +
        s"(> $UncappedJaccardWarnBytes): the shingle self-join is quadratic in each " +
        s"hot shingle's document frequency. Pass maxDf (e.g. 50) to bound the join, " +
        s"or use MinHashDedup for corpus-scale near-dup detection.")

  def ngramJaccardPairs(documents: DataFrame, n: Int, threshold: Double,
      maxDf: Int = Int.MaxValue): DataFrame = {
    warnIfUncapped("ngramJaccardPairs", documents, maxDf)
    ngramJaccardPairsFromCounts(ngramPairCounts(documents, n, maxDf), threshold)
  }

  /** [[ngramJaccardPairs]]' measure algebra over an already-computed
    * (persisted) pair-counts table — the repeat-run entry: the counts
    * are a pure deterministic function of (corpus, n, maxDf), so a
    * release run pays the shingle self-join ONCE and every overlap
    * measure / threshold sweep reads the stored (i, j, c, sz_i, sz_j)
    * rows (the verified-pairs artifact idiom applied to the n-gram
    * kernel).
    */
  def ngramJaccardPairsFromCounts(counts: DataFrame, threshold: Double): DataFrame = {
    val jac = col("c").cast("double") / (col("sz_i") + col("sz_j") - col("c"))
    counts
      .filter(jac >= threshold)
      .select(col("i"), col("j"), round(jac, 6).as("jac"))
      .orderBy("i", "j")
  }

  /** Shared capped shingle-overlap kernel behind [[ngramJaccardPairs]]
    * and [[ngramContainmentPairs]]: for every document pair sharing at
    * least one retained shingle, the intersection count and both
    * (post-cap) shingle-set sizes — (i < j, c, sz_i, sz_j). One
    * definition, so the cap semantics and the ReuseExchange shape stay
    * identical across every set-similarity measure derived from it.
    * Public so callers can PERSIST the counts once and derive every
    * measure via the `FromCounts` twins.
    */
  def ngramPairCounts(documents: DataFrame, n: Int, maxDf: Int): DataFrame = {
    // array_distinct dedups map-side; the DISTINCT after the explode is
    // then a semantic no-op, but it materializes ONE shuffled exchange
    // that all consumers below (the df filter, both join sides, sizes)
    // share via ReuseExchange — without it the whole shingle pipeline
    // re-executes per consumer (measured 3.5× slower at sf0.1)
    val shAll = graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("s"))
      .distinct()
    val rare = shAll.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("s")
    val sh = shAll.join(rare, Seq("s"), "left_semi")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
      .select(col("i"), col("j"), col("c"),
        col("sa.sz").as("sz_i"), col("sb.sz").as("sz_j"))
  }

  /** Document pairs by n-gram set CONTAINMENT — Broder's asymmetric
    * companion to [[ngramJaccardPairs]]: c / min(|S(A)|, |S(B)|), the
    * measure that catches a document EMBEDDED in a larger one (a quoted
    * article inside a long page, a chapter inside a book). Such a pair
    * scores near 1.0 containment while its symmetric Jaccard —
    * c / (|A| + |B| − c) — can sit arbitrarily low, so a Jaccard-only
    * dedup pass keeps both copies. Output: (i < j, containment,
    * jac) — both measures from the same counts, so downstream policy
    * (drop vs trim) can branch on their gap.
    *
    * Same capped kernel and the same quadratic-footgun warn gate as the
    * Jaccard path: shingles in more than `maxDf` docs are dropped
    * before the self-join, and sizes are post-cap on BOTH sides, so
    * exact duplicates still score exactly 1.0 on both measures.
    */
  def ngramContainmentPairs(documents: DataFrame, n: Int, threshold: Double,
      maxDf: Int = Int.MaxValue): DataFrame = {
    warnIfUncapped("ngramContainmentPairs", documents, maxDf)
    ngramContainmentPairsFromCounts(ngramPairCounts(documents, n, maxDf), threshold)
  }

  /** [[ngramContainmentPairs]]' measure algebra over a persisted
    * pair-counts table ([[ngramJaccardPairsFromCounts]]' twin). */
  def ngramContainmentPairsFromCounts(counts: DataFrame, threshold: Double): DataFrame = {
    val cont = col("c").cast("double") / least(col("sz_i"), col("sz_j"))
    val jac = col("c").cast("double") / (col("sz_i") + col("sz_j") - col("c"))
    counts
      .filter(cont >= threshold)
      .select(col("i"), col("j"),
        round(cont, 6).as("containment"), round(jac, 6).as("jac"))
      .orderBy("i", "j")
  }

  /** MOSS-style winnowing fingerprints: a rolling Rabin–Karp hash over
    * char `k`-grams, reduced to the distinct minima of each length-`w`
    * hash window. The winnowed set is ~2/(w+1) the size of the k-gram
    * set yet guarantees any match of length ≥ k+w-1 shares a
    * fingerprint — the standard local-fingerprinting scheme for
    * plagiarism/near-dup detection. Entirely map-side via the native
    * [[graft.functions.WinnowHash]] expression (one compiled pass per
    * document; the interpreted higher-order-function form cost ~4 µs
    * per hashed window). Docs shorter than k+w-1 chars get an empty
    * set.
    */
  def winnowFingerprints(documents: DataFrame, k: Int = 12, w: Int = 4): DataFrame =
    documents.select(col("doc_id"),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.WinnowHash(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), k, w)).as("fps"))

  /** Document pairs whose winnowing-fingerprint Jaccard ≥ `threshold` —
    * near-dup candidate detection on the compressed fingerprint sets
    * (the join key is an 8-byte hash; the set is a fraction of the
    * k-gram set).
    *
    * Hot-key control: fingerprints present in more than `maxDf`
    * documents are dropped BEFORE the self-join (the standard stop-
    * fingerprint move — a k-gram shared by hundreds of unrelated docs
    * carries no near-dup signal but would square the join). Jaccard is
    * computed over the retained sets on both sides, so exact duplicates
    * still score exactly 1.0. `k` defaults to 12 chars: long enough
    * that cross-document collisions are rare outside genuinely shared
    * spans.
    */
  def winnowPairs(
      documents: DataFrame,
      k: Int = 12,
      w: Int = 4,
      threshold: Double = 0.5,
      maxDf: Int = 50): DataFrame =
    winnowPairsFromFingerprints(
      winnowFingerprints(documents, k, w)
        .select(col("doc_id"), explode(col("fps")).as("f"))
        .distinct(),
      threshold, maxDf)

  /** The pair stage of [[winnowPairs]] from a precomputed DISTINCT
    * (doc_id, f) fingerprint table — fingerprint GENERATION is the
    * engine-specific half (the native rolling-hash kernel); everything
    * here (document-frequency stop filter, the fingerprint equi
    * self-join, exact set Jaccard) is integer-only relational algebra
    * both engines reproduce bit-for-bit, which makes the persisted-
    * fingerprint form oracle-checkable (X17).
    */
  def winnowPairsFromFingerprints(
      fpAll: DataFrame,
      threshold: Double = 0.5,
      maxDf: Int = 50): DataFrame = {
    val rare = fpAll.groupBy("f").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("f")
    val fp = fpAll.join(rare, Seq("f"), "left_semi")
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = fp.as("a")
      .join(fp.as("b"), col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") / (col("sa.sz") + col("sb.sz") - col("c"))
    inter
      .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
      .filter(jac >= threshold)
      .select(col("i"), col("j"), round(jac, 6).as("jac"))
      .orderBy("i", "j")
  }

  /** Canonical text normalization — the standard pre-dedup transform:
    * lowercase, strip everything but [a-z0-9 ], collapse whitespace
    * runs, trim. Pure map-side; patterns avoid backslash classes so the
    * same regex text is valid in both engines (H9).
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), "  *", " "))

  /** (doc_id, norm, norm_fp): normalized text + its fingerprint — the
    * dedup key that catches case/punctuation-only duplicates exact
    * hashing misses.
    */
  def normalizedDocs(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      normalized(col("text")).as("norm"),
      xxhash64(normalized(col("text"))).as("norm_fp"))
      .orderBy("doc_id")

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * corpus versions: per-document status (`added` / `removed` /
    * `changed`) from a full outer join of content FINGERPRINTS keyed by
    * doc_id — document text never shuffles, only (id, 8-byte hash)
    * rows, and `unchanged` docs (the overwhelming majority between
    * adjacent 100 TB snapshots) are dropped from the output. Hashes are
    * only ever compared within one engine, so hash equality stands in
    * for text equality on both sides of the oracle. Oracle-checked as
    * X54.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id").as("__oid"), xxhash64(col("text")).as("__of"))
    val n = newDocs.select(col("doc_id").as("__nid"), xxhash64(col("text")).as("__nf"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as("doc_id"),
        when(col("__nid").isNull, "removed")
          .when(col("__oid").isNull, "added")
          .when(col("__of") =!= col("__nf"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve — the tokenizer-sizing diagnostic: the
    * top-V corpus words by frequency, each with its prefix's cumulative
    * share of ALL token occurrences ("the top 1000 words cover 83% of
    * the corpus"). Total order is (count desc, word) so the curve is
    * deterministic.
    *
    * Scale shape: the word-count table is VOCABULARY-sized (≪ corpus;
    * one map-side-combined aggregation gets there), and the global rank
    * + prefix sum over it run through the bucketed two-pass machinery
    * ([[graft.ops.ScalableWindows]]) — no single-partition window even
    * for a 10^8-type vocabulary. Oracle-checked as X53.
    */
  def vocabCoverage(documents: DataFrame, topV: Int): DataFrame = {
    require(topV >= 1, s"topV=$topV must be positive")
    val counts = documents
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      // consumed by the total, the rank pass and the sum pass — one
      // aggregation, not three
      .localCheckpoint(true)
    val total = counts.agg(sum("cnt").cast("double").as("__tot"))
    val staged = counts.withColumn("__neg", -col("cnt"))
    val ranked = graft.ops.ScalableWindows.withGlobalRowNumber(
      staged, Seq("__neg", "w"), "rk")
    val summed = graft.ops.ScalableWindows.withGlobalRunningSum(
      ranked, Seq("__neg", "w"), "cnt", "run")
    summed
      .filter(col("rk") <= topV)
      .crossJoin(broadcast(total))
      .select(col("rk"), col("w"), col("cnt"),
        round(col("run") / col("__tot"), 6).as("coverage"))
      .orderBy("rk")
  }

  /** Sliding context-window chunker: split each document's token stream
    * into chunks of `maxTokens` words, a new chunk starting every
    * `stride` tokens (stride < maxTokens ⇒ overlapping chunks, the
    * standard long-document training shape). Trailing starts whose
    * tokens are entirely contained in the previous chunk are dropped
    * (a chunk at start s adds content iff s = 0 or
    * s + maxTokens − stride < n). Output: (doc_id, chunk_idx, n_tokens,
    * chunk), one row per chunk, chunk_idx = s / stride.
    *
    * The chunking itself is entirely map-side (split + sequence + slice
    * HOFs, one generator) — chunking 100 TB is a pure scan; the only
    * exchange in the plan is the final presentational sort, which a
    * write-path consumer drops. Oracle-checked as X50.
    */
  def chunkDocuments(
      documents: DataFrame,
      maxTokens: Int,
      stride: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens=$maxTokens must be positive")
    require(stride >= 1 && stride <= maxTokens,
      s"stride=$stride must be in [1, maxTokens]: larger strides silently drop tokens")
    val toks = tokens(col("text"))
    val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride))
    documents
      .select(col("doc_id"), toks.as("__w"), explode(starts).as("__s"))
      .filter(col("__s") === 0 ||
        col("__s") + lit(maxTokens - stride) < size(col("__w")))
      .select(
        col("doc_id"),
        (col("__s") / stride).cast("long").as("chunk_idx"),
        size(slice(col("__w"), col("__s") + 1, lit(maxTokens))).cast("long").as("n_tokens"),
        array_join(slice(col("__w"), col("__s") + 1, lit(maxTokens)), " ").as("chunk"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Sequence packing for training pipelines: concatenate documents in
    * doc_id order and chunk the token stream into bins of `maxTokens` —
    * each document is assigned the bin where it STARTS
    * (bin = floor((prefix_sum − own_tokens) / maxTokens)). Deterministic,
    * SQL-expressible (oracle-checked as X18) and computed with the
    * distributed prefix sum — no single-partition window.
    */
  def packIntoBins(documents: DataFrame, maxTokens: Long): DataFrame = {
    val withTok = documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    graft.ops.ScalableWindows
      .withGlobalRunningSum(withTok, Seq("doc_id"), "n_tokens", out = "cum")
      .select(col("doc_id"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / maxTokens).cast("bigint").as("bin"))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated n-gram coverage — the exact-substring
    * dedup signal (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499, public): for every
    * document, the fraction of its tokens covered by an n-gram that
    * also appears in at least one OTHER document. Cross-doc verbatim
    * overlap, complementing [[repetitionStats]] (within-doc, Gopher)
    * and the probabilistic MinHash path (whole-doc similarity) —
    * high-coverage docs are boilerplate/mirror candidates the
    * similarity sketch can miss when the rest of the doc differs.
    *
    * Output per document: (doc_id, n_tokens, shared_pos = positions
    * starting a cross-doc-shared n-gram, covered_tokens = size of the
    * union of their n-token spans, dup_frac = covered/n_tokens to
    * 6 dp). Docs shorter than n tokens report zero coverage.
    *
    * Scale shape: shingles shuffle once to find the shared set
    * (HAVING ≥ 2 distinct docs), hit positions come back through a
    * semi-join, and the span-union is a PER-DOC sorted fold (an
    * `aggregate` HOF over the doc's own hit list — state is one
    * (lastEnd, covered) pair, list size is bounded by doc length):
    * the n-fold position blow-up a naive explode-the-spans plan pays
    * never materializes. All-integer arithmetic plus one final
    * division ⇒ bit-exact in any engine (the oracle uses the naive
    * explode — same integers, different plan).
    */
  /** Per-doc sorted 0-based positions of n-grams shared with at least
    * one OTHER document: (doc_id, ps) — only docs with a hit appear.
    * The shared machinery of [[crossDocDupCoverage]] and
    * [[removeSharedSpans]]. "Appears in ≥2 distinct docs" is tested as
    * min(doc_id) ≠ max(doc_id): one partial-aggregated pass, no
    * COUNT(DISTINCT) Expand of the shingle stream (the residual cost
    * is the string-shingle exchange itself, which exactness requires —
    * hashing the shingle key would admit cross-doc collisions).
    *
    * Public because the hit lists are the natural PERSISTED
    * intermediate of an exact-substring dedup pass: compute once,
    * store (doc_id, ps), then derive both the coverage audit
    * ([[crossDocDupCoverageFrom]]) and the rewrite
    * ([[removeSharedSpansFrom]]) without re-paying the shingle
    * shuffle — the X67/X68 declared queries share one such artifact.
    */
  def crossDocHitLists(documents: DataFrame, n: Int): DataFrame = {
    val sh = graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      .select(col("doc_id"), posexplode(shingles(col("text"), n)).as(Seq("pos", "s")))
    val shared = sh.groupBy("s")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select("s")
    sh.join(shared, Seq("s"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
  }

  def crossDocDupCoverage(documents: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2: $n")
    crossDocDupCoverageFrom(documents, crossDocHitLists(documents, n), n)
  }

  /** [[crossDocDupCoverage]] downstream of a precomputed/persisted
    * (doc_id, ps) hit-list artifact ([[crossDocHitLists]]).
    */
  def crossDocDupCoverageFrom(
      documents: DataFrame,
      hits: DataFrame,
      n: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2: $n")
    // fold: acc = (lastEnd, covered); each hit at p covers [p, p+n)
    val folded = hits.select(
      col("doc_id"),
      size(col("ps")).cast("bigint").as("shared_pos"),
      aggregate(col("ps"),
        struct(lit(-1).cast("int").as("e"), lit(0).cast("int").as("c")),
        (acc, p) => struct(
          greatest(acc("e"), p + lit(n)).as("e"),
          (acc("c") + (p + lit(n) - greatest(acc("e"), p))).as("c")),
        acc => acc("c")).cast("bigint").as("covered_tokens"))
    documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(folded, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("shared_pos"), lit(0L)).as("shared_pos"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Compression-ratio quality signal: per doc, the DEFLATE-compressed
    * length of the UTF-8 text over its raw byte length. Highly
    * templated or repetitive text compresses far below typical prose —
    * the cheap corpus-free complement to the n-gram repetition
    * heuristics ([[repetitionStats]]); public pipelines gate on it
    * (e.g. the MassiveText filters, Rae et al. 2021). Pure map-side
    * over a codegen'd native expression
    * ([[graft.functions.DeflateLen]]) — no shuffle, no UDF.
    *
    * Rows-only by construction: no portable SQL engine exposes zlib as
    * a scalar, so the pin is the spec's monotonicity law (repetitive ≪
    * prose ≪ high-entropy) plus byte-exact determinism, not a DuckDB
    * hash.
    */
  def compressionStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      octet_length(col("text")).as("raw_bytes"),
      graft.functions.VectorFunctions.deflateLen(col("text")).as("deflate_bytes"))
      .withColumn("compression_ratio",
        round(col("deflate_bytes").cast("double") /
          greatest(col("raw_bytes"), lit(1)).cast("double"), 6))
      .orderBy("doc_id")

  /** Rewrite every document with its cross-document-shared n-gram
    * spans REMOVED — the transform half of exact-substring dedup (Lee
    * et al. 2021 §4: cut the duplicated span, keep the unique
    * remainder, rather than dropping whole documents). Output:
    * (doc_id, text) for every input doc; docs with no shared span pass
    * through verbatim; a fully-covered doc becomes the empty string
    * (callers typically drop empties next).
    *
    * Scale shape: the hit lists come from [[crossDocHitLists]] (one
    * shingle shuffle); the rewrite itself is a MAP-SIDE per-doc fold
    * over the sorted hit positions emitting the uncovered token
    * RANGES — O(len + hits) per doc, never the O(len·hits) a
    * position-wise exists() scan would pay, and the corpus token
    * stream never shuffles.
    */
  def removeSharedSpans(documents: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2: $n")
    rewriteWithoutSpans(documents, crossDocHitLists(documents, n), n)
  }

  /** [[removeSharedSpans]] downstream of a precomputed/persisted
    * (doc_id, ps) hit-list artifact ([[crossDocHitLists]]).
    */
  def removeSharedSpansFrom(
      documents: DataFrame,
      hits: DataFrame,
      n: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2: $n")
    rewriteWithoutSpans(documents, hits, n)
  }

  /** Surgical benchmark decontamination — the span-level complement of
    * the doc-level [[contaminationScores]] gate (X30): instead of
    * DROPPING a document whose n-gram overlap with the benchmark
    * crosses a threshold, CUT exactly the overlapping spans and keep
    * the unique remainder (the [[removeSharedSpans]] rewrite, with the
    * hit set coming from the benchmark instead of from cross-document
    * sharing). The pipeline use: a long document quoting one benchmark
    * question keeps its other 99% instead of being discarded.
    *
    * Scale shape: the benchmark side deduplicates to distinct shingles
    * (benchmarks are tiny next to the corpus — Spark broadcasts the
    * semi-join side), the corpus pays the same map-side positional
    * shingle explode as every dedup pass, and the rewrite is the
    * map-side O(len + hits) range fold. The corpus token stream never
    * shuffles.
    */
  def scrubBenchmarkSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 5): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2: $n")
    val sh = graft.ops.Scale.spreadForCompute(corpus, col("doc_id"))
      .select(col("doc_id"), posexplode(shingles(col("text"), n)).as(Seq("pos", "s")))
    val bs = benchmark
      .select(explode(array_distinct(shingles(col("text"), n))).as("s"))
      .distinct()
    val hits = sh.join(bs, Seq("s"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    rewriteWithoutSpans(corpus, hits, n)
  }

  /** Shared rewrite of [[removeSharedSpans]] / [[scrubBenchmarkSpans]]:
    * given per-doc sorted hit positions `ps` (each hit at p covers
    * tokens [p, p+n)), emit every doc with the covered spans cut —
    * docs absent from `hits` pass through verbatim.
    */
  private def rewriteWithoutSpans(
      documents: DataFrame,
      hits: DataFrame,
      n: Int): DataFrame = {
    // bindOnce: the fold's merge lambda slices the token array at every
    // hit position — an unbound tokens(text) would re-split the whole
    // document per hit (see bindOnce's scaladoc)
    val cleaned = bindOnce(tokens(col("text"))) { toks =>
      // fold state: cur = count of leading tokens already resolved
      // (0-based index of the next candidate token), parts = kept ranges
      aggregate(
        col("ps"),
        struct(lit(0).as("cur"), array().cast("array<string>").as("parts")),
        (acc, p) => struct(
          greatest(acc("cur"), p + lit(n)).as("cur"),
          when(p > acc("cur"),
            concat(acc("parts"), slice(toks, acc("cur") + 1, p - acc("cur"))))
            .otherwise(acc("parts")).as("parts")),
        acc => array_join(
          concat(acc("parts"),
            slice(toks, acc("cur") + 1, greatest(size(toks) - acc("cur"), lit(0)))),
          " "))
    }
    graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("ps").isNull, col("text")).otherwise(cleaned).as("text"))
      .orderBy("doc_id")
  }

  /** tf-idf scoring on top of the document-frequency building block
    * (L04): score(d, w) = tf(d, w) · ln(N / df(w)), top-`k` terms per
    * document. The per-corpus constants (N, and df via one shuffle on
    * the term key) are tiny relative to the corpus; the heavy work is
    * the map-side tokenize plus ONE (doc_id, w) aggregation with partial
    * combine — the same shape as a word count. The per-document top-k
    * window partitions on doc_id (never a global window).
    */
  def tfIdfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, term) pairs, so df is a count over them
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val win = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("w"))
    tf.join(dfreq, Seq("w"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("w"), round(col("tfidf"), 6).as("score"))
      .orderBy("doc_id", "rn")
  }

  /** Vocabulary-novelty curve: cut the corpus (in `doc_id` order) into
    * `nBuckets` equal-count buckets and report, per bucket, how many
    * NEW word types first appear there plus the cumulative vocabulary —
    * the classic "is fresh data still teaching the model new words"
    * corpus audit. Compose with [[graft.ops.Scale.shuffleOrder]] first
    * to measure novelty along an actual training order.
    *
    * Output: (bucket, n_docs, n_tokens, new_types, cum_vocab), all
    * exact integers (fully oracle-checkable, no float paths).
    *
    * Scale shape: the global row number and the bucket-order prefix sum
    * both go through the bucketed two-pass machinery (no
    * SinglePartition window); first-occurrence is ONE (w → min bucket)
    * aggregation with map-side partials — a word count; everything
    * after is nBuckets-sized. The only 1-row piece is the corpus count
    * broadcast for the bucket arithmetic.
    */
  def noveltyCurve(documents: DataFrame, nBuckets: Int = 20): DataFrame = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    val nDocs = documents.agg(count(lit(1)).as("__nd"))
    val ranked = graft.ops.ScalableWindows.withGlobalRowNumber(
      documents.select("doc_id", "text"), Seq("doc_id"), "__rn")
    // integer bucket arithmetic (DIV, not /) so the oracle reproduces
    // the cut exactly; (rn-1)*nBuckets stays far below 2^63 at any SF
    val bucketed = ranked.crossJoin(broadcast(nDocs))
      .withColumn("bucket",
        expr(s"CAST(((__rn - 1) * $nBuckets) DIV __nd AS BIGINT)"))
      .select(col("bucket"), col("text"))
    val perBucket = bucketed
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val firstSeen = bucketed
      .select(col("bucket"), explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    // nBuckets-sized; checkpointed so the running sum's metadata pass
    // and the final action don't each re-run the corpus chain (the
    // X73/X75/X80 prefix-sum-input pattern)
    val joined = perBucket.join(firstSeen, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .localCheckpoint(false)
    graft.ops.ScalableWindows.withGlobalRunningSum(
        joined, Seq("bucket"), "new_types", "cum_vocab")
      .select("bucket", "n_docs", "n_tokens", "new_types", "cum_vocab")
      .orderBy("bucket")
  }

  /** Distribution-shift audit across a deterministic hash split:
    * add-one-smoothed unigram distributions per split over the shared
    * corpus vocabulary, then pairwise KL divergence and total-variation
    * distance — "did the val/test cut land on the same language as
    * train". Splits come from [[graft.ops.Scale.md5Split]] (the
    * portable coin), so any engine reproduces the assignment.
    *
    * Output: one row per ORDERED split pair (KL is asymmetric):
    * (split_a, split_b, kl, tv), kl = Σ_w p_a ln(p_a/p_b),
    * tv = ½ Σ_w |p_a − p_b|, p_s(w) = (c_s(w)+1)/(N_s+V), both rounded
    * to 6 dp (the engine-vs-oracle float-sum contract every rounded
    * aggregate here uses).
    *
    * Scale shape: ONE (split, word) aggregation over the token stream —
    * conditional sums per split, so the word shuffle happens once
    * regardless of split count; totals and V are a 1-row broadcast; the
    * divergence itself is a single pass over the vocab-sized count
    * table producing one row, unpivoted driver-free via stack().
    */
  def splitDivergence(
      documents: DataFrame,
      weights: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    require(weights.size >= 2, s"need >= 2 splits, got $weights")
    val names = weights.map(_._1)
    // names are embedded in derived column names and a stack() SQL
    // text: restrict to bare alphanumeric identifiers so a hyphenated
    // name can't parse as subtraction and underscore-composed names
    // can't collide (kl_a_b_c is ambiguous between (a,b_c) and (a_b,c))
    require(names.forall(_.matches("[A-Za-z][A-Za-z0-9]*")),
      s"split names must be alphanumeric ([A-Za-z][A-Za-z0-9]*): $names")
    require(names.distinct.size == names.size, s"duplicate split names: $names")
    val toks = graft.ops.Scale.md5Split(documents, "doc_id", weights, seed)
      .select(col("split"), explode(tokens(col("text"))).as("w"))
    taggedDivergence(toks, names)
  }

  /** Pairwise smoothed-unigram divergence over a tagged token stream
    * (split, w) — the shared kernel of [[splitDivergence]] and
    * [[unigramDrift]]: add-one-smoothed distributions over the UNION
    * vocabulary, KL both ways + total variation per ordered name pair.
    */
  private def taggedDivergence(toks: DataFrame, names: Seq[String]): DataFrame = {
    val countCols = names.map(s =>
      sum(when(col("split") === s, 1L).otherwise(0L)).as(s"c_$s"))
    // consumed by the totals broadcast AND the divergence pass — one
    // token shuffle, not two (vocabCoverage's checkpoint idiom)
    val counts = toks.groupBy("w").agg(countCols.head, countCols.tail: _*)
      .localCheckpoint(true)
    val totalCols = names.map(s => sum(col(s"c_$s")).as(s"n_$s")) :+
      count(lit(1)).as("__v")
    val totals = counts.agg(totalCols.head, totalCols.tail: _*)
    def p(s: String): Column =
      (col(s"c_$s") + 1).cast("double") /
        (col(s"n_$s") + col("__v")).cast("double")
    val pairs = for { a <- names; b <- names if a != b } yield (a, b)
    val aggs = pairs.flatMap { case (a, b) => Seq(
      round(sum(p(a) * log(p(a) / p(b))), 6).as(s"kl_${a}_$b"),
      round(sum(abs(p(a) - p(b))) / 2, 6).as(s"tv_${a}_$b")) }
    val one = counts.crossJoin(broadcast(totals)).agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', kl_${a}_$b, tv_${a}_$b" }.mkString(", ")
    one.selectExpr(
        s"stack(${pairs.size}, $stackArgs) AS (split_a, split_b, kl, tv)")
      .orderBy("split_a", "split_b")
  }

  /** The reference side of [[unigramDrift]] as a tagged token stream —
    * exposed so a long-lived consumer (the streaming drift monitor)
    * can tokenize the frozen reference ONCE and reuse it across
    * micro-batches (the [[benchmarkShingleSet]] idiom).
    */
  def referenceTokens(reference: DataFrame): DataFrame =
    reference.select(lit("ref").as("split"), explode(tokens(col("text"))).as("w"))

  /** Corpus-drift report — the distribution monitor an ingest pipeline
    * watches: smoothed unigram KL (both directions) and total
    * variation between a corpus and a frozen REFERENCE snapshot (last
    * release's corpus, a trusted seed set). A quality regression in an
    * upstream source shows up here as a KL/TV step long before any
    * per-doc gate fires. Output: two rows, (side_a, side_b, kl, tv)
    * for (cur, ref) and (ref, cur) — [[splitDivergence]]'s kernel and
    * smoothing, so the numbers are comparable across both audits.
    */
  def unigramDrift(corpus: DataFrame, reference: DataFrame): DataFrame =
    unigramDriftAgainst(corpus, referenceTokens(reference))

  /** [[unigramDrift]] against a precomputed [[referenceTokens]]
    * stream — the frozen-artifact entry point the streaming monitor
    * reuses across micro-batches.
    */
  def unigramDriftAgainst(corpus: DataFrame, refToks: DataFrame): DataFrame = {
    val toks = corpus
      .select(lit("cur").as("split"), explode(tokens(col("text"))).as("w"))
      .unionByName(refToks)
    taggedDivergence(toks, Seq("cur", "ref"))
      .withColumnRenamed("split_a", "side_a")
      .withColumnRenamed("split_b", "side_b")
  }

  /** Zipf-law fit over the rank-frequency curve: OLS regression of
    * ln(count) on ln(rank) for the top `topV` word types — slope near
    * −1 is the natural-language signature, so a drifting slope (or a
    * collapsing r²) flags synthetic/boilerplate-heavy corpora. One row:
    * (top_v, slope, intercept, r2), floats rounded to 6 dp.
    *
    * Scale shape: [[vocabCoverage]]'s machinery — one word-count
    * aggregation, the global rank through the bucketed two-pass row
    * number, then a topV-sized regression aggregate (Spark's regr_*
    * run as one partial-aggregable pass).
    */
  def zipfFit(documents: DataFrame, topV: Int = 500): DataFrame = {
    require(topV >= 2, s"topV=$topV needs >= 2 points to fit")
    // consumed by the rank machinery's metadata pass and the regression
    // action — one token shuffle, not two (vocabCoverage's idiom)
    val counts = documents
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("__neg", -col("cnt"))
      .localCheckpoint(true)
    val ranked = graft.ops.ScalableWindows.withGlobalRowNumber(
      counts, Seq("__neg", "w"), "rk")
    ranked.filter(col("rk") <= topV)
      .select(log(col("rk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      .agg(count(lit(1)).as("top_v"),
        round(regr_slope(col("y"), col("x")), 6).as("slope"),
        round(regr_intercept(col("y"), col("x")), 6).as("intercept"),
        round(regr_r2(col("y"), col("x")), 6).as("r2"))
  }
}
