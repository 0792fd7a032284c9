package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Store

/** Exact substring-level deduplication: find every maximal token span
  * that occurs more than once across the corpus (or within one
  * document) and keep only its FIRST occurrence — the span-granular
  * complement of whole-document dedup (L01/L02) and near-dup clustering
  * (X05/X07). Distinct from [[TextAnalysis.removeSharedSpans]] (X68) by
  * DESIGN, not by accident: X68 scrubs EVERY copy of cross-document
  * shared content (the decontamination posture — nothing shared
  * survives) and ignores within-document repetition; this operator
  * keeps exactly ONE canonical copy (the training-set posture — remove
  * redundancy, never information) and treats self-repetition as
  * duplication too. The public algorithm family is Lee et al., "Deduplicating
  * Training Data Makes Language Models Better" (ACL 2022), which uses a
  * suffix array on one machine; the shuffle-native equivalent used here
  * is stride-1 fixed-width window fingerprinting:
  *
  *  1. per document, every `minTokens`-token window at every position
  *     (map-side, one row per token — no suffix array, no global
  *     structure);
  *  2. a window key occurring more than once marks every occurrence
  *     EXCEPT the globally first (min (doc_id, pos)) as duplicated —
  *     one shuffle on the window key;
  *  3. per document, covered token positions merge into maximal spans
  *     (gaps-and-islands over the per-doc position stream — per-doc
  *     window, bounded by document length).
  *
  * Any duplicated run of length >= minTokens is fully covered by its
  * stride-1 windows, so the merged spans are exactly the maximal
  * duplicated runs — the suffix-array answer at granularity minTokens.
  *
  * 100 TB posture: the only global shuffle is keyed by the window
  * fingerprint. With `hashKeys=true` (the scale path) the key is a
  * 64-bit xxhash64 computed map-side INSIDE the projection, so the
  * shuffle carries (hash, doc_id, pos) — ~24 bytes per corpus token
  * independent of minTokens — never the window text. The string-keyed
  * twin exists because it is exactly restatable in portable SQL
  * (X118/X119's DuckDB oracle); SubstringDedupSpec pins the two paths
  * row-identical on the corpus. Collision exposure of the hashed path:
  * a 64-bit collision can fabricate one false duplicated window
  * (expected collisions ~ T²/2⁶⁵ for T distinct windows — at 10¹²
  * windows, ~30 spurious L-token spans corpus-wide, each bounded by
  * minTokens tokens lost). Boilerplate windows repeated millions of
  * times (the LSH-hot-bucket analogue) never concentrate on one task:
  * duplicate marking is a partial-aggregated groupBy plus a skew-
  * splittable join, not a window over the key — see [[duplicatedHits]].
  */
object SubstringDedup {

  /** Bump on ANY semantic change to windowing/span-merge/cleaning —
    * cached artifacts derived from cleaned text (e.g. a banded index
    * built over it) carry this in their cache keys, so a semantics
    * change can never silently ride a stale artifact.
    */
  val AlgorithmVersion = 1

  /** `documents` with each row's text replaced by its span-cleaned
    * text from a [[cleanCorpus]] table — the one place the v2
    * text-substitution contract lives (INNER join on doc_id: a doc
    * missing from `cleaned` is a caller bug, not a row to pass
    * through silently; cleanCorpus emits every input doc). A carried
    * `n_chars` column is RECOMPUTED from the substituted text — the
    * raw length would silently over-count for every cut doc in any
    * downstream char accounting. The text column moves to the end —
    * callers needing the original column order re-select.
    */
  def withCleanText(documents: DataFrame, cleaned: DataFrame): DataFrame = {
    val joined = documents.drop("text").join(
      cleaned.select(col("doc_id"), col("clean_text").as("text")),
      Seq("doc_id"))
    if (documents.columns.contains("n_chars"))
      joined.withColumn("n_chars", length(col("text")).cast("long"))
    else joined
  }

  /** The doc-level unit representation: word tokens, or — under
    * `charTokens`, for docs [[TextAnalysis.spacelessRun]] classifies
    * as spaceless-script runs — single code points (spaces ride along
    * as units, so the span cut reconstructs text exactly). Returns the
    * units column and the per-doc char-mode flag; every consumer
    * (windowing, window text, the clean rejoin) dispatches on the SAME
    * flag, so a doc's windows and its cut always agree.
    */
  private def unitCols(charTokens: Boolean): (Column, Column) = {
    val cm =
      if (charTokens) TextAnalysis.spacelessRun(col("text")) else lit(false)
    (when(cm, TextAnalysis.charUnits(col("text")))
      .otherwise(TextAnalysis.tokens(col("text"))), cm)
  }

  /** One row per stride-1 window: (doc_id, p, __key) with p the
    * 1-based unit position (word tokens; single code points for
    * spaceless docs under `charTokens`). Documents shorter than
    * minTokens units emit nothing (they cannot contain a duplicated
    * run of that length). Char windows join with "" (the run itself)
    * and word windows with " " — for minTokens ≥ 2 the two key spaces
    * cannot collide (a w-token word window carries w−1 spaces, so it
    * is at least 2w−1 chars; a char window is exactly w), so no
    * granularity sentinel is needed and the SQL restatement stays
    * plain substring arithmetic.
    */
  private def windowHits(
      documents: DataFrame, minTokens: Int, hashKeys: Boolean,
      charTokens: Boolean, spread: Boolean = true): DataFrame = {
    require(minTokens >= 1, s"minTokens must be positive, got $minTokens")
    // the char/word key-space disjointness proof needs windows of >= 2
    // units (see the scaladoc); at width 1 a word token could equal a
    // char unit and mark a false cross-granularity duplicate
    require(!charTokens || minTokens >= 2,
      s"charTokens requires minTokens >= 2, got $minTokens")
    // single-row-group rescue (Scale.spreadForCompute): the per-position
    // window explode is the dominant map cost of a CORPUS-sized dedup
    // tier and otherwise runs on the input's task count — one task over
    // a small corpus file. Everything downstream is exact (counts,
    // min-structs, integer span arithmetic), so the result is
    // bit-identical; no-op at scale. The run-level internals pass
    // spread = false: their per-stage masses (virtual runs, spliced
    // mixed docs) are fractions of the corpus, and the added exchanges
    // measurably regressed X127 (+1.3 s) for nothing.
    val docs =
      if (spread) graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      else documents
    val (units, cm) = unitCols(charTokens)
    val sliced = slice(col("__toks"), col("p"), lit(minTokens))
    val winText =
      if (charTokens) when(col("__cm"), concat_ws("", sliced))
        .otherwise(concat_ws(" ", sliced))
      else concat_ws(" ", sliced)
    docs
      .select(col("doc_id"), units.as("__toks"), cm.as("__cm"))
      // sequence(1, k) runs DESCENDING for k < 1 — short docs must be
      // dropped before the sequence, not patched after
      .where(size(col("__toks")) >= minTokens)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("__toks")) - (minTokens - 1))).as("p"),
        col("__toks"), col("__cm"))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        (if (hashKeys) xxhash64(winText) else winText).as("__key"))
  }

  /** Non-canonical occurrences of duplicated windows: every (doc_id, p)
    * whose window key occurs elsewhere too AND is not the globally
    * first occurrence of that key (min (doc_id, p)). Positions are
    * unique per doc (one window per position), so downstream per-doc
    * orderings are total.
    *
    * Hot-key shape (the 100 TB reason this is a groupBy + join, NOT a
    * window over `__key`): a boilerplate window repeated 10⁶–10⁸×
    * (license headers, templated pages) would land every occurrence in
    * ONE WindowExec partition — and AQE can split skewed join
    * partitions but never window partitions. Here the hot key
    * collapses map-side in the partial aggregate (each mapper emits
    * one (key, count, min-struct) row), the per-key stats table
    * carries only keys with __occ > 1, and the join back is either a
    * broadcast (stats small) or an AQE-skew-splittable shuffle join —
    * in both cases no task ever buffers all occurrences of one key.
    * Pinned by the hot-key fixture in ScaleGrowthBench (max task time
    * vs median on a 10⁶-occurrence key) and row-identical to the old
    * window formulation by SubstringDedupSpec's planted fixtures +
    * corpus pins (X118/X119 hashes unchanged).
    */
  private def duplicatedHits(
      documents: DataFrame, minTokens: Int, hashKeys: Boolean,
      charTokens: Boolean, spread: Boolean = true): DataFrame = {
    val wins = windowHits(documents, minTokens, hashKeys, charTokens, spread)
    val dupKeyStats = wins
      .groupBy("__key")
      .agg(count(lit(1)).as("__occ"),
        min(struct(col("doc_id"), col("p"))).as("__first"))
      .where(col("__occ") > 1)
      .select(col("__key"), col("__first"))
    wins
      .join(statsJoinSide(documents, dupKeyStats, hashKeys), Seq("__key"))
      .where(col("doc_id") =!= col("__first.doc_id") ||
        col("p") =!= col("__first.p"))
      .select(col("doc_id"), col("p"), (col("p") + (minTokens - 1)).as("e"))
  }

  /** Corpus-size estimates below which the duplicated-key stats table
    * is explicitly broadcast (zero probe-side shuffle — the fast local
    * plan). The bound is worst-case honest per key representation:
    * EVERY window duplicated means one stats row per corpus token —
    * ~32 B/row hashed, ~(7·minTokens + 24) B/row ≈ 100 B/row with raw
    * window-text keys — and the input estimate itself can sit ~4×
    * under the decoded bytes for a compressed columnar scan (Spark
    * prices a FileScan at file size). 8 MB (hashed) / 2 MB (string)
    * caps the forced broadcast at roughly 8·4·(32/6) ≈ 170 MB /
    * 2·4·(100/6) ≈ 130 MB even under both worst cases together.
    */
  private[graft] val BroadcastDupStatsMaxInputBytes: BigInt =
    BigInt(8L * 1024 * 1024)
  private[graft] val BroadcastDupStatsMaxInputBytesStringKeys: BigInt =
    BigInt(2L * 1024 * 1024)

  /** The join strategy for the per-key stats table, decided on the
    * INPUT's scan-based plan estimate — never on the stats table's own
    * post-aggregation estimate, which Catalyst routinely underestimates:
    * left to itself it planned a compile-time broadcast of a 12.7M-row
    * stats table at the 1000× growth point and died serializing it
    * (heap OOM — AQE cannot undo a statically planned broadcast).
    * Above the threshold the `merge` hint pins a shuffle join; AQE
    * still splits a hot-key-skewed probe partition under the skew-join
    * rule (runtime-measured bytes), but — because AQE honors user
    * join-strategy hints — it will NOT demote the hinted join to a
    * runtime broadcast when the stats side turns out tiny: the
    * sparse-duplication regime above the gate pays the probe-side
    * shuffle of ~24 B hashed rows. That is the accepted cost of never
    * trusting a compile-time underestimate with an unshardable
    * broadcast. The hot-key probe in ScaleGrowthBench pins the
    * no-straggler property of exactly this path.
    */
  private def statsJoinSide(
      documents: DataFrame, stats: DataFrame, hashKeys: Boolean): DataFrame = {
    val gate =
      if (hashKeys) BroadcastDupStatsMaxInputBytes
      else BroadcastDupStatsMaxInputBytesStringKeys
    if (documents.queryExecution.optimizedPlan.stats.sizeInBytes <= gate)
      broadcast(stats)
    else stats.hint("merge")
  }

  /** Gaps-and-islands merge of per-doc hit intervals (doc_id, p, e)
    * into maximal spans — covered positions form a set; spans are its
    * maximal runs. Per-doc window, bounded by document length.
    */
  private def mergeSpans(hits: DataFrame): DataFrame = {
    val perDoc = Window.partitionBy("doc_id").orderBy("p")
    val prevMaxEnd = max("e").over(perDoc.rowsBetween(Window.unboundedPreceding, -1))
    val newIsland = when(col("p") > coalesce(prevMaxEnd, lit(-1L)) + 1, 1L).otherwise(0L)
    hits
      .select(col("doc_id"), col("p"), col("e"),
        sum(newIsland).over(perDoc.rowsBetween(Window.unboundedPreceding, 0)).as("__grp"))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min("p").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Maximal duplicated token spans per document, excluding each
    * window's canonical first occurrence: (doc_id, span_start,
    * span_end, span_tokens), positions 1-based inclusive.
    */
  def duplicatedSpans(
      documents: DataFrame, minTokens: Int, hashKeys: Boolean = false,
      charTokens: Boolean = false): DataFrame =
    mergeSpans(duplicatedHits(documents, minTokens, hashKeys, charTokens))

  /** [[duplicatedSpans]] without the small-input spread — for the
    * run-level internals, whose per-stage inputs are corpus fractions
    * where the spread's exchanges cost more than they recover.
    */
  private def duplicatedSpansNoSpread(
      documents: DataFrame, minTokens: Int, hashKeys: Boolean,
      charTokens: Boolean): DataFrame =
    mergeSpans(duplicatedHits(documents, minTokens, hashKeys, charTokens,
      spread = false))

  /** The corpus with every duplicated span (except canonical first
    * occurrences) cut out: (doc_id, n_tokens, dup_tokens, clean_text).
    * clean_text is the uncovered tokens re-joined with single spaces —
    * the same whitespace normalization both dedup paths and the oracle
    * tokenize by. Docs with nothing duplicated pass through with
    * dup_tokens = 0; a doc that is entirely a non-canonical duplicate
    * comes out empty. The span join is per-doc metadata (a few spans),
    * then everything is map-side higher-order functions — the token
    * arrays never shuffle.
    */
  def cleanCorpus(
      documents: DataFrame, minTokens: Int, hashKeys: Boolean = false,
      charTokens: Boolean = false): DataFrame =
    cleanFromSpans(documents,
      duplicatedSpans(documents, minTokens, hashKeys, charTokens), charTokens)

  /** The rewrite half of [[cleanCorpus]], reusable over any span table
    * (batch or incremental): cut `spans` out of `documents` and rejoin
    * the uncovered tokens.
    */
  private def cleanFromSpans(
      documents: DataFrame, spansRaw: DataFrame,
      charTokens: Boolean, spread: Boolean = true): DataFrame = {
    val spans = spansRaw
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"),
        sum("span_tokens").as("__dup"))
    val toks = col("__toks")
    // sequence(1, 0) runs descending — empty docs need the guard
    val positions = when(size(toks) >= 1, sequence(lit(1), size(toks)))
      .otherwise(array().cast("array<int>"))
    val covered = (i: Column) => coalesce(
      exists(col("__spans"), s => i >= s("span_start") && i <= s("span_end")),
      lit(false))
    val (units, cm) = unitCols(charTokens)
    val kept = transform(filter(positions, i => !covered(i)),
      i => element_at(toks, i))
    // single-row-group rescue: the rewrite pass (unit explode + span
    // filter transform per doc) is map-side heavy; per-doc hofs are
    // row-local so the spread is bit-identical. No-op at scale.
    val docsSpread =
      if (spread) graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      else documents
    // char-mode docs rejoin with "" — the kept units include the
    // original spaces, so the clean text is exactly the input minus
    // the cut runs; word-mode keeps the single-space convention.
    // n_tokens/dup_tokens count the doc's OWN units (chars for
    // spaceless docs) — the accounting unit follows the granularity
    // the cut operated in.
    val cleanText =
      if (charTokens) when(col("__cm"), concat_ws("", kept))
        .otherwise(concat_ws(" ", kept))
      else concat_ws(" ", kept)
    docsSpread
      .select(col("doc_id"), units.as("__toks"), cm.as("__cm"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        coalesce(col("__dup"), lit(0L)).as("dup_tokens"),
        cleanText.as("clean_text"))
  }

  // ------------- run-level (mixed-script) substring dedup -------------

  /** Bits reserved for the run index inside the char stage's packed
    * virtual doc id — 2^20 runs per doc (a run is ≥ 16 code points, so
    * this caps run-level docs at ~16M non-ASCII chars) and 2^42 doc
    * ids. Packing keeps the virtual id ORDER equal to (doc_id,
    * run_idx) lexicographic order, so the char stage's canonical
    * first-occurrence rule (min (vid, pos)) follows document order
    * exactly like the doc-level tiers.
    */
  private val RunIdxBits = 20

  /** Overflow is a plan-embedded raise_error, not a silent wrap — a
    * wrapped vid would alias two documents and cut the wrong text.
    */
  private def packVid(docId: Column, runIdx: Column): Column =
    when(docId >= 0 && docId < lit(1L << (62 - RunIdxBits)) &&
        runIdx >= 0 && runIdx < lit(1 << RunIdxBits),
      docId * lit(1L << RunIdxBits) + runIdx)
      .otherwise(raise_error(concat(
        lit(s"runLevel vid overflow (doc_id needs [0, 2^${62 - RunIdxBits}), " +
          s"run_idx [0, 2^$RunIdxBits)): doc_id="),
        docId.cast("string"), lit(" run_idx="), runIdx.cast("string")))
        .cast("long"))

  private def unpackDocId(vid: Column): Column =
    shiftright(vid, RunIdxBits)

  private def unpackRunIdx(vid: Column): Column =
    vid.bitwiseAND(lit((1L << RunIdxBits) - 1)).cast("int")

  /** The char-stage virtual corpus of run-level dedup — one row per
    * spaceless unit, every row guaranteed char-mode under the existing
    * per-doc dispatch (a doc-level spaceless doc is its own unit at
    * run_idx 0; a mixed doc contributes each maximal
    * [[TextAnalysis.RunPattern]] run, which is 100% non-ASCII and ≥ 16
    * code points, hence spacelessRun by construction). Pure-ASCII and
    * short-run docs contribute nothing.
    */
  private def charVirtualDocs(documents: DataFrame): DataFrame = {
    // null text is NOT spaceless (coalesce, not a bare predicate: a
    // null spacelessRun would fail BOTH this filter and the hetero
    // complement and the doc would silently vanish from the output —
    // it must ride the hetero/word path like doc-level cleanCorpus's
    // dispatch sends it)
    val homo = documents
      .where(coalesce(TextAnalysis.spacelessRun(col("text")), lit(false)))
      .select(col("doc_id"), lit(0).as("run_idx"), col("text"))
    val runs = documents
      .where(!coalesce(TextAnalysis.spacelessRun(col("text")), lit(false)))
      .select(col("doc_id"),
        posexplode(TextAnalysis.scriptRuns(col("text"))).as(Seq("run_idx", "text")))
    homo.unionByName(runs)
      .select(packVid(col("doc_id"), col("run_idx")).as("doc_id"), col("text"))
  }

  /** The two run-level stages, shared by [[duplicatedSpansRunLevel]]
    * and [[cleanCorpusRunLevel]]:
    *
    *  1. CHAR stage — the existing charTokens machinery over the
    *     virtual corpus of [[charVirtualDocs]] (homogeneous docs whole,
    *     mixed docs' long runs): cross- and self-duplicated char runs
    *     are found ACROSS the homo/mixed boundary, which is exactly
    *     the class the doc-level dispatch is blind to.
    *  2. SPLICE — each mixed doc's cleaned runs are put back between
    *     its ASCII stretches (`split` on the same run pattern yields
    *     nRuns+1 stretches; zip_with re-interleaves, a fully-cut run
    *     contributes ""), reconstructing the doc verbatim except for
    *     cut runs.
    *  3. WORD stage — the existing word machinery over the spliced
    *     mixed docs (homogeneous docs are char-only by doc-level
    *     semantics and skip it).
    *
    * 100 TB shape: both stages are the audited hot-key-safe
    * groupBy+join pipelines; the only additions are one posexplode of
    * run texts (map-side), one per-doc metadata join of cleaned runs
    * (collect_list bounded by the doc's own run count), and the
    * packed-vid arithmetic. Span tables are per-doc metadata and are
    * localCheckpoint'd so the two consumers (span output + clean
    * rejoin) never re-run a window shuffle.
    */
  /** The splice half of [[runLevelStages]], shared with the
    * incremental path: each mixed doc's CLEANED runs put back between
    * its ASCII stretches (`split` on the run pattern yields nRuns+1
    * stretches; zip_with re-interleaves; a fully-cut run contributes
    * ""), reconstructing the doc verbatim except for cut runs. Output:
    * (doc_id, run_dup_chars, text) — mixed and pure-word docs only.
    */
  private def spliceRuns(documents: DataFrame, charClean: DataFrame): DataFrame = {
    val hetero = documents
      .where(!coalesce(TextAnalysis.spacelessRun(col("text")), lit(false)))
    val heteroIds = hetero.select("doc_id")
    // cleaned runs per mixed doc, in run order
    val perDoc = charClean
      .select(unpackDocId(col("doc_id")).as("doc_id"),
        unpackRunIdx(col("doc_id")).as("run_idx"),
        col("clean_text"), col("dup_tokens"))
      .join(heteroIds, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(
        transform(
          array_sort(collect_list(struct(col("run_idx"), col("clean_text")))),
          s => s.getField("clean_text")).as("__runs_clean"),
        sum("dup_tokens").as("__run_dup"))
    hetero
      .select(col("doc_id"),
        split(col("text"), TextAnalysis.RunPattern, -1).as("__stretch"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__run_dup"), lit(0L)).as("run_dup_chars"),
        // stretches = runs+1 pieces; pad the cleaned runs with one ""
        // so zip_with never pairs a stretch with null
        array_join(zip_with(col("__stretch"),
          concat(coalesce(col("__runs_clean"),
            array().cast("array<string>")), array(lit(""))),
          (st, rc) => concat(st, coalesce(rc, lit("")))), "").as("text"))
  }

  private def runLevelStages(
      documents: DataFrame, minTokens: Int, hashKeys: Boolean,
      materializeCharClean: Boolean,
      materializeSpliced: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // materialized (lazily) for the SAME multi-consumer reason the
    // incremental path checkpoints its batch virtual corpus: the char
    // stage's window pass consumes vdocs twice (the per-key stats
    // groupBy side AND the join probe side — duplicatedHits' designed
    // two-scan shape), and the clean rejoin reads it a third time;
    // without the checkpoint every consumer re-runs the scriptRuns
    // posexplode AND the caller's full upstream chain per scan
    // (measured 8.3 s → 3.4 s on the X127 fixture at sf0.1).
    val vdocs = charVirtualDocs(documents).localCheckpoint(false)
    val charSpans = duplicatedSpansNoSpread(vdocs, minTokens, hashKeys,
        charTokens = true)
      .localCheckpoint(true)
    // materialized only for cleanCorpusRunLevel, whose TWO consumers
    // (splice chain + homogeneous output) would otherwise each re-run
    // the charUnits explode + clean transform over every virtual doc —
    // a full extra corpus pass. The spans-only path consumes it once
    // (through the spliced checkpoint) and must not pay a
    // corpus-size block-manager round trip for nothing.
    val charClean0 = cleanFromSpans(vdocs, charSpans, charTokens = true,
      spread = false)
    val charClean =
      if (materializeCharClean) charClean0.localCheckpoint(true) else charClean0
    // always materialized (lazily): the word stage's window pass
    // consumes the spliced table twice (the duplicatedHits two-scan
    // shape again), and each un-checkpointed scan would re-run the
    // whole splice chain INCLUDING the char-stage clean transform over
    // every virtual doc. Callers that additionally RETURN the table
    // (duplicatedSpansRunLevelWithSpliced) get an eager checkpoint so
    // their read never races the word stage's first action.
    val spliced0 = spliceRuns(documents, charClean)
    val spliced = spliced0.localCheckpoint(materializeSpliced)
    val wordSpans = duplicatedSpansNoSpread(
      spliced.select("doc_id", "text"), minTokens, hashKeys,
      charTokens = false).localCheckpoint(true)
    (charSpans, charClean, wordSpans, spliced)
  }

  /** Run-level duplicated spans: (doc_id, tier, run_idx, span_start,
    * span_end, span_tokens). `tier = "char"` rows are code-point spans
    * WITHIN run `run_idx` of the doc (run_idx 0 and the whole text for
    * doc-level spaceless docs); `tier = "word"` rows are word-token
    * spans of the doc's SPLICED text (run_idx −1; mixed and pure-word
    * docs only). This is the mixed-script completion of
    * [[duplicatedSpans]]: an embedded CJK/Thai quote duplicated across
    * docs — invisible to the word windowing (one opaque token) and
    * excluded from the doc-level charTokens dispatch (the doc is
    * ASCII-majority) — is found by the char stage, while ordinary word
    * duplication is still found by the word stage over the spliced
    * text.
    */
  def duplicatedSpansRunLevel(
      documents: DataFrame, minTokens: Int,
      hashKeys: Boolean = false): DataFrame = {
    val (charSpans, _, wordSpans, _) =
      runLevelStages(documents, minTokens, hashKeys, materializeCharClean = false)
    assembleRunLevelSpans(charSpans, wordSpans)
  }

  private def assembleRunLevelSpans(
      charSpans: DataFrame, wordSpans: DataFrame): DataFrame =
    charSpans
      .select(unpackDocId(col("doc_id")).as("doc_id"), lit("char").as("tier"),
        unpackRunIdx(col("doc_id")).as("run_idx"),
        col("span_start"), col("span_end"), col("span_tokens"))
      .unionByName(wordSpans
        .select(col("doc_id"), lit("word").as("tier"), lit(-1).as("run_idx"),
          col("span_start"), col("span_end"), col("span_tokens")))

  /** [[duplicatedSpansRunLevel]] PLUS the spliced document table the
    * word-tier spans index into — the companion a span consumer needs
    * to read the duplicated text without re-deriving the char stage
    * and splice themselves (ADVICE r16): word-tier offsets are token
    * positions in the SPLICED text (the original with each cut char
    * run removed and the surviving run chars left in place), which is
    * computed internally and, without this method, never returned.
    *
    * Returns (spans, spliced): `spans` is exactly
    * [[duplicatedSpansRunLevel]]'s table; `spliced` is (doc_id,
    * spliced_text) for every mixed/pure-word doc (doc-level spaceless
    * docs have no word tier — their char spans index their own text
    * directly). Both sides come off one shared stage computation (the
    * spliced table is materialized once), so reading both costs one
    * run-level pass, not two.
    *
    * Worked example — mapping a word-tier span back to text:
    * take doc text `"alpha beta <RUN1> gamma delta"` where `<RUN1>` is
    * a 20-cp Thai run the char stage cut ENTIRELY (a non-canonical
    * duplicate). The spliced text is `"alpha beta  gamma delta"` (the
    * run's chars gone, its flanking spaces intact), whose tokens are
    * `[alpha, beta, gamma, delta]`. A word-tier span (span_start = 3,
    * span_end = 4) therefore names `"gamma delta"` — i.e.
    * `slice(tokens(spliced_text), span_start, span_tokens)` — NOT
    * tokens 3–4 of the original text (`<RUN1>`, `gamma`). To locate
    * the span in ORIGINAL coordinates, find the span's token strings
    * in the original text while skipping cut-run characters: every
    * spliced token appears verbatim in the original (the splice only
    * DELETES characters, never rewrites them), in order, so a single
    * forward scan — or `position = instr(text, token)` per distinct
    * token for one-off lookups — recovers original offsets.
    * RunLevelSplicedSpec pins this example's arithmetic.
    */
  def duplicatedSpansRunLevelWithSpliced(
      documents: DataFrame, minTokens: Int,
      hashKeys: Boolean = false): (DataFrame, DataFrame) = {
    val (charSpans, _, wordSpans, spliced) =
      runLevelStages(documents, minTokens, hashKeys,
        materializeCharClean = false, materializeSpliced = true)
    (assembleRunLevelSpans(charSpans, wordSpans),
      spliced.select(col("doc_id"), col("text").as("spliced_text")))
  }

  /** Run-level [[cleanCorpus]]: (doc_id, n_tokens, dup_tokens,
    * run_dup_chars, clean_text). For mixed and pure-word docs,
    * n_tokens/dup_tokens account the WORD stage over the spliced text
    * and run_dup_chars counts the code points the char stage cut from
    * embedded runs; for doc-level spaceless docs the char stage IS the
    * cut (dup_tokens = run_dup_chars, both in code points). Every
    * input doc comes out exactly once.
    */
  def cleanCorpusRunLevel(
      documents: DataFrame, minTokens: Int,
      hashKeys: Boolean = false): DataFrame = {
    val (_, charClean, wordSpans, spliced) =
      runLevelStages(documents, minTokens, hashKeys, materializeCharClean = true)
    assembleRunLevelClean(charClean, wordSpans, spliced)
  }

  /** The output assembly shared by [[cleanCorpusRunLevel]] and the
    * incremental path: homogeneous docs come out of the char stage
    * with char-unit accounting (dup_tokens = run_dup_chars); mixed and
    * pure-word docs out of the word stage over their spliced text,
    * carrying the char tier's run_dup_chars alongside.
    */
  private def assembleRunLevelClean(
      charClean: DataFrame, wordSpans: DataFrame,
      spliced: DataFrame): DataFrame = {
    val heteroIds = spliced.select("doc_id")
    val homoOut = charClean
      .select(unpackDocId(col("doc_id")).as("doc_id"),
        unpackRunIdx(col("doc_id")).as("run_idx"),
        col("n_tokens"), col("dup_tokens"), col("clean_text"))
      .join(heteroIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        col("dup_tokens").as("run_dup_chars"), col("clean_text"))
    val heteroOut = cleanFromSpans(
      spliced.select("doc_id", "text"), wordSpans, charTokens = false)
      .join(spliced.select("doc_id", "run_dup_chars"), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        col("run_dup_chars"), col("clean_text"))
    homoOut.unionByName(heteroOut)
  }

  /** The DISTINCT 64-bit window fingerprints of `documents` — the
    * persisted corpus state of incremental substring dedup: (key).
    * Existence is all the hit test needs (every indexed occurrence
    * precedes every new doc under the append-only contract), so the
    * index stores 8 bytes per distinct window, not positions.
    */
  def windowKeys(
      documents: DataFrame, minTokens: Int,
      charTokens: Boolean = false): DataFrame =
    windowHits(documents, minTokens, hashKeys = true, charTokens)
      .select(col("__key").as("key")).distinct()
      // the granularity pins: a key table built at a different unit
      // (word vs char) OR a different window length never matches
      // anything and the span cut silently degrades — the same
      // silent-failure class the banded index pins with cfg_chark.
      // Consumers check both stamps and strip.
      .withColumn("cfg_chartok", lit(if (charTokens) 1 else 0))
      .withColumn("cfg_wintok", lit(minTokens))

  /** Load a persisted [[windowKeys]] table/delta, require its
    * granularity stamps to match this run — `cfg_chartok` must equal
    * `charTokens` (a table written before the stamp existed can only
    * have been word-built) and `cfg_wintok` must equal `minTokens`
    * (tables from before that stamp are grandfathered — their window
    * length is unknowable) — and strip the stamps so
    * heterogeneous-era tables union cleanly. The check is one 1-row
    * collect per table — each parquet dir carries one constant.
    */
  def loadWindowKeys(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      minTokens: Int,
      charTokens: Boolean = false): DataFrame =
    checkedKeys(spark.read.parquet(path), s"window-key table at $path",
      minTokens, charTokens)

  /** Shared stamp check of [[loadWindowKeys]] and the direct-frame
    * path of [[incrementalDuplicatedSpans]]: validate whichever of the
    * two stamp columns are present (absent `cfg_chartok` ⇒ word-built;
    * absent `cfg_wintok` ⇒ grandfathered) in ONE 1-row collect, then
    * strip to the bare `key` column.
    */
  private def checkedKeys(
      df: DataFrame, what: String,
      minTokens: Int, charTokens: Boolean): DataFrame = {
    val want = if (charTokens) 1 else 0
    val ckCol =
      if (df.columns.contains("cfg_chartok")) col("cfg_chartok") else lit(0)
    val wtCol =
      if (df.columns.contains("cfg_wintok")) col("cfg_wintok") else lit(minTokens)
    df.select(ckCol.as("ck"), wtCol.as("wt")).limit(1).collect()
      .headOption.foreach { r =>
        require(r.getInt(0) == want,
          s"$what was built with charTokens=${r.getInt(0) == 1}, this run " +
            s"uses charTokens=$charTokens — mixed-granularity keys never " +
            "match and the span cut silently degrades; rebuild the key store")
        require(r.getInt(1) == minTokens,
          s"$what was built with windowTokens=${r.getInt(1)}, this run uses " +
            s"windowTokens=$minTokens — keys at a different window length " +
            "never match and the span cut silently degrades; rebuild the key store")
      }
    df.select("key")
  }

  /** Fold the completed streaming key deltas under `deltaRoot` into
    * the base [[windowKeys]] table at `basePath` — streaming substring
    * ingest writes one delta dir per micro-batch forever, so without
    * compaction a long-lived stream accumulates thousands of tiny
    * parquet dirs and every batch re-reads all of them (unbounded read
    * amplification). Every table is stamp-validated on the way in
    * (loadWindowKeys), keys are DISTINCT-folded (set semantics make a
    * replayed fold idempotent), and the stamps are re-written on the
    * compacted table.
    *
    * Crash discipline is [[Store.compactLayout]]'s staged
    * swap + `_FOLDED_DELTAS` manifest: any crash window is
    * re-runnable, a folded delta dir is deleted exactly once, and
    * a half-staged `basePath.next` without its manifest is ignored.
    * Like the vector side: run from the maintenance schedule, not
    * concurrently with a micro-batch mid-read (the base dir does not
    * exist for the instant between the two swap renames).
    *
    * TAKEDOWN POSTURE (documented, deliberate): window-key stores hold
    * doc-ANONYMOUS 8-byte window fingerprints — no row can be traced
    * to a document, so per-doc deletion does not apply. Removing the
    * keys a departed doc once contributed would also be semantically
    * wrong: those fingerprints mark CONTENT as previously seen, and
    * other docs carrying the same content must keep deduping against
    * it. A takedown of the doc's TEXT is served by the accepted-table/
    * signature tiers ([[MinHashDedup.deleteDocs]]), not here.
    */
  def compactWindowKeys(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      deltaRoot: String,
      minTokens: Int,
      charTokens: Boolean = false,
      failpoint: String = ""): Unit =
    Store.compactLayout(spark, basePath, deltaRoot, None,
      loadWindowKeys(spark, _, minTokens, charTokens),
      _.distinct()
        .withColumn("cfg_chartok", lit(if (charTokens) 1 else 0))
        .withColumn("cfg_wintok", lit(minTokens))
        .write.mode("overwrite").parquet(_),
      failpoint)

  /** Incremental duplicated spans for an ingest BATCH against an
    * existing corpus known only by its [[windowKeys]] table: a batch
    * window is a hit when its key exists in the corpus (every corpus
    * occurrence precedes it) OR an earlier (doc_id, pos) of the batch
    * itself carries the same key. Requires new doc_ids > all indexed
    * doc_ids (append-only ingest) — under that contract the result
    * equals batch [[duplicatedSpans]] (hashKeys=true) over
    * (corpus ∪ batch) restricted to the batch ids (spec-pinned).
    * Cost shape: only the batch is windowed; the corpus contributes
    * one 8-byte-key semi-join scan — never a re-window.
    */
  def incrementalDuplicatedSpans(
      newDocs: DataFrame, existingKeys: DataFrame, minTokens: Int,
      charTokens: Boolean = false): DataFrame = {
    // direct callers may hand a stamped key frame; require the stamps
    // to match and strip them (loadWindowKeys already did both for
    // tables it loaded — the columns are then absent here)
    val existing =
      if (existingKeys.columns.contains("cfg_chartok") ||
          existingKeys.columns.contains("cfg_wintok"))
        checkedKeys(existingKeys, "window-key frame", minTokens, charTokens)
      else existingKeys
    val wins = windowHits(newDocs, minTokens, hashKeys = true, charTokens)
    // first-in-batch via groupBy + join (not a window over __key) for
    // the same hot-key reason as duplicatedHits: a boilerplate window
    // repeated across the whole batch must collapse map-side, never
    // pile into one WindowExec partition. struct(doc_id, p) ≠ __first
    // is exactly "not the batch-first occurrence" (a key occurring
    // once IS its own first, so the predicate is false for it).
    val firstInBatch = wins
      .groupBy("__key")
      .agg(min(struct(col("doc_id"), col("p"))).as("__first"))
    val marked = wins
      .join(existing.select(col("key").as("__key"), lit(true).as("__old"))
        .distinct(), Seq("__key"), "left_outer")
      .join(statsJoinSide(newDocs, firstInBatch, hashKeys = true), Seq("__key"))
      .select(col("doc_id"), col("p"),
        (coalesce(col("__old"), lit(false)) ||
          col("doc_id") =!= col("__first.doc_id") ||
          col("p") =!= col("__first.p")).as("__hit"))
    mergeSpans(marked.where(col("__hit"))
      .select(col("doc_id"), col("p"), (col("p") + (minTokens - 1)).as("e")))
  }

  /** Incremental [[cleanCorpus]] for an ingest batch: the batch docs
    * with every span already present in the corpus (or earlier in the
    * batch) cut out — (doc_id, n_tokens, dup_tokens, clean_text).
    */
  def incrementalCleanCorpus(
      newDocs: DataFrame, existingKeys: DataFrame, minTokens: Int,
      charTokens: Boolean = false): DataFrame =
    cleanFromSpans(newDocs,
      incrementalDuplicatedSpans(newDocs, existingKeys, minTokens, charTokens),
      charTokens)

  /** Stage-0 accounting projection of a clean-corpus table, shared by
    * the batch manifest ([[graft.pipeline.TrainingSet
    * .manifestV2FromCleaned]]) and the streaming per-batch manifest —
    * ONE definition keyed on COLUMN PRESENCE, so a run-level stage-0
    * table carries its char-tier `run_dup_chars` into both manifests
    * and a future accounting column cannot land in one and silently
    * drift the stream ≡ batch pin.
    */
  private[graft] def stage0AccountingCols(cleaned: DataFrame): Seq[Column] =
    Seq(col("doc_id"), col("n_tokens"),
      col("dup_tokens").as("sub_dup_tokens")) ++
      (if (cleaned.columns.contains("run_dup_chars"))
        Seq(col("run_dup_chars")) else Nil)

  // ------- incremental run-level (two-granularity key stores) -------

  /** TWO-GRANULARITY window-key store layout of run-level substring
    * ingest (the round-16 design gap): run-level dedup needs a
    * CHAR-unit key family (windows of the virtual run corpus —
    * homogeneous docs whole, mixed docs' ≥16-cp non-ASCII runs) AND a
    * word key family (windows of the SPLICED texts). One
    * [[windowKeys]] table cannot express that — its `cfg_chartok`
    * stamp pins exactly one granularity, by design — so the run-level
    * store is TWO SIBLING windowKeys tables under one root:
    * `<root>/char` (stamped cfg_chartok=1) and `<root>/word`
    * (cfg_chartok=0), each carrying its family's full fail-loud stamp
    * contract (granularity AND window length), validated on every
    * load. A missing sibling fails loudly in loadWindowKeys (no
    * parquet to read) rather than silently degrading one tier.
    */
  private[graft] def charKeysPath(root: String): String =
    root.stripSuffix("/") + "/char"
  private[graft] def wordKeysPath(root: String): String =
    root.stripSuffix("/") + "/word"

  /** The two key families `documents` contribute to a run-level
    * store: char keys over the ORIGINAL virtual run corpus (cut or
    * kept — batch semantics mark a later occurrence against ANY
    * earlier one), word keys over the SPLICED texts (each doc's runs
    * cleaned against `documents` itself — for a base corpus this IS
    * the batch-mode spliced corpus, which is exactly the word
    * universe the batch word stage windows).
    */
  def windowKeysRunLevel(
      documents: DataFrame, minTokens: Int): (DataFrame, DataFrame) = {
    // three consumers (char spans, char clean, the char key family) —
    // materialize the virtual corpus once, lazily: the base-store
    // build is the largest input this path ever sees, and without
    // this the scriptRuns posexplode re-runs per consumer
    val vdocs = charVirtualDocs(documents).localCheckpoint(false)
    val spliced = spliceRuns(documents,
      cleanFromSpans(vdocs,
        duplicatedSpansNoSpread(vdocs, minTokens, hashKeys = true,
          charTokens = true),
        charTokens = true, spread = false))
    (windowKeys(vdocs, minTokens, charTokens = true),
      windowKeys(spliced.select("doc_id", "text"), minTokens))
  }

  /** Persist both families of [[windowKeysRunLevel]] under `root`. */
  def writeWindowKeysRunLevel(
      documents: DataFrame, minTokens: Int, root: String): Unit = {
    val (charKeys, wordKeys) = windowKeysRunLevel(documents, minTokens)
    charKeys.write.mode("overwrite").parquet(charKeysPath(root))
    wordKeys.write.mode("overwrite").parquet(wordKeysPath(root))
  }

  /** Load and stamp-validate both families of a run-level key store:
    * (charKeys, wordKeys).
    */
  def loadWindowKeysRunLevel(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      minTokens: Int): (DataFrame, DataFrame) =
    (loadWindowKeys(spark, charKeysPath(root), minTokens, charTokens = true),
      loadWindowKeys(spark, wordKeysPath(root), minTokens, charTokens = false))

  /** Fold completed streaming deltas of BOTH families into the base
    * run-level store — [[compactWindowKeys]] applied per family
    * (each fold has its own staged-swap crash discipline and stamp
    * validation). Same takedown posture as the single-family store:
    * window keys are doc-anonymous content fingerprints.
    */
  def compactWindowKeysRunLevel(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      charDeltaRoot: String,
      wordDeltaRoot: String,
      minTokens: Int): Unit = {
    compactWindowKeys(spark, charKeysPath(root), charDeltaRoot,
      minTokens, charTokens = true)
    compactWindowKeys(spark, wordKeysPath(root), wordDeltaRoot,
      minTokens, charTokens = false)
  }

  /** The incremental run-level stages for an ingest batch against the
    * two key families: (cleaned, charKeysDelta, wordKeysDelta). The
    * char stage runs [[incrementalDuplicatedSpans]] over the batch's
    * VIRTUAL run corpus against the char family (packed vids order
    * like (doc_id, run_idx), so append-only doc ids keep the batch
    * canonical order equal to the batch-mode one); the splice and
    * word stage then run exactly the batch shapes, the word stage
    * incremental against the word family. Under append-only ids the
    * cleaned output provably equals batch [[cleanCorpusRunLevel]]
    * (hashKeys = true) over (corpus ∪ batch) restricted to the batch
    * ids: corpus docs' char cuts and splices are unchanged by
    * appending the batch (canonical first = min vid, and corpus vids
    * are all smaller), so the word family built over corpus spliced
    * texts IS the batch-mode word universe. StreamingSpec pins the
    * equality end to end.
    */
  private[graft] def incrementalRunLevelBatch(
      newDocs: DataFrame,
      charKeys: DataFrame,
      wordKeys: DataFrame,
      minTokens: Int): (DataFrame, DataFrame, DataFrame) = {
    // three consumers (char stage, char delta, splice) — materialize
    // the batch-sized virtual corpus once; charSpans and wordSpans
    // each feed exactly one consumer and stay lazy (the module rule:
    // no block-manager round trip without reuse)
    val vdocs = charVirtualDocs(newDocs).localCheckpoint(true)
    val charSpans = incrementalDuplicatedSpans(
      vdocs, charKeys, minTokens, charTokens = true)
    val charClean = cleanFromSpans(vdocs, charSpans, charTokens = true)
      .localCheckpoint(true)
    val spliced = spliceRuns(newDocs, charClean).localCheckpoint(true)
    val wordSpans = incrementalDuplicatedSpans(
      spliced.select("doc_id", "text"), wordKeys, minTokens)
    (assembleRunLevelClean(charClean, wordSpans, spliced),
      windowKeys(vdocs, minTokens, charTokens = true),
      windowKeys(spliced.select("doc_id", "text"), minTokens))
  }
}
