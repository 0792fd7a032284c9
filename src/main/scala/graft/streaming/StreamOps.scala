package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.sources.{Store, Tables}

/** First-seen winner of one content fingerprint in the dedup stream. */
final case class DedupWinner(doc_id: Long, fp: Long)

/** First-seen occurrence of one SEGMENT in the streaming segment-dedup
  * stream: the segment survives at (doc_id, idx); `fp` is its content
  * hash.
  */
final case class SegmentWinner(doc_id: Long, idx: Int, fp: Long)

/** Structured Streaming operators over the events stream (E3,
  * SURVEY.md §3): the same DataFrame algebra as the batch contract
  * queries, executed incrementally with watermark-driven state
  * eviction. Each transform here is the streaming form of a certified
  * batch query (T01/T02/T03); StreamingSpec pins batch ≡ incremental
  * equivalence and late-data drop (§5.3).
  *
  * Scale notes: stateful aggregation state is partitioned by the group
  * key (window × type, or user × session) across executors; the
  * watermark bounds state size — windows older than
  * `max(eventTime) − delay` are finalized, emitted (append mode) and
  * evicted. At 100 TB/day the knobs are partition count and
  * state-store backend (RocksDB), not operator shape.
  */
object StreamOps {

  /** File-source stream with the pinned events schema. `path` is a
    * directory of parquet files replayed in event-time order (tests) or
    * a landing zone (production); `maxFilesPerTrigger` bounds batch
    * size.
    */
  def eventsStream(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 1): DataFrame =
    fileStream(spark, "events", path, maxFilesPerTrigger)

  /** Mark `ts` as event time unless an upstream operator already did —
    * a multi-stateful pipeline (e.g. [[dedupEventsWithinWatermark]] →
    * [[tumblingHourly]]) must define the watermark ONCE; redefining it
    * is an AnalysisException in Spark 4. Detection reads the watermark
    * metadata Spark stamps on the event-time attribute.
    */
  private def ensureWatermark(events: DataFrame, delay: String): DataFrame = {
    val marked = events.queryExecution.analyzed.output
      .exists(_.metadata.contains("spark.watermarkDelayMs"))
    if (marked) events else events.withWatermark("ts", delay)
  }

  /** Tumbling 1-hour counts/sums per event type — streaming form of
    * T01. Note: even though `rowFilter` sits after `withWatermark`,
    * Catalyst pushes deterministic predicates below the watermark node
    * into the scan — so watermark-advancing control rows must SATISFY
    * the filter (and live in a window that never finalizes), not bypass
    * it.
    */
  def tumblingHourly(events: DataFrame, delay: String = "30 minutes",
      rowFilter: Column = lit(true)): DataFrame =
    ensureWatermark(events, delay)
      .filter(rowFilter)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("s"))

  /** Sliding 1-hour/30-minute window — streaming form of T02. */
  def slidingHourly(events: DataFrame, delay: String = "30 minutes",
      rowFilter: Column = lit(true)): DataFrame =
    ensureWatermark(events, delay)
      .filter(rowFilter)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .select(col("window.start").as("w_start"), col("n"), col("s"))

  /** File-source stream of documents (pinned schema) — a landing zone
    * for the streaming dedup path.
    */
  def documentsStream(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 1): DataFrame =
    fileStream(spark, "documents", path, maxFilesPerTrigger)

  /** Parquet file-source stream read with the pinned schema of `table`. */
  private def fileStream(
      spark: SparkSession, table: String, path: String, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(Tables.schemas(table))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** (doc_id, fp) rows keyed by fp = xxhash64(text) — the keyed input of
    * both exact-dedup streams ([[streamingExactDedup]],
    * [[streamingDedupWithTtl]]).
    */
  private def byFingerprint(documents: DataFrame): KeyValueGroupedDataset[Long, (Long, Long)] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(col("doc_id"), xxhash64(col("text")).as("fp"))
      .as[(Long, Long)]
      .groupByKey(_._2)
  }

  /** Streaming exact dedup with custom state: emit one winner per
    * content fingerprint (xxhash64 of the text), the first occurrence
    * seen on the stream (min doc_id within its arrival micro-batch);
    * every later duplicate is dropped against keyed state.
    *
    * Scale shape: state is ONE boolean per distinct fingerprint, hash-
    * partitioned by fingerprint across executors — the streaming twin of
    * X04's 32-byte-key groupBy. Documents themselves never enter state.
    * Unbounded corpora would add a TTL via GroupStateTimeout; the
    * NoTimeout form keeps exact first-seen semantics.
    *
    * Also runs in batch mode (state starts empty per run), where it
    * degenerates to min-doc_id-per-fingerprint — the L02/X04 contract.
    */
  def streamingExactDedup(documents: DataFrame): Dataset[DedupWinner] = {
    val spark = documents.sparkSession
    import spark.implicits._
    byFingerprint(documents)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (fp: Long, rows: Iterator[(Long, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(DedupWinner(rows.map(_._1).min, fp))
          })
  }

  /** Streaming form of [[graft.text.TextAnalysis.segmentDedup]]: every
    * incoming document explodes into (doc_id, idx, segment-hash) rows,
    * keyed state holds ONE boolean per distinct segment hash, and each
    * segment is emitted exactly once — at its first occurrence ON THE
    * STREAM (min (doc_id, idx) within the arrival batch; across batches,
    * arrival order decides, so replaying a corpus in doc_id order
    * reproduces the batch operator's winners — StreamingSpec pins this).
    * Downstream reconstruction joins winners back to text by doc_id.
    *
    * Scale shape: state is a boolean per distinct segment (the segment
    * STRING never enters state), hash-partitioned across executors —
    * boilerplate arriving a billion times costs one state lookup per
    * occurrence, not storage.
    */
  def streamingSegmentDedup(
      documents: DataFrame, sep: String = "\n"): Dataset[SegmentWinner] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(col("doc_id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep))))
      .toDF("doc_id", "idx", "seg")
      .select(col("doc_id"), col("idx"), xxhash64(col("seg")).as("fp"))
      .as[(Long, Int, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (fp: Long, rows: Iterator[(Long, Int, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val (d, i, _) = rows.minBy(r => (r._1, r._2))
            Iterator.single(SegmentWinner(d, i, fp))
          })
  }

  /** [[streamingExactDedup]] with a processing-time TTL on each
    * fingerprint's state — the unbounded-corpus variant: state stays
    * bounded by the arrival rate × `ttlMs` window instead of growing
    * with the all-time distinct count.
    *
    * Semantics trade, stated precisely: a duplicate is re-admitted only
    * if its fingerprint's state was REMOVED before the batch carrying
    * the duplicate — and Spark fires the timeout sweep that removes it
    * only during some batch AFTER the deadline passes. A duplicate that
    * is itself the first activity following expiry arrives in a batch
    * where the state still exists (data is processed before timeouts),
    * so it is suppressed and refreshes the TTL. Eviction is therefore
    * lazy — "at least ttlMs of suppression", not "exactly ttlMs" — the
    * same contract as every batch-driven TTL store. Exact all-time
    * dedup is [[streamingExactDedup]].
    */
  def streamingDedupWithTtl(documents: DataFrame, ttlMs: Long): Dataset[DedupWinner] = {
    val spark = documents.sparkSession
    import spark.implicits._
    byFingerprint(documents)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (fp: Long, rows: Iterator[(Long, Long)], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) {
            // expired fingerprint: forget it; this invocation carries no
            // rows (timeout-only call), so emit nothing
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            state.setTimeoutDuration(ttlMs) // refresh the TTL on re-sight
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(ttlMs)
            Iterator.single(DedupWinner(rows.map(_._1).min, fp))
          }
        })
  }

  /** The micro-batch sink protocol of every foreachBatch stream here:
    * append output mode, progress checkpointed at `checkpoint`, and an
    * EMPTY micro-batch skipped before `body` runs — an idle trigger
    * writes nothing (no `b<id>` dir) and no body probes emptiness
    * again. Bodies stay idempotent under replay by writing only
    * batch-keyed dirs ([[writeBatch]]) and by reading prior state only
    * from COMPLETE earlier batches ([[completedBatchDirs]]).
    */
  private def sinkBatches(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) body(batch, batchId)
      }
      .start()

  /** [[sinkBatches]] for a stage whose whole per-batch output is the
    * frame `stage` builds from the micro-batch, landed at
    * `path/b<batchId>` by [[writeBatch]].
    */
  private def sinkBatchKeyed(stream: DataFrame, path: String, checkpoint: String)(
      stage: (DataFrame, Long) => DataFrame): StreamingQuery =
    sinkBatches(stream, checkpoint)((batch, batchId) =>
      writeBatch(stage(batch, batchId), path, batchId))

  /** Batch-keyed overwrite, NOT a bare append: a micro-batch replayed
    * after a crash-between-commit-and-checkpoint rewrites its own
    * `root/b<batchId>` directory instead of double-appending the same
    * rows (readers scan `root` with recursiveFileLookup).
    */
  private def writeBatch(df: DataFrame, root: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$root/b$batchId")

  /** Streaming near-dup INGEST against a persisted banded LSH index —
    * the 100 TB steady-state composed end to end: each micro-batch of
    * new documents dedups against (existing corpus ∪ everything
    * accepted in earlier batches) via
    * [[graft.text.MinHashDedup.incrementalDedupWinnersFromBanded]] —
    * the corpus side is parquet index scans, never a re-shingle — and
    * the batch's survivors are appended BOTH to the accepted-documents
    * table AND, as a banded-index DELTA, to the index itself, so batch
    * N+1 dedups against batch N's accepted docs at index cost.
    *
    * Idempotent under micro-batch replay: every batch writes its
    * accepted docs and its index delta to batch-keyed directories with
    * overwrite, so a crash-and-retry rewrites the same directories
    * instead of duplicating rows. Requires append-only ingest (new
    * doc_ids above all existing ids — the
    * [[graft.text.MinHashDedup.incrementalDedupWinners]] contract);
    * under that contract the accepted set provably equals batch-mode
    * [[graft.text.MinHashDedup.dedupWinners]] over (corpus ∪ all new
    * docs) restricted to the new ids (StreamingSpec pins it).
    *
    * Delta discovery lists the completed batch dirs through the Hadoop
    * FileSystem API ([[Store.completedDirs]]), so it works unchanged on
    * an object store — one metadata listing per batch.
    */
  def ingestDedupStream(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      corpusIndexPath: String,
      outDir: String,
      checkpoint: String,
      cfg: graft.text.MinHashConfig = graft.pipeline.TrainingSet.CurationDefaults.CorpusDedup)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinkBatches(newDocs, checkpoint) { (batch, batchId) =>
      processIngestBatch(batch.localCheckpoint(true), batchId, corpusDocs,
        corpusIndexPath, outDir, cfg, gate = identity, exactDedup = false)
      ()
    }

  /** Streaming SUBSTRING-level dedup ingest — the span-granular twin of
    * [[ingestDedupStream]]: each micro-batch of new documents has every
    * token span already present in (corpus ∪ everything ingested in
    * earlier batches ∪ earlier in the batch itself) cut out via
    * [[graft.text.SubstringDedup.incrementalCleanCorpus]], the
    * span-cut docs land batch-keyed under `outDir/accepted/b<id>`, and
    * the batch's ORIGINAL window fingerprints append as a key delta
    * under `outDir/key_delta/b<id>` so batch N+1 dedups against batch
    * N at 8-bytes-per-distinct-window cost. The delta carries the
    * original windows (not the cleaned text's) because batch semantics
    * mark a later occurrence against ANY earlier one, cut or kept.
    *
    * Corpus state = a [[graft.text.SubstringDedup.windowKeys]] parquet
    * at `corpusKeysPath` (pass null/empty-dir handling to the caller:
    * write the base once with windowKeys(corpus).write.parquet).
    * Idempotent under micro-batch replay: batch-keyed overwrite, and a
    * replayed batch excludes its OWN delta from the corpus side — its
    * windows would otherwise self-collide and empty the batch. The
    * contract covers Spark's actual replay model (only the LAST
    * uncommitted batch reprocesses, so no later delta exists yet);
    * re-running HISTORY from scratch over a populated outDir is out of
    * contract — an early batch would see later batches' deltas as
    * "earlier corpus". Requires
    * append-only ingest (new doc_ids above all existing); under that
    * contract the accepted table provably equals batch
    * [[graft.text.SubstringDedup.cleanCorpus]] (hashKeys=true) over
    * (corpus ∪ all new docs) restricted to the new ids
    * (StreamingSpec pins it).
    *
    * Maintenance: a long-lived stream accumulates one key-delta dir
    * per batch — run
    * [[graft.text.SubstringDedup.compactWindowKeys]](corpusKeysPath,
    * s"\$outDir/key_delta") periodically (between batches, like
    * [[graft.vector.Ivf.compactIndex]]) to fold them into the base;
    * the stream keeps working across it (TextStoreMaintenanceSpec).
    */
  def ingestSubstringDedupStream(
      newDocs: DataFrame,
      corpusKeysPath: String,
      outDir: String,
      checkpoint: String,
      minTokens: Int = 10): org.apache.spark.sql.streaming.StreamingQuery = {
    // deltas this stream wrote are validated once, then trusted
    val validatedDeltas =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    sinkBatches(newDocs, checkpoint) { (batch, batchId) =>
      val (cleaned, deltas) = singleFamilyStage0(batch.sparkSession,
        corpusKeysPath, outDir, batchId, batch.localCheckpoint(true),
        minTokens, charTokens = false, validatedDeltas)
      // the cleaned batch has exactly one consumer (this write) —
      // a checkpoint would add a full batch-sized pass for nothing
      writeBatch(cleaned, s"$outDir/accepted", batchId)
      // a batch of all-short docs has no windows: write nothing,
      // mirroring ingestDedupStream's all-rejected contract
      writeKeyDeltas(deltas)
    }
  }

  /** Streaming RUN-LEVEL substring-dedup ingest — the mixed-script
    * completion of [[ingestSubstringDedupStream]] (round-16 VERDICT
    * item 2): each micro-batch runs the incremental two-stage
    * run-level pipeline ([[graft.text.SubstringDedup
    * .incrementalRunLevelBatch]]) against the TWO-GRANULARITY key
    * store at `corpusKeysRoot` ([[graft.text.SubstringDedup
    * .writeWindowKeysRunLevel]]: `<root>/char` + `<root>/word`, each
    * family stamp-validated). Cleaned docs land batch-keyed under
    * `outDir/accepted/b<id>`; the batch's char-family keys (ORIGINAL
    * virtual run windows) append under `outDir/key_delta_char/b<id>`
    * and its word-family keys (SPLICED-text windows) under
    * `outDir/key_delta_word/b<id>`, so batch N+1 dedups against
    * batch N in both tiers at 8-bytes-per-distinct-window cost.
    *
    * Same replay/append-only contracts as the single-granularity
    * stream: batch-keyed overwrite, a replayed batch excludes its OWN
    * deltas from the corpus side (both families), and new doc_ids
    * must exceed all existing — under that contract the accepted
    * table provably equals batch [[graft.text.SubstringDedup
    * .cleanCorpusRunLevel]] (hashKeys = true) over (corpus ∪ all new
    * docs) restricted to the new ids (StreamingSpec pins it).
    *
    * Maintenance: [[graft.text.SubstringDedup
    * .compactWindowKeysRunLevel]](corpusKeysRoot,
    * s"\$outDir/key_delta_char", s"\$outDir/key_delta_word") folds
    * both families periodically; the stream keeps working across it
    * exactly like the single-granularity path.
    */
  def ingestSubstringDedupStreamRunLevel(
      newDocs: DataFrame,
      corpusKeysRoot: String,
      outDir: String,
      checkpoint: String,
      minTokens: Int = 10): org.apache.spark.sql.streaming.StreamingQuery = {
    val validatedChar =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val validatedWord =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    sinkBatches(newDocs, checkpoint) { (batch, batchId) =>
      val (cleaned, deltas) = runLevelStage0(batch.sparkSession,
        corpusKeysRoot, outDir, batchId, batch.localCheckpoint(true),
        minTokens, validatedChar, validatedWord)
      // single consumer — write directly (every expensive upstream
      // stage is already checkpointed inside the incremental batch)
      writeBatch(cleaned, s"$outDir/accepted", batchId)
      writeKeyDeltas(deltas)
    }
  }

  /** The shared per-batch stage 0 of [[ingestSubstringDedupStream]] and
    * [[curationIngestStreamV2]]'s one-key-family branch — the
    * single-granularity twin of [[runLevelStage0]]: fold the corpus
    * keys at `keysPath` with the COMPLETE earlier `key_delta` batches
    * (never this batch's own — replay must not self-collide), cut the
    * batch's duplicated spans, and return the cleaned batch plus the
    * batch's ORIGINAL window keys as the `key_delta/b<id>` write for
    * [[writeKeyDeltas]] to land LAST. `charTokens` picks the token
    * unit, and must match the one the key table was built under.
    */
  private def singleFamilyStage0(
      spark: SparkSession,
      keysPath: String,
      outDir: String,
      batchId: Long,
      src: DataFrame,
      minTokens: Int,
      charTokens: Boolean,
      validated: java.util.Set[String])
      : (DataFrame, Seq[(DataFrame, String)]) = {
    val keys = foldWindowKeys(spark, keysPath,
      completedBatchDirs(spark, s"$outDir/key_delta", batchId),
      minTokens, charTokens, validated)
    (graft.text.SubstringDedup.incrementalCleanCorpus(src, keys, minTokens, charTokens),
      Seq(graft.text.SubstringDedup.windowKeys(src, minTokens, charTokens) ->
        s"$outDir/key_delta/b$batchId"))
  }

  /** The shared per-batch RUN-LEVEL stage 0 of
    * [[ingestSubstringDedupStreamRunLevel]] and
    * [[curationIngestStreamV2]]'s runLevel branch — ONE definition so
    * the two streams' replay-exclusion / two-family fold / delta
    * contracts can never drift: fold both key families (each with its
    * own validated-delta cache), run the incremental two-stage
    * pipeline, and return the cleaned batch plus the per-family delta
    * writes for [[writeKeyDeltas]] to land LAST.
    */
  private def runLevelStage0(
      spark: SparkSession,
      keysRoot: String,
      outDir: String,
      batchId: Long,
      src: DataFrame,
      minTokens: Int,
      validatedChar: java.util.Set[String],
      validatedWord: java.util.Set[String])
      : (DataFrame, Seq[(DataFrame, String)]) = {
    val charKeys = foldWindowKeys(spark,
      graft.text.SubstringDedup.charKeysPath(keysRoot),
      completedBatchDirs(spark, s"$outDir/key_delta_char", batchId),
      minTokens, charTokens = true, validatedChar)
    val wordKeys = foldWindowKeys(spark,
      graft.text.SubstringDedup.wordKeysPath(keysRoot),
      completedBatchDirs(spark, s"$outDir/key_delta_word", batchId),
      minTokens, charTokens = false, validatedWord)
    val (cleaned, charDelta, wordDelta) = graft.text.SubstringDedup
      .incrementalRunLevelBatch(src, charKeys, wordKeys, minTokens)
    (cleaned, Seq(
      charDelta -> s"$outDir/key_delta_char/b$batchId",
      wordDelta -> s"$outDir/key_delta_word/b$batchId"))
  }

  /** Land key deltas, skipping empty frames (the all-short-batch
    * contract). Each delta is materialized ONCE — the emptiness probe
    * and the parquet write would otherwise each execute the full
    * window-hash + distinct plan over the batch.
    */
  private def writeKeyDeltas(deltas: Seq[(DataFrame, String)]): Unit =
    deltas.foreach { case (d, path) =>
      val once = d.localCheckpoint(true)
      if (!once.isEmpty) once.write.mode("overwrite").parquet(path)
    }

  /** Base window-key table ∪ completed key deltas, stamp-checked — the
    * per-micro-batch corpus side of the substring ingest streams. The
    * BASE table is re-validated every batch (it is external state:
    * another writer may replace it between batches), but delta dirs
    * are immutable once complete and were written BY this stream with
    * a known stamp, so each is validated on first read only and then
    * served from `validated` (a per-stream path cache) — without it
    * every batch re-pays loadWindowKeys' parquet-footer read + 1-row
    * collect per accumulated delta, O(batches²) driver jobs over the
    * stream's life.
    */
  private def foldWindowKeys(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      deltas: Seq[String],
      minTokens: Int,
      charTokens: Boolean,
      validated: java.util.Set[String]): DataFrame =
    deltas.foldLeft(
      graft.text.SubstringDedup.loadWindowKeys(spark, basePath, minTokens, charTokens)) {
      (acc, d) =>
        val keys =
          if (validated.contains(d)) spark.read.parquet(d).select("key")
          else {
            // loadWindowKeys validates eagerly (the require fires on
            // the collect inside), so reaching the add() means the
            // stamp matched
            val k = graft.text.SubstringDedup.loadWindowKeys(spark, d, minTokens, charTokens)
            validated.add(d)
            k
          }
        acc.unionByName(keys)
    }

  /** COMPLETE batch directories (_SUCCESS present) under `root`,
    * excluding the batch currently being (re)processed — shared
    * delta-discovery shape of every batch-keyed idempotent sink.
    * Hadoop FileSystem listing (like the store maintenance side): a
    * java.io.File listing is always empty on a remote store, so every
    * batch would silently see zero prior state.
    */
  private def completedBatchDirs(
      spark: SparkSession, root: String, excludeBatch: Long): Seq[String] =
    Store.completedDirs(spark, root)
      .filterNot(d => new org.apache.hadoop.fs.Path(d).getName == s"b$excludeBatch")

  /** Frozen benchmark-decontamination stage config for
    * [[ingestPipelineStream]] (stage 1d): drop arriving docs whose
    * verbatim n-gram overlap with `benchmark` reaches `ngramThreshold`
    * OR that MinHash-near-dup a benchmark doc via the persisted
    * `benchBanded` keys — the text channels of the X90 report at
    * ingest time (the standalone [[decontaminationGateStream]] adds
    * the embedding channel when the stream carries vectors).
    */
  final case class BenchmarkGate(
      benchmark: DataFrame,
      benchBanded: DataFrame,
      n: Int = 5,
      ngramThreshold: Double = 0.2,
      dedup: graft.text.MinHashConfig =
        graft.text.MinHashConfig(threshold = 0.5))

  /** Benchmark- and reference-side artifacts a stream freezes ONCE at
    * construction — re-shingling the static benchmark (or
    * re-tokenizing the reference) inside every micro-batch would pay
    * its scan thousands of times over a long-lived ingest: the
    * benchmark's n-gram shingle set, its verify texts, its banded keys,
    * its embeddings as the cosine channel's centroid frame (when
    * given), and the drift reference's tokens (when given).
    */
  private final case class FrozenArtifacts(
      shingleSet: DataFrame,
      benchDocs: DataFrame,
      banded: DataFrame,
      cents: Option[DataFrame],
      refToks: Option[DataFrame])

  private def freezeArtifacts(
      benchmark: DataFrame,
      benchBanded: DataFrame,
      n: Int,
      benchEmbeddings: Option[DataFrame] = None,
      reference: Option[DataFrame] = None): FrozenArtifacts =
    FrozenArtifacts(
      graft.text.TextAnalysis.benchmarkShingleSet(benchmark, n).localCheckpoint(true),
      benchmark.localCheckpoint(true),
      benchBanded.localCheckpoint(true),
      benchEmbeddings.map(
        _.select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
          .localCheckpoint(true)),
      reference.map(graft.text.TextAnalysis.referenceTokens(_).localCheckpoint(true)))

  /** The streaming twin of [[graft.pipeline.TrainingSet.build]] stages
    * 1 → 3, composed into ONE ingest stream: each micro-batch passes the
    * Gopher-style rule gate (1), the optional trained-classifier gate
    * (1b — the frozen-model contract of [[scoreQualityStream]]), the
    * optional frozen perplexity gate (1c — the CCNet bucket filter of
    * [[perplexityGateStream]], keeping buckets ≤ maxBucket), the
    * optional frozen benchmark-decontamination gate (1d —
    * [[BenchmarkGate]]), an
    * exact-fingerprint dedup against (corpus ∪ prior accepted ∪ the
    * batch itself, min doc_id wins) (2), and finally the incremental
    * near-dup ingest against the persisted banded index (3) — survivors
    * append to the accepted table and to the index as a delta, exactly
    * like [[ingestDedupStream]], with the same batch-keyed idempotent
    * replay contract.
    *
    * Equivalence (StreamingSpec pins it): under the append-only-ids
    * contract and a corpus that already passed the same gates (the
    * steady state — the corpus WAS built by this pipeline), the
    * accepted set equals the batch composition quality-gate →
    * dedup-winners over (corpus ∪ all new docs) restricted to the new
    * ids. The exact stage never changes the final set (an exact copy is
    * a Jaccard-1.0 near-dup), it only shrinks what the shingle pass
    * must scan — the same cheap-stages-first ordering as the batch
    * pipeline.
    */
  def ingestPipelineStream(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      corpusIndexPath: String,
      outDir: String,
      checkpoint: String,
      cfg: graft.text.MinHashConfig = graft.pipeline.TrainingSet.CurationDefaults.CorpusDedup,
      minWords: Long = 10L,
      maxWords: Long = 100000L,
      maxDupWordFrac: Double = 0.9,
      maxTopWordFrac: Double = 0.3,
      qualityModel: Option[(graft.text.QualityClassifier.Model, Double)] = None,
      perplexityGate: Option[(graft.text.PerplexityGate.Model, Long)] = None,
      benchmarkGate: Option[BenchmarkGate] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val frozenBench = benchmarkGate.map(bg =>
      freezeArtifacts(bg.benchmark, bg.benchBanded, bg.n))
    def gate(batch: DataFrame): DataFrame = {
      val ruleKept = graft.text.TextAnalysis
        .filterVerdicts(batch, minWords, maxWords, maxDupWordFrac, maxTopWordFrac)
        .filter(col("keep")).select("doc_id")
      val ruled = batch.join(ruleKept, Seq("doc_id"), "left_semi")
      val qualed = qualityModel.fold(ruled) { case (m, thr) =>
        ruled.join(
          graft.text.QualityClassifier.score(ruled, m)
            .filter(col("p_target") >= thr).select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
      // 1c: CCNet perplexity filter as a frozen artifact — keep only
      // documents the frozen bigram-LM gate puts in bucket ≤ maxBucket
      // (head/middle); stateless per batch like the other gate stages
      val perpled = perplexityGate.fold(qualed) { case (m, maxBucket) =>
        qualed.join(
          graft.text.PerplexityGate.assign(qualed, m)
            .filter(col("bucket") <= maxBucket).select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
      // 1d: frozen benchmark decontamination — the X90 text channels
      // at ingest time (stateless: both channels are per-doc vs the
      // construction-time-frozen benchmark artifacts)
      benchmarkGate.fold(perpled) { bg =>
        val frozen = frozenBench.get
        val ng = graft.text.TextAnalysis
          .contaminationScoresAgainst(perpled, frozen.shingleSet, bg.n)
          .filter(col("overlap_frac") >= bg.ngramThreshold)
          .select("doc_id")
        val nd = graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(perpled, frozen.benchDocs, frozen.banded, bg.dedup)
          .select(col("i").as("doc_id")).distinct()
        perpled.join(ng.unionByName(nd).distinct(), Seq("doc_id"), "left_anti")
      }
    }
    sinkBatches(newDocs, checkpoint) { (batch, batchId) =>
      processIngestBatch(batch.localCheckpoint(true), batchId, corpusDocs,
        corpusIndexPath, outDir, cfg, gate, exactDedup = true)
      ()
    }
  }

  /** [[ingestDedupStream]] with Spark's NATIVE
    * `dropDuplicatesWithinWatermark` exact-dedup stage composed
    * UPSTREAM of the near-dup foreachBatch — the two streaming dedup
    * mechanisms in one pipeline, each doing what it is cheapest at:
    *
    *  - the native operator holds per-fingerprint state in the state
    *    store (RocksDB at scale) bounded by the event-time watermark,
    *    so an exact redelivery/duplicate within the horizon is dropped
    *    by ONE state lookup — before it pays gating, signing, or the
    *    shingle verify;
    *  - the foreachBatch stage is the unchanged incremental near-dup
    *    ingest (exact min-id dedup vs corpus ∪ prior accepted ∪ batch,
    *    then banded-index candidates + exact-Jaccard verify).
    *
    * The accepted TEXT set is IDENTICAL with or without the native
    * stage (StreamingSpec pins the id set against batch-mode
    * dedupWinners): an exact duplicate the state drops would have lost
    * downstream anyway — to its original via the exact stage if
    * accepted, or at Jaccard 1.0 via the verify if not — and a
    * duplicate arriving after its fingerprint expired from the
    * watermark horizon passes through to be caught by exactly those
    * stages. The native stage is a WORK filter, not a correctness
    * stage; that is what makes the composition safe.
    *
    * One id-level caveat the composition trades for the state-store
    * shortcut: WITHIN a micro-batch, `dropDuplicatesWithinWatermark`
    * keeps an arbitrary copy per fingerprint (shuffle arrival order),
    * so when exact duplicates co-arrive in ONE batch the surviving
    * doc_id may differ from batch mode's min-id — same text, same
    * count, different id. Cross-batch the append-only contract makes
    * the state's first-seen copy the min-id copy, and callers needing
    * strict min-id inside a batch use [[ingestDedupStream]] (its
    * exact stage picks min-id deterministically).
    *
    * `newDocs` must carry an event-time `ts` column for the watermark
    * (the state-size bound: fingerprints older than `delay` are
    * evicted). Requires append-only ascending doc_ids across batches,
    * like every incremental-ingest entry point.
    */
  def watermarkedIngestDedupStream(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      corpusIndexPath: String,
      outDir: String,
      checkpoint: String,
      delay: String = "1 hour",
      cfg: graft.text.MinHashConfig = graft.pipeline.TrainingSet.CurationDefaults.CorpusDedup)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val exactDeduped = newDocs
      .withColumn("__fp", xxhash64(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
    sinkBatches(exactDeduped, checkpoint) { (batch, batchId) =>
      processIngestBatch(batch.drop("ts").localCheckpoint(true), batchId, corpusDocs,
        corpusIndexPath, outDir, cfg, gate = identity, exactDedup = true)
      ()
    }
  }

  /** Shared micro-batch body of [[ingestDedupStream]] /
    * [[ingestPipelineStream]] / [[curationIngestStream]]: apply `gate`
    * (per-doc, stateless), optionally exact-dedup the gated batch
    * against every prior text and itself, near-dup the survivors
    * against base index + COMPLETE deltas, and write accepted docs +
    * the index delta batch-keyed. `batch` is a NON-EMPTY micro-batch
    * (the [[sinkBatches]] contract) that the caller has already
    * materialized (checkpointed), so `gate` and the stages below read
    * it without re-running the source. Returns the batch's ACCEPTED rows
    * (materialized; empty frame when its gated remainder is empty) so
    * composing callers can record per-doc verdicts.
    */
  private def processIngestBatch(
      batch: DataFrame,
      batchId: Long,
      corpusDocs: DataFrame,
      corpusIndexPath: String,
      outDir: String,
      cfg: graft.text.MinHashConfig,
      gate: DataFrame => DataFrame,
      exactDedup: Boolean): DataFrame = {
    val acceptedRoot = s"$outDir/accepted"
    val deltaRoot = s"$outDir/index_delta"
    // COMPLETE batch directories only (completedBatchDirs: _SUCCESS
    // present, excluding the batch currently being (re)processed): a
    // replayed batch must never see its own earlier partial or
    // complete write as "prior corpus" — its docs would collide with
    // themselves at Jaccard 1.0 and the whole batch would silently
    // self-reject
    val spark = batch.sparkSession
    val b0 = gate(batch)
    if (b0.isEmpty) b0.limit(0)
    else {
      val b1 = b0.localCheckpoint(true)
      // corpus side: base index + every COMPLETE earlier batch's delta
      val banded = completedBatchDirs(spark, deltaRoot, batchId).foldLeft(
        graft.text.MinHashDedup.readBandedIndex(spark, corpusIndexPath, cfg)) {
        (acc, d) => acc.unionByName(
          graft.text.MinHashDedup.readBandedIndex(spark, d, cfg))
      }
      // texts of earlier COMPLETE acceptances, for exact verification
      // of the (few) candidate pairs
      val acceptedPrior = completedBatchDirs(spark, acceptedRoot, batchId)
      val priorAccepted =
        if (acceptedPrior.isEmpty) b1.limit(0)
        else acceptedPrior.map(spark.read.parquet(_))
          .reduce(_ unionByName _)
          .select(b1.columns.map(col(_)).toSeq: _*)
      val existing = corpusDocs.select(b1.columns.map(col(_)).toSeq: _*)
        .unionByName(priorAccepted)
      // stage 2: one 8-byte-key aggregation — min doc_id wins within
      // the batch; any fingerprint already in (corpus ∪ prior
      // accepted) rejects its batch copies outright (existing ids are
      // all smaller under the append-only contract)
      val b = if (!exactDedup) b1 else {
        val withinWinners = b1
          .select(col("doc_id"), xxhash64(col("text")).as("__fp"))
          .groupBy("__fp").agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
        val existingFp = existing
          .select(xxhash64(col("text")).as("__fp")).distinct()
        b1.join(
          withinWinners.join(existingFp, Seq("__fp"), "left_anti").select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
      val winners = graft.text.MinHashDedup
        .incrementalDedupWinnersFromBanded(b, existing, banded, cfg)
      val accepted = b.join(winners, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      // batch-keyed overwrite → replaying this batch is a no-op; an
      // all-rejected batch writes nothing (readBandedIndex refuses
      // empty tables by design)
      if (!accepted.isEmpty) {
        writeBatch(accepted, acceptedRoot, batchId)
        // a non-empty accepted batch can still have ZERO signatures —
        // every accepted text below shingleSize tokens (the normal
        // case in the v2 driver, where a fully span-cut doc arrives
        // empty): a row-less banded delta would poison every LATER
        // batch's readBandedIndex (which refuses empty tables), so
        // skip the delta exactly like the all-rejected case. Those
        // docs still dedup downstream through the accepted table's
        // exact channel / text verify.
        val sigs = graft.text.MinHashDedup.signatures(accepted, cfg)
          .localCheckpoint(true)
        if (!sigs.isEmpty)
          graft.text.MinHashDedup.writeBandedIndex(
            sigs, s"$deltaRoot/b$batchId", cfg)
      }
      accepted
    }
  }

  /** Streaming quality gate — the Dolma-style "attributes run" as a
    * streaming job: score every arriving document with the batch
    * quality verdicts ([[graft.text.TextAnalysis.filterVerdicts]])
    * inside foreachBatch and append the per-rule boolean attributes to
    * a parquet table. Every rule is per-document (repetition fractions,
    * length bounds — no cross-document state), so micro-batch scoring
    * IS the batch operator applied incrementally: replaying a corpus
    * through this sink produces exactly the batch attributes table
    * (StreamingSpec pins it). Downstream threshold sweeps then read
    * the attributes table instead of rescanning text — the same
    * operational contract as the batch form.
    */
  def scoreDocumentsStream(
      documents: DataFrame,
      path: String,
      checkpoint: String,
      minWords: Long = 10L,
      maxWords: Long = 100000L,
      maxDupWordFrac: Double = 0.9,
      maxTopWordFrac: Double = 0.3): org.apache.spark.sql.streaming.StreamingQuery =
    sinkBatchKeyed(documents, path, checkpoint)((batch, _) =>
      graft.text.TextAnalysis
        .filterVerdicts(batch, minWords, maxWords, maxDupWordFrac, maxTopWordFrac))

  /** Streaming twin of the LEARNED quality gate: score every arriving
    * document with a TRAINED hashed-BoW logistic model (the
    * fastText/CCNet filter) and sink (doc_id, p_target) — the online
    * half of [[graft.text.QualityClassifier]]. The model is a frozen
    * artifact (weights baked into the plan as a broadcast literal —
    * scoring is stateless and map-side per micro-batch, no state
    * store), so stream and batch verdicts agree EXACTLY for the same
    * model bytes: train once, persist
    * ([[graft.text.QualityClassifier.saveModel]]), score everywhere.
    * Batch-keyed overwrite sink — same idempotent-replay contract as
    * [[scoreDocumentsStream]].
    */
  def scoreQualityStream(
      documents: DataFrame,
      model: graft.text.QualityClassifier.Model,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    sinkBatchKeyed(documents, path, checkpoint)((batch, _) =>
      graft.text.QualityClassifier.score(batch, model))

  /** Streaming twin of the CCNet perplexity filter (batch X81): score
    * and bucket every arriving document against a FROZEN bigram-LM
    * gate ([[graft.text.PerplexityGate]] — count tables, vocab size,
    * and bucket boundaries trained once on a reference corpus) and
    * sink (doc_id, mean_logp, bucket). Like [[scoreQualityStream]],
    * the artifact is frozen so stream and batch verdicts agree for the
    * same model: replaying the reference corpus reproduces the batch
    * head/middle/tail buckets EXACTLY (StreamingSpec pins it). The
    * per-batch work is two joins against model-sized tables plus a
    * codegen'd boundary when-chain — stateless, no state store, no
    * global rank at serve time. Batch-keyed overwrite sink — same
    * idempotent-replay contract as [[scoreDocumentsStream]].
    */
  def perplexityGateStream(
      documents: DataFrame,
      model: graft.text.PerplexityGate.Model,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    sinkBatchKeyed(documents, path, checkpoint)((batch, _) =>
      graft.text.PerplexityGate.assign(batch, model))

  /** Streaming twin of the token-budget cut (batch X80,
    * [[graft.pipeline.TrainingSet.budgetCut]]): MONOTONE ADMISSION —
    * admit each arriving document while the cumulative admitted token
    * count stays under `budgetTokens`, then never again. The only
    * cross-batch state is one number (tokens consumed by prior
    * batches), recovered from the COMPLETE prior batch outputs
    * themselves — no state store, and a replayed batch recomputes
    * against exactly the prior batches it saw first time (same
    * batch-keyed idempotent contract as the ingest sinks).
    *
    * Within a batch, documents are ordered by the SAME deterministic
    * portable coin as the batch operator ([[graft.ops.Scale.shuffleOrder]]
    * on (md5-coin, doc_id)); the coin is per-document, so any subset
    * orders consistently with the global order. Replaying the corpus in
    * global coin order therefore reproduces the batch X80 admitted set
    * EXACTLY (StreamingSpec pins it, including the partially-admitted
    * boundary batch); an out-of-order arrival admits greedily in
    * arrival order — the inherent streaming semantics of a monotone
    * budget.
    */
  def budgetAdmissionStream(
      documents: DataFrame,
      budgetTokens: Long,
      path: String,
      checkpoint: String,
      seed: Long = 42L): org.apache.spark.sql.streaming.StreamingQuery = {
    require(budgetTokens >= 1, s"budgetTokens=$budgetTokens must be positive")
    sinkBatchKeyed(documents, path, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val priorDirs = completedBatchDirs(spark, path, batchId)
      val prior =
        if (priorDirs.isEmpty) 0L
        else spark.read.parquet(priorDirs: _*)
          .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
      val toks = batch.select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val ordered = graft.ops.Scale.shuffleOrder(toks, "doc_id", seed)
        .localCheckpoint(false)
      graft.ops.ScalableWindows
        .withGlobalRunningSum(ordered, Seq("shuffle_pos"), "n_tokens", "cum_tokens")
        .filter(lit(prior) + col("cum_tokens") - col("n_tokens") < budgetTokens)
        .select("doc_id", "n_tokens")
    }
  }

  /** Streaming twin of the vocabulary-novelty curve (batch X86,
    * [[graft.text.TextAnalysis.noveltyCurve]]): each micro-batch
    * persists exactly the word types NOT seen in any COMPLETED prior
    * batch — the live ingest monitor for "is fresh data still adding
    * vocabulary". Cross-batch state is the seen-vocab set, recovered
    * from the prior batch outputs themselves (no state store): batch
    * b's sink dir IS the set of words b introduced, so the union of
    * completed dirs is the seen set, and the batch-keyed overwrite
    * makes replays idempotent (the ingestDedupStream contract — a
    * replayed batch anti-joins against exactly the prior batches it
    * saw first time).
    *
    * Scale shape: the per-batch distinct and the anti-join are both
    * WORD-keyed — vocab-sized by Heaps' law, never corpus-sized — and
    * the seen set grows sub-linearly in ingested tokens for natural
    * text. Output per batch: dir `b<id>` of (w) rows; derive the curve
    * with [[noveltySummary]].
    */
  def vocabNoveltyStream(
      documents: DataFrame,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    sinkBatchKeyed(documents, path, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val words = batch
        .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("w"))
        .distinct()
      val priorDirs = completedBatchDirs(spark, path, batchId)
      val fresh =
        if (priorDirs.isEmpty) words
        else words.join(
          spark.read.parquet(priorDirs: _*).select("w"), Seq("w"), "left_anti")
      fresh.withColumn("batch_id", lit(batchId))
    }

  /** Streaming twin of the unified decontamination report (batch X90,
    * [[graft.pipeline.TrainingSet.decontaminationReport]]): gate every
    * arriving document against a FROZEN benchmark at ingest time,
    * before it ever enters the corpus. All three channels run against
    * static benchmark artifacts, so the stage is fully STATELESS per
    * micro-batch — no cross-batch state, no state store, and the
    * batch-keyed sink replays idempotently:
    *
    *  1. verbatim n-gram overlap vs the benchmark's shingle set;
    *  2. MinHash near-dup via [[graft.text.MinHashDedup
    *     .crossNearDupsAgainstBanded]] — the batch signs itself, the
    *     benchmark contributes only its persisted banded keys;
    *  3. embedding cosine IF the stream carries an `embedding` column
    *     (broadcast benchmark vectors, map-side argmax); absent column
    *     → null channel, which never fires (same three-valued-OR
    *     contract as the batch report).
    *
    * A replayed corpus reproduces the batch X90 report EXACTLY
    * (StreamingSpec pins it) — channel semantics are per-document vs
    * the frozen benchmark, so batch boundaries cannot change verdicts.
    */
  def decontaminationGateStream(
      documents: DataFrame,
      benchmark: DataFrame,
      benchBanded: DataFrame,
      benchEmbeddings: DataFrame,
      path: String,
      checkpoint: String,
      n: Int = 5,
      ngramThreshold: Double = 0.2,
      dedup: graft.text.MinHashConfig =
        graft.text.MinHashConfig(threshold = 0.5),
      cosThreshold: Double = 0.35): org.apache.spark.sql.streaming.StreamingQuery = {
    val frozen = freezeArtifacts(benchmark, benchBanded, n, Some(benchEmbeddings))
    sinkBatchKeyed(documents, path, checkpoint)((batch, _) =>
      streamDeconChannels(batch, frozen, n, ngramThreshold, dedup,
        cosThreshold, maxSpanTokens = None))
  }

  /** Streaming twin of the max-overlap-span report (batch X96,
    * [[graft.text.TextAnalysis.maxBenchmarkOverlapSpan]]): every
    * arriving document's longest consecutive benchmark n-gram run,
    * computed at ingest time against a FROZEN benchmark shingle set —
    * the span-length channel (GPT-3's 13-gram-rule shape) running
    * beside [[decontaminationGateStream]]'s fraction channel. The
    * metric is per-document vs the static set, so the stage is fully
    * STATELESS per micro-batch and the batch-keyed sink replays
    * idempotently; a replayed corpus reproduces the batch report
    * EXACTLY (StreamingSpec pins it).
    */
  def overlapSpanGateStream(
      documents: DataFrame,
      benchmark: DataFrame,
      path: String,
      checkpoint: String,
      n: Int = 5): org.apache.spark.sql.streaming.StreamingQuery = {
    // freeze the benchmark shingle set once — never re-shingled per batch
    val shingleSet = graft.text.TextAnalysis
      .benchmarkShingleSet(benchmark, n).localCheckpoint(true)
    sinkBatchKeyed(documents, path, checkpoint)((batch, _) =>
      graft.text.TextAnalysis.maxBenchmarkOverlapSpanAgainst(batch, shingleSet, n))
  }

  /** Streaming distribution-drift monitor (batch twin:
    * [[graft.text.TextAnalysis.unigramDrift]]): every micro-batch's
    * smoothed unigram KL/TV against a FROZEN reference snapshot — the
    * ingest-time alarm that an upstream source changed character (a
    * KL/TV step fires long before any per-doc gate). The reference is
    * tokenized ONCE ([[graft.text.TextAnalysis.referenceTokens]]);
    * each batch's two-row report lands under its batch id, so the sink
    * IS the drift time series and replays idempotently. Stateless per
    * micro-batch; a replayed slice reproduces the batch report exactly
    * (StreamingSpec pins it).
    */
  def driftMonitorStream(
      documents: DataFrame,
      reference: DataFrame,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val refToks = graft.text.TextAnalysis
      .referenceTokens(reference).localCheckpoint(true)
    sinkBatchKeyed(documents, path, checkpoint)(driftReport(_, refToks, _))
  }

  /** One micro-batch's drift report against the frozen reference tokens,
    * tagged with its batch id — the [[driftMonitorStream]] sink row and
    * the curation drivers' `drift/b<id>` side channel.
    */
  private def driftReport(batch: DataFrame, refToks: DataFrame, batchId: Long): DataFrame =
    graft.text.TextAnalysis
      .unigramDriftAgainst(batch, refToks)
      .withColumn("batch_id", lit(batchId))

  /** Decontamination channel assembly shared by
    * [[decontaminationGateStream]] and stage 1 of the two streaming
    * curation drivers — the X90 channels against the
    * construction-time FROZEN benchmark artifacts, plus the X96 span
    * channel when `maxSpanTokens` is set, assembled by the batch
    * report's own verdict helper so the semantics cannot drift (one
    * definition, three streams). The verdict column is `verdict`.
    */
  private def streamDeconChannels(
      bdf: DataFrame,
      frozen: FrozenArtifacts,
      n: Int,
      ngramThreshold: Double,
      deconDedup: graft.text.MinHashConfig,
      cosThreshold: Double,
      maxSpanTokens: Option[Int]): DataFrame = {
    val ngram = graft.text.TextAnalysis
      .contaminationScoresAgainst(bdf, frozen.shingleSet, n)
      .select(col("doc_id"), col("overlap_frac"))
    val nd = graft.text.MinHashDedup
      .crossNearDupsAgainstBanded(bdf, frozen.benchDocs, frozen.banded, deconDedup)
      .select(col("i").as("doc_id")).distinct()
      .withColumn("__nd", lit(true))
    val sem = frozen.cents.filter(_ => bdf.columns.contains("embedding")).map(cc =>
      graft.vector.SemDedup.assignWithScore(
          bdf.select(col("doc_id").as("vec_id"), col("embedding")), cc)
        .select(col("vec_id").as("doc_id"),
          round(col("ccos"), 6).as("semantic_cos")))
    val joined0 = bdf.select("doc_id")
      .join(ngram, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
    val joined1 = sem.fold(
      joined0.withColumn("semantic_cos", lit(null).cast("double")))(
      s => joined0.join(s, Seq("doc_id"), "left"))
    val joined = maxSpanTokens.fold(joined1)(_ => joined1.join(
      graft.text.TextAnalysis
        .maxBenchmarkOverlapSpanAgainst(bdf, frozen.shingleSet, n)
        .select(col("doc_id"), col("max_span_tokens").as("span_tokens")),
      Seq("doc_id"), "left"))
    graft.pipeline.TrainingSet
      .assembleDecontaminationVerdict(
        joined, ngramThreshold, cosThreshold, maxSpanTokens)
  }

  /** The per-doc manifest projection shared by both streaming curation
    * drivers: `base` (channel columns incl. decon_verdict, plus any
    * leading accounting columns) gains the three-valued dedup verdict
    * (null = never reached the stage) and the final keep — the batch
    * manifest's exact column contract.
    */
  private def manifestWithVerdicts(
      base: DataFrame, accepted: DataFrame): DataFrame =
    base
      .join(accepted.select(col("doc_id"), lit(true).as("__acc")),
        Seq("doc_id"), "left")
      .select(base.columns.map(col).toSeq :+
        when(col("decon_verdict") =!= "keep", lit(null).cast("string"))
          .when(coalesce(col("__acc"), lit(false)), "keep")
          .otherwise("drop").as("dedup_verdict") :+
        (col("decon_verdict") === "keep" &&
          coalesce(col("__acc"), lit(false))).as("keep"): _*)
      .orderBy("doc_id")

  /** The composed streaming CURATION driver — the ingest-time twin of
    * [[graft.pipeline.TrainingSet.curateCorpus]], chaining the four
    * standing gates into ONE foreachBatch pipeline with a per-doc
    * manifest (the "why is doc X in or out" table, exactly like the
    * batch manifest):
    *
    *   1. decontamination — the X90 channels against construction-time
    *      FROZEN benchmark artifacts (verbatim n-gram fraction, MinHash
    *      near-dup via the persisted benchmark banded keys, embedding
    *      cosine when the stream carries vectors, and — when
    *      `maxSpanTokens` is set — the X96 longest-verbatim-span
    *      channel), assembled by the batch report's own verdict helper
    *      so the semantics cannot drift;
    *   2. incremental near-dup dedup of the decon survivors against
    *      corpus index + accepted deltas ([[ingestDedupStream]]'s exact
    *      + banded machinery, batch-keyed and replay-idempotent);
    *   3. drift monitor — each arriving batch's unigram KL/TV vs a
    *      frozen reference snapshot, written as the side time series
    *      (an alarm channel, not a per-doc verdict).
    *
    * Sinks under `outDir`: `manifest/b<id>` (doc_id, channel columns,
    * decon_verdict, dedup_verdict, keep), `accepted/b<id>` +
    * `index_delta/b<id>` (the ingest contract), `drift/b<id>` when a
    * reference is given.
    *
    * Equivalence (StreamingSpec pins it): under the append-only-ids
    * contract, a corpus whose seed already passed the same decon gate,
    * and an event-time replay, the manifest's channel columns and
    * decon/dedup verdicts equal the batch
    * [[graft.pipeline.TrainingSet.curationManifest]] with
    * `minIdDedupWinners = true` (the pairwise rule incremental ingest
    * realizes) restricted to the new ids. The batch manifest's
    * perplexity/mixture stages are corpus-GLOBAL (bucket boundaries
    * and quota cutoffs over everything standing) and deliberately have
    * no streaming twin here — a release run applies them over the
    * accepted table, not per micro-batch.
    */
  def curationIngestStream(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      corpusIndexPath: String,
      benchmark: DataFrame,
      benchBanded: DataFrame,
      outDir: String,
      checkpoint: String,
      benchEmbeddings: Option[DataFrame] = None,
      reference: Option[DataFrame] = None,
      n: Int = 5,
      ngramThreshold: Double = 0.2,
      deconDedup: graft.text.MinHashConfig =
        graft.pipeline.TrainingSet.CurationDefaults.DeconDedup,
      cosThreshold: Double = 0.35,
      maxSpanTokens: Option[Int] = None,
      cfg: graft.text.MinHashConfig = graft.pipeline.TrainingSet.CurationDefaults.CorpusDedup)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val frozen = freezeArtifacts(benchmark, benchBanded, n, benchEmbeddings, reference)
    sinkBatches(newDocs, checkpoint) { (batch, batchId) =>
      val bdf = batch.localCheckpoint(true)
      // drift monitor over the WHOLE arriving batch (pre-gate: the
      // alarm watches what the source sends, not what survives)
      frozen.refToks.foreach(rt =>
        writeBatch(driftReport(bdf, rt, batchId), s"$outDir/drift", batchId))
      // stage 1 — decon channels vs the frozen benchmark artifacts
      val decon = streamDeconChannels(bdf, frozen, n, ngramThreshold,
        deconDedup, cosThreshold, maxSpanTokens)
        .withColumnRenamed("verdict", "decon_verdict")
        .localCheckpoint(true)
      // stage 2 — incremental near-dup ingest of the decon
      // survivors (exact min-id + banded candidates + verify, with
      // the batch-keyed accepted/delta writes)
      val keepIds = decon.filter(col("decon_verdict") === "keep").select("doc_id")
      val accepted = processIngestBatch(bdf, batchId, corpusDocs,
        corpusIndexPath, outDir, cfg,
        gate = b => b.join(keepIds, Seq("doc_id"), "left_semi"),
        exactDedup = true)
      // per-doc manifest: channel columns + three-valued stage
      // verdicts (null dedup verdict = never reached the stage),
      // the batch manifest's exact column contract
      writeBatch(manifestWithVerdicts(decon, accepted), s"$outDir/manifest", batchId)
    }
  }

  /** [[curationIngestStream]] with incremental exact substring dedup as
    * STAGE 0 — the streaming twin of
    * [[graft.pipeline.TrainingSet.curationManifestV2]]: every arriving
    * doc first has its duplicated token spans CUT (spans whose window
    * keys exist in the corpus — known by its persisted
    * [[graft.text.SubstringDedup.windowKeys]] table at `windowKeysPath`
    * — in an earlier accepted batch's key delta, or earlier in the
    * batch itself), and every later gate (decon channels, incremental
    * near-dup ingest) sees the CLEANED text, which is also the text the
    * accepted table ships. The per-doc manifest gains the stage-0
    * accounting columns (n_tokens, sub_dup_tokens). Writes
    * `key_delta/b<id>` (the [[ingestSubstringDedupStream]] contract —
    * keys of the RAW batch, so replay is idempotent and later batches
    * dedup against everything seen) alongside the v1 sinks.
    *
    * Caller contracts on top of v1's: `corpusDocs` and the banded index
    * at `corpusIndexPath` must carry the CLEANED corpus text (the batch
    * v2 contract — signatures of pre-clean text would verify candidates
    * against text that no longer exists), and ids are append-only.
    * Under those + v1's steady-state conditions AND a seed corpus the
    * span cut leaves untouched (no internal duplicated windows — the
    * state a corpus built by THIS pipeline is in), StreamingSpec pins
    * the manifest's stage-0 + channel + verdict columns equal to the
    * batch [[graft.pipeline.TrainingSet.curationManifestV2]] with
    * `minIdDedupWinners = true` restricted to the new ids.
    *
    * `normalizeFirst` is the streaming twin of the batch flag: each
    * arriving doc is CCNet-normalized
    * ([[graft.text.TextAnalysis.normalizeText]] — NFC, case/digit/
    * punctuation folds) BEFORE the span cut, so every fingerprint
    * (window keys, MinHash shingles, decon n-grams) sees the canonical
    * form, exactly as the batch driver's stage −1. The benchmark-side
    * artifacts built here (shingle set, verify texts) are normalized at
    * stream construction to match; the drift monitor still watches the
    * RAW source (it alarms on what arrives, not on what survives the
    * folds). Caller contracts widen the same way the batch ones do:
    * `corpusDocs`, the banded index at `corpusIndexPath`, the window
    * keys at `windowKeysPath` AND `benchBanded` must all be built over
    * NORMALIZED (+cleaned, for corpus-side) text — one text pipeline
    * end to end; a raw-text index fails loud in the batch twin's
    * provenance check and would silently mis-candidate here. Under
    * normalizeFirst the accepted table ships NORMALIZED cleaned text
    * and key deltas carry normalized window keys, so replay and
    * steady-state growth stay within one canonical form. StreamingSpec
    * pins stream ≡ batch for `normalizeFirst = true` separately.
    *
    * `charTokens` is the batch flag's streaming twin for stage 0
    * (spaceless-script char-unit windows/cuts); the persisted window
    * keys at `windowKeysPath` and every key delta must be built under
    * the SAME flag — mixed-granularity keys never match and the span
    * cut silently degrades to word-blind behavior on spaceless docs.
    *
    * `runLevel` (subsumes charTokens, mutually exclusive) is the
    * batch runLevel flag's streaming twin — the full mixed-script
    * release online: stage 0 becomes the incremental TWO-STAGE
    * run-level cut ([[graft.text.SubstringDedup
    * .incrementalRunLevelBatch]]), `windowKeysPath` must point at a
    * TWO-GRANULARITY key store root ([[graft.text.SubstringDedup
    * .writeWindowKeysRunLevel]]: `<root>/char` + `<root>/word`, each
    * family stamp-validated every fold), key deltas split into
    * `key_delta_char/b<id>` (ORIGINAL virtual run windows) and
    * `key_delta_word/b<id>` (SPLICED-text windows), and the manifest
    * gains the `run_dup_chars` stage-0 accounting column. Pair it
    * with runLevel-enabled `deconDedup`/`cfg` and indexes built over
    * the run-level cleaned corpus — one text pipeline AND one signing
    * dispatch end to end. Maintenance:
    * [[graft.text.SubstringDedup.compactWindowKeysRunLevel]](
    * windowKeysPath, s"\$outDir/key_delta_char",
    * s"\$outDir/key_delta_word") folds both families.
    *
    * Maintenance (between batches, like the vector side's
    * [[graft.vector.Ivf.compactIndex]]):
    * [[graft.text.SubstringDedup.compactWindowKeys]](windowKeysPath,
    * s"\$outDir/key_delta") folds the per-batch key deltas and
    * [[graft.text.MinHashDedup.compactBandedIndex]](corpusIndexPath,
    * s"\$outDir/index_delta") the banded-index deltas — both staged
    * crash-safe swaps; the stream keeps working across either.
    */
  def curationIngestStreamV2(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      corpusIndexPath: String,
      windowKeysPath: String,
      benchmark: DataFrame,
      benchBanded: DataFrame,
      outDir: String,
      checkpoint: String,
      benchEmbeddings: Option[DataFrame] = None,
      reference: Option[DataFrame] = None,
      windowTokens: Int = 10,
      n: Int = 5,
      ngramThreshold: Double = 0.2,
      deconDedup: graft.text.MinHashConfig =
        graft.pipeline.TrainingSet.CurationDefaults.DeconDedup,
      cosThreshold: Double = 0.35,
      maxSpanTokens: Option[Int] = None,
      cfg: graft.text.MinHashConfig = graft.pipeline.TrainingSet.CurationDefaults.CorpusDedup,
      normalizeFirst: Boolean = false,
      charTokens: Boolean = graft.pipeline.TrainingSet.CurationDefaults.CharTokens,
      runLevel: Boolean = graft.pipeline.TrainingSet.CurationDefaults.RunLevel)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(!(runLevel && charTokens),
      "runLevel subsumes charTokens — set exactly one (the batch twin's rule)")
    // under normalizeFirst the frozen benchmark artifacts must see the
    // same canonical form the arriving docs are folded into —
    // normalizing the corpus but not the benchmark would silently
    // blind decontamination (the batch driver's exact rule)
    val benchSrc =
      if (normalizeFirst) graft.text.TextAnalysis.withNormalizedText(benchmark)
      else benchmark
    val frozen = freezeArtifacts(benchSrc, benchBanded, n, benchEmbeddings, reference)
    // key deltas this stream wrote are validated once, then trusted
    // (two sets under runLevel — one per key family)
    val validatedDeltas =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val validatedWordDeltas =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    sinkBatches(newDocs, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val raw = batch.localCheckpoint(true)
      // drift monitor watches what the SOURCE sends — pre-cut, like
      // v1's pre-gate placement
      frozen.refToks.foreach(rt =>
        writeBatch(driftReport(raw, rt, batchId), s"$outDir/drift", batchId))
      // stage −1 (opt-in) — CCNet normalization of the arriving
      // batch, a stateless per-row map; everything from the span
      // cut down (window keys, decon fingerprints, near-dup
      // signatures, the shipped accepted text) sees the canonical
      // form, mirroring the batch driver's normalizeFirst stage
      val src =
        if (normalizeFirst)
          graft.text.TextAnalysis.withNormalizedText(raw).localCheckpoint(true)
        else raw
      // stage 0 — incremental span cut vs corpus keys ∪ COMPLETE
      // earlier key deltas (never this batch's own — replay must
      // not self-collide). Per-table granularity pin + strip
      // (fail-loud on a word-built store under charTokens and vice
      // versa); deltas validated once per stream, base every
      // batch. Under runLevel BOTH families fold and the batch's
      // deltas split per family (written LAST, below).
      val (cleaned0, keyDeltaWrites) =
        if (runLevel)
          runLevelStage0(spark, windowKeysPath, outDir, batchId, src,
            windowTokens, validatedDeltas, validatedWordDeltas)
        else
          singleFamilyStage0(spark, windowKeysPath, outDir, batchId, src,
            windowTokens, charTokens, validatedDeltas)
      val cleaned = cleaned0.localCheckpoint(true)
      val bdf = graft.text.SubstringDedup.withCleanText(src, cleaned)
        .localCheckpoint(true)
      // stages 1–2 over the CLEANED text — v1's exact chain (one
      // shared definition, so the two drivers cannot drift)
      val decon = streamDeconChannels(bdf, frozen, n, ngramThreshold,
        deconDedup, cosThreshold, maxSpanTokens)
        .withColumnRenamed("verdict", "decon_verdict")
        .localCheckpoint(true)
      val keepIds = decon.filter(col("decon_verdict") === "keep").select("doc_id")
      // exact-fingerprint pre-shrink OFF, deliberately: stage 0
      // already removed every exact duplicate run ≥ windowTokens,
      // so the only texts the exact stage could additionally
      // reject are sub-window exact twins — above all the
      // fully-cut EMPTY docs, which the batch v2 rule keeps (no
      // shingles → no near-dup pair; a release's packing tail
      // drops 0-token docs naturally). Rejecting them here would
      // break stream ≡ batch; identical ≥-shingle texts are still
      // caught as Jaccard-1.0 pairs by the banded stage.
      val accepted = processIngestBatch(bdf, batchId, corpusDocs,
        corpusIndexPath, outDir, cfg,
        gate = b => b.join(keepIds, Seq("doc_id"), "left_semi"),
        exactDedup = false)
      // manifest = stage-0 accounting + v1's column contract (the
      // shared presence-keyed projection, so run_dup_chars rides
      // along under runLevel exactly as in the batch manifest)
      writeBatch(
        manifestWithVerdicts(
          cleaned.select(
            graft.text.SubstringDedup.stage0AccountingCols(cleaned): _*)
            .join(decon, Seq("doc_id")),
          accepted),
        s"$outDir/manifest", batchId)
      // key deltas LAST (the ingestSubstringDedupStream contract):
      // keys of the PRE-CUT batch (normalized under normalizeFirst,
      // matching the persisted key table's text form; the runLevel
      // word family carries the SPLICED-text keys the batch word
      // stage windows); a family with no windows writes nothing
      writeKeyDeltas(keyDeltaWrites)
    }
  }

  /** Streaming VECTOR-index ingest — incremental maintenance of a
    * persisted IVF index ([[graft.vector.Ivf.writeIndex]]) from an
    * arriving embedding stream: each micro-batch is assigned against
    * the SAVED centroids (map-side broadcast argmax) and written as a
    * batch-keyed, `list_id`-partitioned DELTA under
    * `indexPath/delta/b<id>` with overwrite — so a crash-and-replay
    * rewrites the same directory instead of duplicating rows (the
    * exactly-once discipline a raw parquet append cannot give).
    * Probes during ingest use [[graft.vector.Ivf.probeIndexWithDeltas]]
    * (base + completed deltas); a periodic
    * [[graft.vector.Ivf.compactIndex]] folds deltas back into the base
    * layout (pure row movement, no re-assignment) restoring the
    * O(nProbe) listing cost. Centroids stay frozen — the drift monitor
    * decides when a full rebuild refreshes placement, exactly like the
    * batch [[graft.vector.Ivf.appendToIndex]] contract.
    *
    * `pqPath` keeps the compressed ADC tier current in the SAME
    * foreachBatch: each batch is also encoded against that artifact's
    * FROZEN codebook and lands as `$pqPath/codes_delta/b<id>` — the
    * residual artifact ([[graft.vector.Pq.writeResidualIndex]],
    * detected by its persisted `$pqPath/cents`) gets residual codes
    * with their list_id, the plain one raw codes. Encode is a
    * deterministic map over frozen floats, so the streamed codes are
    * bit-identical to batch-encoding the same vectors and the ADC scan
    * over [[graft.vector.Pq.codesWithDeltas]] equals the batch scan
    * over the union corpus (StreamingSpec pins both flavors); a
    * periodic [[graft.vector.Pq.compactCodes]] folds them down. The
    * same overwrite-by-batchId discipline makes replays idempotent.
    */
  def vectorIngestStream(
      newVectors: DataFrame,
      indexPath: String,
      checkpoint: String,
      pqPath: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    // the PQ channel's identity is FROZEN for the stream's lifetime
    // (that's what makes streamed codes ≡ batch codes), so resolve it
    // ONCE here — dsub (a first() job), the residual-vs-plain flavor
    // (an fs round-trip) and the two frame plans — instead of paying
    // those per micro-batch inside foreachBatch
    val spark = newVectors.sparkSession
    val pqChannel = pqPath.map { p =>
      val codebook = spark.read.parquet(s"$p/codebook")
      val dsub = codebook.select(size(col("centroid"))).first().getInt(0)
      val centsPath = new org.apache.hadoop.fs.Path(s"$p/cents")
      val fs = centsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cents =
        if (fs.exists(centsPath)) Some(spark.read.parquet(s"$p/cents"))
        else None
      (p, codebook, dsub, cents)
    }
    sinkBatches(newVectors, checkpoint) { (batch, batchId) =>
      val cents = batch.sparkSession.read.parquet(s"$indexPath/centroids")
      graft.vector.Ivf.assign(batch, cents)
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$indexPath/delta/b$batchId")
      pqChannel.foreach { case (p, codebook, dsub, pqrCents) =>
        val toEncode = pqrCents
          .map(graft.vector.Pq.residualVectors(batch, _))
          .getOrElse(batch)
        writeBatch(graft.vector.Pq.encode(toEncode, codebook, dsub),
          s"$p/codes_delta", batchId)
      }
    }
  }

  /** The (batch_id, new_types, cum_vocab) curve over a
    * [[vocabNoveltyStream]] sink: ONE job counts every completed batch
    * at once (grouped on the persisted batch_id column — a thousand
    * micro-batches is one scan, not a thousand serial jobs); dirs whose
    * batch added zero words still appear as zero-count rows via the
    * directory listing.
    */
  def noveltySummary(
      spark: SparkSession,
      path: String): Seq[(Long, Long, Long)] = {
    val dirs = completedBatchDirs(spark, path, excludeBatch = -1L)
    if (dirs.isEmpty) Nil
    else {
      val ids = dirs.map(d => new org.apache.hadoop.fs.Path(d).getName.drop(1).toLong).sorted
      val counted = spark.read.parquet(dirs: _*)
        .groupBy("batch_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ids.map(id => (id, counted.getOrElse(id, 0L)))
        .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, n)) =>
          (id, n, cum + n)
        }.tail
    }
  }

  /** Watermarked stream-stream inner join: pair every `typeA` event
    * with the same user's `typeB` events that follow within `within` —
    * the attribution/correlation query (click → purchase) as a real
    * stream-stream join. Both sides carry watermarks and the join
    * condition bounds `b_ts` to [a_ts, a_ts + within], so Spark can
    * evict buffered state once the watermark passes a row's join range
    * — state is O(arrival rate × (within + delay)), not unbounded.
    * Inner-join matches emit as soon as both sides arrive (append
    * mode), so an in-order replay is batch-equivalent (StreamingSpec
    * pins it).
    */
  def correlatedEvents(
      events: DataFrame,
      typeA: String,
      typeB: String,
      within: String = "1 hour",
      delay: String = "30 minutes"): DataFrame = {
    val a = events.filter(col("event_type") === typeA)
      .withWatermark("ts", delay)
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val b = events.filter(col("event_type") === typeB)
      .withWatermark("ts", delay)
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("event_id").as("b_id"))
    a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("a_id"), col("a_ts"), col("b_id"), col("b_ts"))
  }

  /** Stream-static broadcast enrichment: join each micro-batch of the
    * event stream against a BATCH dimension table. Stream-static inner
    * joins are STATELESS (each micro-batch joins the dim as of that
    * batch — no watermark, no state store), and broadcasting the dim
    * keeps the stream side shuffle-free: at 100 TB/day of events the
    * enrichment adds zero exchanges and zero state, just a dim
    * broadcast per batch. Emits in append mode and composes in front
    * of any downstream stateful operator; an in-order replay is
    * batch-equivalent by construction (StreamingSpec pins it).
    */
  def enrichEvents(
      events: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String): DataFrame =
    // side-qualified keys: a dim whose key shares the stream column's
    // name (user_id = user_id, the common case) would otherwise be an
    // AMBIGUOUS_REFERENCE analysis error
    events.as("__s").join(broadcast(dim.as("__d")),
      col(s"__s.$streamKey") === col(s"__d.$dimKey"))

  /** Run a windowed streaming aggregation in UPDATE mode into a
    * partitioned parquet table via foreachBatch + dynamic partition
    * overwrite — the standard lakehouse upsert shape when no
    * merge-capable table format is available: every micro-batch
    * REPLACES exactly the window partitions it touched (update mode
    * emits only changed groups), so re-running a batch after a failure
    * rewrites the same partitions instead of duplicating rows —
    * idempotent by construction, and downstream readers always see the
    * latest value per window.
    *
    * CORRECTNESS CONSTRAINT: `partitionKeys` must cover the
    * aggregation's ENTIRE group key (e.g. `Seq("w", "event_type")` for
    * [[tumblingHourly]]) — a partition is replaced wholesale with the
    * batch's rows for it, so a coarser partitioning (say `w` alone)
    * would drop the window's other groups whenever only one of them
    * changed. Returns the started query; the caller owns its lifecycle.
    */
  def upsertToParquet(
      aggregated: DataFrame,
      path: String,
      checkpoint: String,
      partitionKeys: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    require(partitionKeys.nonEmpty, "partitionKeys must cover the aggregation group key")
    aggregated.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          batch.write
            .mode("overwrite")
            // per-write dynamic overwrite: only the touched partitions are
            // replaced, WITHOUT mutating the shared session conf (which
            // would silently turn every later mode("overwrite") in the app
            // into a partial overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionKeys: _*)
            .parquet(path)
      }
      .start()
  }

  /** Engine-managed event-time-bounded dedup of an at-least-once event
    * feed: duplicate deliveries of the same event_id within the
    * watermark delay are dropped by the built-in
    * `dropDuplicatesWithinWatermark` operator. Its per-key state is
    * evicted as the EVENT-TIME watermark passes — state is bounded by
    * the in-flight window, not the all-time distinct count, and no
    * processing-time clock is involved (contrast
    * [[streamingDedupWithTtl]], whose TTL runs on the wall clock and
    * whose eviction sweep depends on batch cadence). First occurrences
    * emit immediately in append mode, so the operator composes in front
    * of any downstream aggregation as an exactly-once ingest filter.
    */
  def dedupEventsWithinWatermark(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Session windows with a 30-minute gap per user — streaming form of
    * T03 (merging session state instead of gaps-and-islands windows).
    */
  def userSessions(events: DataFrame, delay: String = "30 minutes",
      rowFilter: Column = lit(true)): DataFrame =
    events
      .withWatermark("ts", delay)
      .filter(rowFilter)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n"),
        min("ts").as("s_start"), max("ts").as("s_end"),
        round(sum("value"), 2).as("v"))
      .select(col("user_id"), col("s_start"), col("s_end"), col("n"), col("v"))
}
