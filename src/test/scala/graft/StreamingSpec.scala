package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{CurationPlan, DeconConfig, SpanCut}
import graft.sources.Tables
import graft.streaming.StreamOps

/** Batch ≡ incremental equivalence (SURVEY §5.3) at sf0.1: replay the
  * 100k-row events table as a file-source stream in event-time order
  * across SIX micro-batch triggers, run the streaming forms of
  * T01/T02/T03 with a 30-minute watermark in append mode, and require
  * the emitted result set to equal the batch result. The tumbling AND
  * session paths additionally get late rows injected behind the
  * watermark mid-replay, which must be dropped (batch equality then
  * proves the drop, since the batch side never sees them).
  */
class StreamingSpec extends SparkSpec {

  private lazy val events = Tables.load(spark, sf1, "events")
  private lazy val maxTs = events.agg(max("ts")).collect()(0).getInstant(0)

  /** Write `df` as a single parquet file named `name` inside `dstDir`. */
  private def writeChunk(df: DataFrame, dstDir: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-chunk")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, dstDir.resolve(s"$name.parquet"))
  }

  /** Seeded `n`-doc corpus (the documents schema) whose vocabulary
    * grows with doc_id: doc i holds the word `w<i>`, which no earlier
    * doc has, plus eleven words drawn from w0..w<i>. So every later
    * slice adds words and also repeats words seen before — the case the
    * vocab-novelty sinks' cross-batch seen-set must handle. The
    * `documents` fixtures cannot show it: all 31 of their words occur
    * in doc_id < 10.
    */
  private def growingVocabDocs(n: Int, seed: Long = 7L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val text = (s"w$i" +: Seq.fill(11)(s"w${rnd.nextInt(i + 1)}")).mkString(" ")
      (i.toLong, text, "en", "src1", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Event-time-ordered n-ths of the events table. */
  private def chunks(n: Int): Seq[DataFrame] = {
    val ts = events.select("ts").orderBy("ts").collect().map(_.getInstant(0))
    val cuts = (1 until n).map(i => java.sql.Timestamp.from(ts(i * ts.length / n)))
    (0 until n).map { i =>
      val lower = if (i == 0) lit(true) else col("ts") > lit(cuts(i - 1))
      val upper = if (i == n - 1) lit(true) else col("ts") <= lit(cuts(i))
      events.filter(lower && upper)
    }
  }

  /** A watermark-advancing control row 4 h past the stream's end.
    * Predicates are pushed below the watermark operator into the scan,
    * so the row must SATISFY every query filter (user_id = 0); it stays
    * invisible in append output because its own window/session never
    * finalizes: the final watermark is its ts − 30 min, which is before
    * any window containing it ends.
    */
  private def sentinel(id: Long): DataFrame =
    events.limit(1).select(
      lit(id).as("event_id"),
      lit(java.sql.Timestamp.from(maxTs.plusSeconds(14400))).as("ts"),
      lit(0L).as("user_id"),
      lit("sentinel").as("event_type"),
      lit(0.0).as("value"),
      lit("{}").as("props"))

  /** Run a streaming transform over `nChunks` replayed event-time-ordered
    * chunks (+ optional late-data injection after the first chunk),
    * returning the append-mode output after the sentinel finalizes every
    * window. With six chunks the first covers ~1/6 of a multi-day span,
    * so rows cloned from the stream's earliest hours are far behind the
    * 30-minute watermark when injected.
    */
  private def runReplay(
      name: String,
      transform: DataFrame => DataFrame,
      late: Option[DataFrame] = None,
      nChunks: Int = 6): Array[Row] = {
    val srcDir = Files.createTempDirectory(s"graft-stream-$name")
    val stream = transform(StreamOps.eventsStream(spark, srcDir.toString))
    val query: StreamingQuery = stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .start()
    try {
      chunks(nChunks).zipWithIndex.foreach { case (c, i) =>
        writeChunk(c, srcDir, s"chunk$i")
        query.processAllAvailable()
        late.foreach { l =>
          if (i == 0) { // inject behind the watermark after chunk 0
            writeChunk(l, srcDir, "late")
            query.processAllAvailable()
          }
        }
      }
      // two sentinels at the SAME event time: the first advances the
      // watermark past every real window; append-mode emission of the
      // finalized windows happens in the NEXT micro-batch, which the
      // second sentinel triggers (their shared future window stays open
      // and is never emitted)
      writeChunk(sentinel(Long.MaxValue - 1), srcDir, "sentinel1")
      query.processAllAvailable()
      writeChunk(sentinel(Long.MaxValue - 2), srcDir, "sentinel2")
      query.processAllAvailable()
      spark.table(name).collect()
    } finally query.stop()
  }

  /** Clones of the stream's earliest rows passing `filter`, with fresh
    * ids — behind the watermark once chunk 0 has been processed.
    */
  private def lateClones(filter: org.apache.spark.sql.Column, n: Int): DataFrame =
    events.filter(filter).orderBy("ts").limit(n)
      .withColumn("event_id", col("event_id") + 1000000L)

  test("stateful streaming dedup: exactly one winner per fingerprint across micro-batches") {
    val docs = Tables.load(spark, sf1, "documents") // sf0.1 has 8 duplicate groups
    val srcDir = Files.createTempDirectory("graft-stream-dedup")
    // three micro-batches split by doc_id
    Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
      .zipWithIndex.foreach { case (c, i) => writeChunk(c, srcDir, s"chunk$i") }
    val stream = StreamOps.streamingExactDedup(
      StreamOps.documentsStream(spark, srcDir.toString))
    val query = stream.writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val winners = spark.table("dedup_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // one winner per distinct fingerprint, never more
    assert(winners.map(_._2).distinct.length == winners.length, "duplicate fp emitted")
    val batchDistinct = docs.select(xxhash64(col("text"))).distinct().count()
    assert(winners.length.toLong == batchDistinct)
    // non-duplicated documents must win for themselves
    val dupIds = docs.groupBy("text").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .filter(col("n") > 1).select(explode(col("ids"))).collect().map(_.getLong(0)).toSet
    val winnerIds = winners.map(_._1).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((allIds -- dupIds).subsetOf(winnerIds), "a unique document lost its own fingerprint")
    // batch-mode run of the same operator = min doc_id per fingerprint
    val batchWinners = StreamOps.streamingExactDedup(docs).collect().map(_.doc_id).toSet
    val l02Winners = docs.groupBy("text").agg(min("doc_id").as("keep")).select("keep")
      .collect().map(_.getLong(0)).toSet
    assert(batchWinners == l02Winners)
  }

  test("streaming segment dedup replayed in id order equals the batch operator") {
    import spark.implicits._
    val base = Tables.load(spark, sf1, "documents")
    // the synthetic corpus has no newlines, so plant multi-segment docs
    // (with shared boilerplate B) at ids above the corpus
    val planted = Seq(
      (1000001L, "B\nu1\nB"), (1000002L, "B\nu2"), (1000003L, "B"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")))
      .select(base.columns.map(col).toSeq: _*)
    val docsAll = base.unionByName(planted)
    val maxId = base.agg(max("doc_id")).collect()(0).getLong(0)
    val srcDir = Files.createTempDirectory("graft-stream-segdedup")
    val query = StreamOps.streamingSegmentDedup(
      StreamOps.documentsStream(spark, srcDir.toString))
      .writeStream.format("memory").queryName("seg_dedup").outputMode("append").start()
    try {
      // id-ordered replay: first-seen-on-stream then equals min (doc_id, idx)
      Seq(docsAll.filter(col("doc_id") <= maxId / 3),
        docsAll.filter(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
        docsAll.filter(col("doc_id") > 2 * maxId / 3))
        .zipWithIndex.foreach { case (c, i) =>
          writeChunk(c, srcDir, s"chunk$i")
          query.processAllAvailable()
        }
    } finally query.stop()
    // reconstruct surviving documents from the emitted winners and
    // compare with the batch operator, full equality
    val segs = docsAll
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .toDF("doc_id", "idx", "seg")
    val got = segs.join(spark.table("seg_dedup").select("doc_id", "idx"), Seq("doc_id", "idx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("seg")))),
          s => s.getField("seg")), "\n").as("text_deduped"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = graft.text.TextAnalysis.segmentDedup(docsAll)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want,
      s"stream≠batch: missing=${(want -- got).take(3)}, extra=${(got -- want).take(3)}")
    // the planted all-boilerplate doc must vanish in BOTH
    assert(!got.exists(_._1 == 1000003L))
  }

  test("TTL dedup: expired fingerprints are forgotten and re-admitted; live ones stay suppressed") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-stream-ttl")
    def doc(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong)).toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val stream = StreamOps.streamingDedupWithTtl(
      StreamOps.documentsStream(spark, srcDir.toString), ttlMs = 10L)
    val query = stream.writeStream
      .format("memory").queryName("ttl_dedup").outputMode("append").start()
    // ProcessingTimeTimeout makes the engine re-run micro-batches on its
    // own clock, so processAllAvailable can block indefinitely — poll
    // the sink with a deadline instead
    def awaitWinners(n: Int): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("ttl_dedup").count() < n && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(spark.table("ttl_dedup").count() >= n,
        s"sink never reached $n winners: ${spark.table("ttl_dedup").collect().toSeq}")
    }
    try {
      writeChunk(doc(1L, "alpha"), srcDir, "c0") // first sight: winner
      awaitWinners(1)
      Thread.sleep(200) // let the 10 ms TTL expire
      // an unrelated batch guarantees a timeout sweep removes fp(alpha)
      writeChunk(doc(99L, "other"), srcDir, "c1")
      awaitWinners(2)
      writeChunk(doc(2L, "alpha"), srcDir, "c2") // re-admitted after expiry
      awaitWinners(3)
      val winners = spark.table("ttl_dedup").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(winners.map(_._1).sorted.toSeq == Seq(1L, 2L, 99L),
        s"expected 1 (first), 99 (other), 2 (re-admitted), got ${winners.toSeq}")
    } finally query.stop()

    // suppression under a LIVE fingerprint needs a TTL far longer than
    // the test (no expiry race): a re-sent text must not win again
    val srcDir2 = Files.createTempDirectory("graft-stream-ttl-live")
    val query2 = StreamOps.streamingDedupWithTtl(
      StreamOps.documentsStream(spark, srcDir2.toString), ttlMs = 600000L)
      .writeStream.format("memory").queryName("ttl_dedup_live").outputMode("append").start()
    try {
      writeChunk(doc(1L, "alpha"), srcDir2, "c0")
      writeChunk(doc(2L, "alpha").unionByName(doc(3L, "beta")), srcDir2, "c1")
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("ttl_dedup_live").count() < 2 && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      val ids = spark.table("ttl_dedup_live").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L) || ids == Set(2L, 3L) && !ids.contains(1L),
        s"exactly one alpha winner + beta expected, got $ids")
      assert(!(ids.contains(1L) && ids.contains(2L)), s"alpha won twice: $ids")
    } finally query2.stop()
  }

  test("stateful dedup runs on the RocksDB state store with identical results") {
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevChangelog = spark.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    graft.core.Engine.useRocksDbStateStore(spark)
    try {
      // cache: an unordered limit re-evaluated across jobs may pick a
      // different subset, desyncing the chunks from batchDistinct
      val docs = Tables.load(spark, sf1, "documents").limit(100).cache()
      val srcDir = Files.createTempDirectory("graft-stream-rocksdb")
      Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
        .zipWithIndex.foreach { case (c, i) => writeChunk(c, srcDir, s"chunk$i") }
      val query = StreamOps.streamingExactDedup(
        StreamOps.documentsStream(spark, srcDir.toString))
        .writeStream.format("memory").queryName("rocksdb_dedup").outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
      // provider actually engaged: RocksDB surfaces its own custom
      // metrics (rocksdbGet*, rocksdbPut*, ...) on the state operator
      val ops = query.lastProgress.stateOperators
      assert(ops.nonEmpty)
      val metricKeys = ops.head.customMetrics.keySet()
      assert(metricKeys.toString.toLowerCase.contains("rocksdb"),
        s"state operator does not report RocksDB metrics: $metricKeys")
      val winners = spark.table("rocksdb_dedup").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(winners.map(_._2).distinct.length == winners.length, "duplicate fp emitted")
      val batchDistinct = docs.select(xxhash64(col("text"))).distinct().count()
      assert(winners.length.toLong == batchDistinct,
        s"RocksDB-backed dedup winners ${winners.length} != $batchDistinct distinct fps")
    } finally {
      Seq(
        "spark.sql.streaming.stateStore.providerClass" -> prevProvider,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> prevChangelog)
        .foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
    }
  }

  test("checkpointed dedup restart: state survives, output stays exactly-once") {
    val srcDir = Files.createTempDirectory("graft-stream-ckpt-src")
    val ckpt = Files.createTempDirectory("graft-stream-ckpt")
    val outDir = Files.createTempDirectory("graft-stream-ckpt-out")
    val docs = Tables.load(spark, sf1, "documents").limit(60).cache()
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs // includes every half1 doc again → all dups on restart
    def startQuery() = StreamOps.streamingExactDedup(
      StreamOps.documentsStream(spark, srcDir.toString))
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .start()
    writeChunk(half1, srcDir, "c0")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // restart from the checkpoint; the second half re-sends every doc of
    // the first half (same text → same fingerprint) plus the odd docs
    writeChunk(half2, srcDir, "c1")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir.toString).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._2).distinct.length == out.length,
      "a fingerprint won twice across the restart — state was not restored")
    val expectFps = docs.select(xxhash64(col("text"))).distinct().count()
    assert(out.length.toLong == expectFps, s"got ${out.length} winners, want $expectFps")
  }

  test("stream-stream join: click→purchase correlation equals the batch join") {
    val srcDir = Files.createTempDirectory("graft-stream-ssjoin")
    val joined = StreamOps.correlatedEvents(
      StreamOps.eventsStream(spark, srcDir.toString), "click", "purchase")
      .filter(col("user_id") < 15) // keep the match set small
    val query = joined.writeStream
      .format("memory").queryName("ss_join").outputMode("append").start()
    try {
      chunks(4).zipWithIndex.foreach { case (c, i) =>
        writeChunk(c, srcDir, s"chunk$i")
        query.processAllAvailable()
      }
    } finally query.stop()
    val got = spark.table("ss_join")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clicks = events.filter(col("event_type") === "click" && col("user_id") < 15)
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("event_id").as("b_id"))
    val want = clicks.join(purchases,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 hour"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must produce at least one correlated pair")
    assert(got == want,
      s"stream-stream join≠batch: missing=${(want -- got).take(3)}, extra=${(got -- want).take(3)}")
  }

  test("dropDuplicatesWithinWatermark suppresses redelivered events across triggers") {
    val srcDir = Files.createTempDirectory("graft-stream-wmdedup")
    val query = StreamOps.dedupEventsWithinWatermark(
      StreamOps.eventsStream(spark, srcDir.toString))
      .writeStream.format("memory").queryName("wm_dedup").outputMode("append").start()
    try {
      val cs = chunks(3)
      writeChunk(cs(0), srcDir, "c0")
      query.processAllAvailable()
      // at-least-once source: redeliver the 500 newest chunk-0 events in
      // the next trigger (ids already emitted; ts nudged but still ahead
      // of the watermark, so suppression comes from STATE, not late-drop)
      val redelivered = cs(0).orderBy(col("ts").desc).limit(500)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 SECOND"))
      writeChunk(cs(1).unionByName(redelivered), srcDir, "c1")
      query.processAllAvailable()
      writeChunk(cs(2), srcDir, "c2")
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.table("wm_dedup").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got.size == got.distinct.size, "every event_id must emit exactly once")
    val want = events.select("event_id").collect().map(_.getLong(0)).toSet
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)}, extra=${(got.toSet -- want).take(3)}")
  }

  test("foreachBatch upsert sink: final parquet state equals the batch aggregation") {
    val srcDir = Files.createTempDirectory("graft-stream-upsert-src")
    val outDir = Files.createTempDirectory("graft-stream-upsert-out")
    val ckpt = Files.createTempDirectory("graft-stream-upsert-ckpt")
    val agg = StreamOps.tumblingHourly(
      StreamOps.eventsStream(spark, srcDir.toString), rowFilter = col("user_id") < 20)
    val overwriteModeBefore = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    val query = StreamOps.upsertToParquet(
      agg, outDir.toString, ckpt.toString, partitionKeys = Seq("w", "event_type"))
    try {
      // three event-time-ordered chunks; windows spanning chunk borders
      // are emitted twice in update mode — the overwrite must keep only
      // the latest value
      chunks(3).zipWithIndex.foreach { case (c, i) =>
        writeChunk(c, srcDir, s"chunk$i")
        query.processAllAvailable()
      }
    } finally query.stop()
    val got = spark.read.parquet(outDir.toString)
      .select(col("w").cast("timestamp").cast("string"), col("event_type"), col("n"), col("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = events.filter(col("user_id") < 20)
      .groupBy(date_trunc("hour", col("ts")).cast("string").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"upsert sink≠batch: missing=${(want -- got).take(3)}, extra=${(got -- want).take(3)}")
    // the dynamic overwrite must be a PER-WRITE option: mutating the
    // shared session conf would silently break every later full
    // overwrite in the app (stale partitions would survive)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") == overwriteModeBefore,
      "upsertToParquet must not mutate the session partitionOverwriteMode")
    val staticDir = Files.createTempDirectory("graft-stream-upsert-static")
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(staticDir.toString)
    Seq((3, "a")).toDF("v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(staticDir.toString)
    assert(spark.read.parquet(staticDir.toString).select("p").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("a"),
      "a full overwrite after the upsert sink must still truncate the whole table")
  }

  test("composed pipeline: watermark dedup -> tumbling agg -> upsert sink equals batch") {
    val srcDir = Files.createTempDirectory("graft-stream-pipeline-src")
    val outDir = Files.createTempDirectory("graft-stream-pipeline-out")
    val ckpt = Files.createTempDirectory("graft-stream-pipeline-ckpt")
    // operators must COMPOSE: exactly-once ingest filter, then the
    // windowed aggregation, then the idempotent partition upsert
    val agg = StreamOps.tumblingHourly(
      StreamOps.dedupEventsWithinWatermark(
        StreamOps.eventsStream(spark, srcDir.toString)),
      rowFilter = col("user_id") < 20)
    val query = StreamOps.upsertToParquet(
      agg, outDir.toString, ckpt.toString, partitionKeys = Seq("w", "event_type"))
    try {
      val cs = chunks(3)
      writeChunk(cs(0), srcDir, "c0")
      query.processAllAvailable()
      // redeliver 500 fresh chunk-0 events alongside chunk 1 — the dedup
      // stage must stop them from double-counting in the aggregate
      val redelivered = cs(0).orderBy(col("ts").desc).limit(500)
      writeChunk(cs(1).unionByName(redelivered), srcDir, "c1")
      query.processAllAvailable()
      writeChunk(cs(2), srcDir, "c2")
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(outDir.toString)
      .select(col("w").cast("timestamp").cast("string"), col("event_type"), col("n"), col("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = events.filter(col("user_id") < 20)
      .groupBy(date_trunc("hour", col("ts")).cast("string").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"composed pipeline≠batch: missing=${(want -- got).take(3)}, extra=${(got -- want).take(3)}")
  }

  test("tumbling window stream ≡ batch T01 form at sf0.1 over 6 triggers, late rows dropped") {
    val late = lateClones(col("user_id") < 50, 5)
    val got = runReplay("t01_stream",
      StreamOps.tumblingHourly(_, rowFilter = col("user_id") < 50),
      late = Some(late))
      .map(r => (r.getInstant(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    def agg(src: DataFrame): Set[(java.time.Instant, String, Long, Double)] =
      src.filter(col("user_id") < 50)
        .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
        .collect()
        .map(r => (r.getInstant(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = agg(events)
    assert(got == want,
      s"stream≠batch: missing=${want -- got}, extra=${got -- want}")
    // the EXPLICIT drop pin (SURVEY §5.3 second clause): the injected
    // rows are aggregate-visible — a batch over stream+late gives a
    // DIFFERENT result — so the equality above holds only because the
    // watermark dropped them, not because they were invisible no-ops
    val wantWithLate = agg(events.unionByName(late))
    assert(wantWithLate != want,
      "late clones must change the batch aggregate, else this spec is vacuous")
  }

  test("sliding window stream ≡ batch T02 formulation at sf0.1 over 6 triggers") {
    val got = runReplay("t02_stream",
      StreamOps.slidingHourly(_, rowFilter = col("user_id") < 20))
      .map(r => (r.getInstant(0), r.getLong(1), r.getDouble(2))).toSet
    val want = ops.TemporalQueries.queries("T02")(ops.Catalog(spark, sf1))
      .collect()
      .map(r => (r.getInstant(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"stream≠batch: missing=${want -- got}, extra=${got -- want}")
  }

  test("session window stream ≡ batch T03 gaps-and-islands at sf0.1, late session rows dropped") {
    val got = runReplay("t03_stream",
      StreamOps.userSessions(_, rowFilter = col("user_id") < 10),
      late = Some(lateClones(col("user_id") < 10, 5)))
      .map(r => (r.getLong(0), r.getInstant(1), r.getInstant(2), r.getLong(3), r.getDouble(4)))
      .toSet
    // batch T03 keyed by session ordinal; re-key by (start, end) bounds
    val want = ops.TemporalQueries.queries("T03")(ops.Catalog(spark, sf1))
      .select("user_id", "s_start", "s_end", "n", "v")
      .collect()
      .map(r => (r.getLong(0), r.getInstant(1), r.getInstant(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got == want,
      s"stream≠batch: missing=${want -- got}, extra=${got -- want}")
  }

  test("streaming dedup ingest: batches dedup against corpus + prior acceptances via index deltas") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").collect()(0).getString(0)
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val corpus = docs.filter(col("doc_id") < 300)
    val idxDir = Files.createTempDirectory("graft-ingest-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    // batch 0: two fresh docs, a clone of corpus doc 10, an intra-batch
    // duplicate pair; batch 1: a clone of batch-0's accepted 1001, one
    // fresh doc
    val fresh = docs.filter(col("doc_id") >= 300 && col("doc_id") < 302)
    val batch0 = fresh
      .unionByName(mk(1000L, textOf(10L)))
      .unionByName(mk(1001L, "zeta eta theta iota kappa lambda unique first"))
      .unionByName(mk(1002L, "zeta eta theta iota kappa lambda unique first"))
    val batch1 = mk(1100L, "zeta eta theta iota kappa lambda unique first")
      .unionByName(mk(1101L, "omicron pi rho sigma tau genuinely new content"))
    val srcDir = Files.createTempDirectory("graft-ingest-src")
    val outDir = Files.createTempDirectory("graft-ingest-out").toString
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    val query = StreamOps.ingestDedupStream(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir, outDir, ckpt)
    try {
      writeChunk(batch0, srcDir, "chunk0")
      query.processAllAvailable()
      writeChunk(batch1, srcDir, "chunk1")
      query.processAllAvailable()
    } finally query.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the corpus clone loses, the intra-batch dup keeps its min id, the
    // cross-BATCH clone (1100, vs batch 0's accepted 1001) loses even
    // though it never met 1001 in one batch — the index delta carried it
    assert(accepted == Set(300L, 301L, 1001L, 1101L),
      s"accepted set wrong: $accepted")
    // equivalence with the batch-mode contract: dedupWinners over
    // (corpus ∪ all new docs), restricted to the new ids
    val allNew = batch0.unionByName(batch1)
    val batchMode = graft.text.MinHashDedup
      .dedupWinners(corpus.unionByName(allNew))
      .collect().map(_.getLong(0)).toSet
    val newIds = allNew.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == (batchMode & newIds),
      "streaming ingest must equal batch-mode incremental dedup")
  }

  test("substring-dedup ingest: stream over batches equals batch cleanCorpus restricted to the new ids") {
    val docs = Tables.load(spark, sf001, "documents")
    val corpus = docs.filter(col("doc_id") < 300)
    // fixture channels all occur naturally at sf0.001/minTokens=10:
    // new-vs-corpus (doc 360's canonical is corpus doc 8), cross-BATCH
    // (411's canonical 349 lives in batch 0), within-batch (498 vs 474)
    val batch0 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val batch1 = docs.filter(col("doc_id") >= 400)
    val keysDir = Files.createTempDirectory("graft-ssdedup-keys").toString
    graft.text.SubstringDedup.windowKeys(corpus, 10)
      .write.mode("overwrite").parquet(keysDir)
    val srcDir = Files.createTempDirectory("graft-ssdedup-src")
    val outDir = Files.createTempDirectory("graft-ssdedup-out").toString
    val ckpt = Files.createTempDirectory("graft-ssdedup-ckpt").toString
    val query = StreamOps.ingestSubstringDedupStream(
      StreamOps.documentsStream(spark, srcDir.toString), keysDir, outDir, ckpt)
    try {
      writeChunk(batch0, srcDir, "chunk0")
      query.processAllAvailable()
    } finally query.stop()
    // TRUE REPLAY of batch 0 (the crash-recovery model: the replayed
    // batch's OWN delta is already on disk, no later batch exists yet):
    // a fresh checkpoint reprocesses chunk0 as batch 0 — the
    // exclude-own-delta guard must keep it from self-colliding (seeing
    // its own windows as "corpus" would cut ALL its text)
    val ckpt2 = Files.createTempDirectory("graft-ssdedup-ckpt2").toString
    val q2 = StreamOps.ingestSubstringDedupStream(
      StreamOps.documentsStream(spark, srcDir.toString), keysDir, outDir, ckpt2)
    try {
      q2.processAllAvailable()
      writeChunk(batch1, srcDir, "chunk1")
      q2.processAllAvailable()
    } finally q2.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id", "n_tokens", "dup_tokens", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    // batch-mode contract: cleanCorpus (hashed twin) over the ORIGINAL
    // union, restricted to the new ids — the stream must reproduce it
    // without ever re-windowing the corpus
    val batchMode = graft.text.SubstringDedup
      .cleanCorpus(docs, 10, hashKeys = true)
      .filter(col("doc_id") >= 300)
      .select("doc_id", "n_tokens", "dup_tokens", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(accepted.nonEmpty && accepted.exists(_._3 > 0),
      "fixture should cut at least one span")
    assert(accepted === batchMode,
      "streaming substring dedup must equal batch cleanCorpus on the union")
    // both batches left a key delta (every doc here has >= 10 tokens)
    val deltas = new java.io.File(s"$outDir/key_delta").listFiles().map(_.getName).toSet
    assert(deltas == Set("b0", "b1"), s"key deltas wrong: $deltas")
  }

  test("run-level substring ingest: stream over batches equals batch cleanCorpusRunLevel restricted to the new ids") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val run1 = thai(41, 50)
    val run2 = thai(42, 40)
    // corpus: wordy docs + a homogeneous holder of run1 (id 295 keeps
    // append-only: every batch id exceeds every corpus id)
    val corpus = docs.filter(col("doc_id") < 290)
      .unionByName(mk(295L, run1 + thai(43, 25)))
    // batch 0: wordy slice (natural word dups vs the corpus: 360's
    // canonical is corpus doc 8), a mixed doc EMBEDDING run1 (char
    // new-vs-corpus: cut against the base char family), and a mixed
    // doc introducing run2 (kept — it becomes the canonical holder)
    val batch0 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 390)
      .unionByName(mk(395L,
        s"alpha beta gamma words surrounding the quote $run1 and the text goes on after it"))
      .unionByName(mk(396L,
        s"fresh carrier document with its own quote $run2 trailing words follow here"))
    // batch 1: wordy slice (cross-batch word dup: 411's canonical 349
    // is in batch 0; within-batch: 498 vs 474), a mixed doc embedding
    // run2 (cross-BATCH char catch via batch 0's char delta), and a
    // homogeneous doc whose PREFIX is run2 (homo-vs-embedded,
    // cross-granularity AND cross-batch)
    val batch1 = docs.filter(col("doc_id") >= 400)
      .unionByName(mk(600L,
        s"other words before the borrowed quote $run2 and different trailing content"))
      .unionByName(mk(601L, run2 + thai(44, 30)))
    val keysRoot = Files.createTempDirectory("graft-rlsd-keys").toString
    graft.text.SubstringDedup.writeWindowKeysRunLevel(corpus, 10, keysRoot)
    val srcDir = Files.createTempDirectory("graft-rlsd-src")
    val outDir = Files.createTempDirectory("graft-rlsd-out").toString
    val ckpt = Files.createTempDirectory("graft-rlsd-ckpt").toString
    val query = StreamOps.ingestSubstringDedupStreamRunLevel(
      StreamOps.documentsStream(spark, srcDir.toString), keysRoot, outDir, ckpt)
    try {
      writeChunk(batch0, srcDir, "chunk0")
      query.processAllAvailable()
    } finally query.stop()
    // TRUE REPLAY of batch 0 (fresh checkpoint, its own deltas already
    // on disk in BOTH families): the exclude-own-delta guard must keep
    // either family from self-colliding
    val ckpt2 = Files.createTempDirectory("graft-rlsd-ckpt2").toString
    val q2 = StreamOps.ingestSubstringDedupStreamRunLevel(
      StreamOps.documentsStream(spark, srcDir.toString), keysRoot, outDir, ckpt2)
    try {
      q2.processAllAvailable()
      writeChunk(batch1, srcDir, "chunk1")
      q2.processAllAvailable()
    } finally q2.stop()
    val cols = Seq("doc_id", "n_tokens", "dup_tokens", "run_dup_chars", "clean_text")
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    val allNew = batch0.unionByName(batch1)
    val batchMode = graft.text.SubstringDedup
      .cleanCorpusRunLevel(corpus.unionByName(allNew), 10, hashKeys = true)
      .filter(col("doc_id") >= 300)
      .select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    // every planted channel must actually fire: word cuts, char cuts
    // in the embedding docs, and the homo doc's prefix cut
    val byId = accepted.map(r => r._1 -> r).toMap
    assert(byId(395L)._4 == 50L, s"395 must lose run1 to the corpus holder: ${byId(395L)}")
    assert(byId(396L)._4 == 0L, s"396 is run2's canonical holder: ${byId(396L)}")
    assert(byId(600L)._4 == 40L, s"600 must lose run2 cross-batch: ${byId(600L)}")
    assert(byId(601L)._3 == 40L && byId(601L)._4 == 40L,
      s"homo 601's run2 prefix must cut cross-granularity: ${byId(601L)}")
    assert(accepted.exists(r => r._1 < 600 && r._3 > 0 && r._4 == 0),
      "a wordy doc should carry a word-tier cut")
    assert(accepted === batchMode,
      "streaming run-level substring dedup must equal batch cleanCorpusRunLevel on the union")
    // both batches left deltas in BOTH families
    for (fam <- Seq("key_delta_char", "key_delta_word")) {
      val deltas = new java.io.File(s"$outDir/$fam").listFiles().map(_.getName).toSet
      assert(deltas == Set("b0", "b1"), s"$fam deltas wrong: $deltas")
    }
  }

  test("watermarked ingest: native dropDuplicatesWithinWatermark composes with near-dup ingest, set unchanged") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").collect()(0).getString(0)
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val corpus = docs.filter(col("doc_id") < 300)
    val idxDir = Files.createTempDirectory("graft-wmingest-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    // the plain ingest test's mix MINUS the intra-batch exact pair:
    // within one micro-batch dropDuplicatesWithinWatermark keeps an
    // arbitrary copy (documented caveat), so this fixture exercises
    // the deterministic cases — corpus clone, cross-batch exact clone
    // of an accepted doc (the state-store drop), fresh docs — and the
    // plain ingest test keeps covering intra-batch min-id
    val fresh = docs.filter(col("doc_id") >= 300 && col("doc_id") < 302)
    val batch0 = fresh
      .unionByName(mk(1000L, textOf(10L)))
      .unionByName(mk(1001L, "zeta eta theta iota kappa lambda unique first"))
    val batch1 = mk(1100L, "zeta eta theta iota kappa lambda unique first")
      .unionByName(mk(1101L, "omicron pi rho sigma tau genuinely new content"))
    val srcDir = Files.createTempDirectory("graft-wmingest-src")
    val outDir = Files.createTempDirectory("graft-wmingest-out").toString
    val ckpt = Files.createTempDirectory("graft-wmingest-ckpt").toString
    // event time monotone in doc_id (append-only ingest): nothing
    // expires under a 1 h delay at 1 s spacing, so every cross-batch
    // fingerprint is still in state when its duplicate arrives
    val stream = StreamOps.documentsStream(spark, srcDir.toString)
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        lit(1700000000L) + col("doc_id")))
    val query = StreamOps.watermarkedIngestDedupStream(
      stream, corpus, idxDir, outDir, ckpt)
    try {
      writeChunk(batch0, srcDir, "chunk0")
      query.processAllAvailable()
      writeChunk(batch1, srcDir, "chunk1")
      query.processAllAvailable()
      // the NATIVE dedup operator is live and holding fingerprint state
      val ops = query.lastProgress.stateOperators
      assert(ops.nonEmpty && ops.exists(_.numRowsTotal > 0),
        s"dropDuplicatesWithinWatermark state missing: ${query.lastProgress}")
    } finally query.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // identical accepted set to the un-watermarked ingest and to the
    // batch-mode contract: the native stage only pre-drops rows the
    // downstream stages would reject anyway
    assert(accepted == Set(300L, 301L, 1001L, 1101L), s"accepted set wrong: $accepted")
    val allNew = batch0.unionByName(batch1)
    val batchMode = graft.text.MinHashDedup
      .dedupWinners(corpus.unionByName(allNew))
      .collect().map(_.getLong(0)).toSet
    val newIds = allNew.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == (batchMode & newIds),
      "watermarked streaming ingest must equal batch-mode incremental dedup")
    // the cross-batch exact clone (1100) was dropped by the STATE
    // lookup before the file machinery ever saw it: the second chunk's
    // accepted dir (batch ids shift under the stateful operator's
    // watermark-advance batches, so locate it by content) holds only
    // 1101 — 1100 reached no batch at all
    val byBatch = new java.io.File(s"$outDir/accepted").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("b"))
      .map(d => d.getName -> spark.read.parquet(d.getPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet).toMap
    val chunk1Accepted = byBatch.values.find(_.contains(1101L)).get
    assert(chunk1Accepted == Set(1101L), s"chunk-1 accepted: $byBatch")
  }

  test("watermarked ingest, intra-batch exact duplicates: accepted TEXT set equals batch mode (documented id caveat pinned)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val corpus = docs.filter(col("doc_id") < 300)
    val idxDir = Files.createTempDirectory("graft-wmdup-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    // THE documented caveat case: three exact copies co-arriving in ONE
    // micro-batch (dropDuplicatesWithinWatermark keeps an arbitrary one
    // — shuffle arrival order — so the surviving doc_id is not
    // guaranteed to be the min id), plus a fresh doc and a second
    // intra-batch pair in a later batch to cover >1 fingerprint group
    val dupText = "zeta eta theta iota kappa lambda unique first"
    val dupText2 = "omicron pi rho sigma tau genuinely new content"
    val batch0 = mk(1001L, dupText)
      .unionByName(mk(1002L, dupText))
      .unionByName(mk(1003L, dupText))
      .unionByName(mk(1004L, "upsilon phi chi psi omega standalone text"))
    val batch1 = mk(1100L, dupText2).unionByName(mk(1101L, dupText2))
    val srcDir = Files.createTempDirectory("graft-wmdup-src")
    val outDir = Files.createTempDirectory("graft-wmdup-out").toString
    val ckpt = Files.createTempDirectory("graft-wmdup-ckpt").toString
    val stream = StreamOps.documentsStream(spark, srcDir.toString)
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        lit(1700000000L) + col("doc_id")))
    val query = StreamOps.watermarkedIngestDedupStream(
      stream, corpus, idxDir, outDir, ckpt)
    try {
      writeChunk(batch0, srcDir, "chunk0")
      query.processAllAvailable()
      writeChunk(batch1, srcDir, "chunk1")
      query.processAllAvailable()
    } finally query.stop()
    val acceptedRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id", "text").collect()
    val allNew = batch0.unionByName(batch1)
    val batchWinnerIds = graft.text.MinHashDedup
      .dedupWinners(corpus.unionByName(allNew))
      .collect().map(_.getLong(0)).toSet
    val newIds = allNew.select("doc_id").collect().map(_.getLong(0)).toSet
    val batchAcceptedTexts = allNew
      .filter(col("doc_id").isInCollection(batchWinnerIds & newIds))
      .select("text").collect().map(_.getString(0)).toSet
    // TEXT-level equivalence — the composition's actual contract when
    // exact duplicates co-arrive: same accepted texts, one copy each
    assert(acceptedRows.map(_.getString(1)).toSet == batchAcceptedTexts,
      s"accepted texts diverge from batch mode: ${acceptedRows.mkString(", ")}")
    assert(acceptedRows.length == batchAcceptedTexts.size,
      s"duplicate texts in accepted output: ${acceptedRows.mkString(", ")}")
    // the surviving id per text is SOME member of its arrival group
    // (arbitrary-copy semantics — min-id is NOT guaranteed here; callers
    // needing it use ingestDedupStream)
    val groupOf = Map(dupText -> Set(1001L, 1002L, 1003L),
      "upsilon phi chi psi omega standalone text" -> Set(1004L),
      dupText2 -> Set(1100L, 1101L))
    acceptedRows.foreach { r =>
      assert(groupOf(r.getString(1)).contains(r.getLong(0)),
        s"accepted id ${r.getLong(0)} not in its text's arrival group")
    }
  }

  test("streaming pipeline ingest: rule gate + exact dedup + near-dup ingest ≡ the batch stage-1→3 composition") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").collect()(0).getString(0)
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    def gateIds(d: DataFrame): DataFrame =
      graft.text.TextAnalysis.filterVerdicts(d, 10L, 100000L, 0.9, 0.3)
        .filter(col("keep")).select("doc_id")
    // steady-state assumption: the corpus already passed the same gates
    // (it WAS built by this pipeline) — gate it before indexing
    val corpus = docs.filter(col("doc_id") < 300)
      .join(gateIds(docs.filter(col("doc_id") < 300)), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val idxDir = Files.createTempDirectory("graft-pipe-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    val longA = "zeta eta theta iota kappa lambda unique first extra words beyond floor"
    val longB = "omicron pi rho sigma tau upsilon genuinely new content well past minimum"
    // batch 0: fresh docs, a rule-gate reject (too short), a corpus
    // clone (near-dup reject), an intra-batch EXACT duplicate pair;
    // batch 1: a cross-batch exact clone of batch-0's accepted 1001
    // (must lose via the index delta + prior-accepted fingerprints),
    // one fresh doc
    val fresh = docs.filter(col("doc_id") >= 300 && col("doc_id") < 302)
      .join(gateIds(docs.filter(col("doc_id") >= 300 && col("doc_id") < 302)),
        Seq("doc_id"), "left_semi")
    val batch0 = fresh
      .unionByName(mk(1000L, "too short"))
      .unionByName(mk(1001L, longA))
      .unionByName(mk(1002L, longA))
      .unionByName(mk(1003L, textOf(10L)))
    val batch1 = mk(1100L, longA)
      .unionByName(mk(1101L, longB))
    val srcDir = Files.createTempDirectory("graft-pipe-src")
    val outDir = Files.createTempDirectory("graft-pipe-out").toString
    val ckpt = Files.createTempDirectory("graft-pipe-ckpt").toString
    val query = StreamOps.ingestPipelineStream(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir, outDir, ckpt)
    try {
      writeChunk(batch0, srcDir, "chunk0")
      query.processAllAvailable()
      writeChunk(batch1, srcDir, "chunk1")
      query.processAllAvailable()
    } finally query.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // gate reject 1000 gone, corpus clone 1003 gone, exact-dup 1002
    // loses to 1001, cross-batch clone 1100 loses to the delta
    val freshIds = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == freshIds ++ Set(1001L, 1101L),
      s"accepted set wrong: $accepted")
    // equivalence with the batch composition: rule gate over
    // (corpus ∪ all new), then dedupWinners, restricted to the new ids
    val allNew = batch0.unionByName(batch1)
    val all = corpus.unionByName(allNew)
    val gatedAll = all.join(gateIds(all), Seq("doc_id"), "left_semi")
    val batchMode = graft.text.MinHashDedup.dedupWinners(gatedAll)
      .collect().map(_.getLong(0)).toSet
    val newIds = allNew.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == (batchMode & newIds),
      "streaming pipeline must equal the batch stage-1→3 composition")
  }

  test("crash recovery: ingest stopped mid-stream restarts from the checkpoint and equals the uninterrupted run") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").collect()(0).getString(0)
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val corpus = docs.filter(col("doc_id") < 300)
    val idxDir = Files.createTempDirectory("graft-crash-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    // batch 0 runs BEFORE the crash; batches 1 and 2 arrive during the
    // outage. 1101 clones a PRE-crash acceptance (1001) — restart must
    // reject it off the pre-crash index delta; 1100 clones corpus doc
    // 10; 1200 clones post-restart acceptance 1102 (cross-batch after
    // the restart)
    val batch0 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 302)
      .unionByName(mk(1001L, "zeta eta theta iota kappa lambda unique first"))
    val batch1 = mk(1100L, textOf(10L))
      .unionByName(mk(1101L, "zeta eta theta iota kappa lambda unique first"))
      .unionByName(mk(1102L, "omicron pi rho sigma tau genuinely new content"))
    val batch2 = mk(1200L, "omicron pi rho sigma tau genuinely new content")
      .unionByName(mk(1201L, "upsilon phi chi psi omega entirely different words"))

    def acceptedOf(outDir: String): Set[Long] =
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$outDir/accepted")
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // interrupted run: q1 sees only batch 0, stops (the "crash"); the
    // remaining files land while no query runs; q2 resumes from the SAME
    // checkpoint and must process exactly the backlog (never batch 0
    // again — its batch-keyed dirs would be rewritten identically, but
    // re-seeing its rows as NEW input would self-reject the clones)
    val srcDir = Files.createTempDirectory("graft-crash-src")
    val outDir = Files.createTempDirectory("graft-crash-out").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    def startIngest() = StreamOps.ingestDedupStream(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir, outDir, ckpt)
    writeChunk(batch0, srcDir, "chunk0")
    val q1 = startIngest()
    try q1.processAllAvailable() finally q1.stop()
    val preCrash = acceptedOf(outDir)
    assert(preCrash == Set(300L, 301L, 1001L), s"pre-crash acceptances wrong: $preCrash")
    writeChunk(batch1, srcDir, "chunk1")
    writeChunk(batch2, srcDir, "chunk2")
    val q2 = startIngest()
    try q2.processAllAvailable() finally q2.stop()
    val interrupted = acceptedOf(outDir)

    // uninterrupted reference: same inputs, one query, fresh state
    val srcDir2 = Files.createTempDirectory("graft-crash-src2")
    val outDir2 = Files.createTempDirectory("graft-crash-out2").toString
    val ckpt2 = Files.createTempDirectory("graft-crash-ckpt2").toString
    val q3 = StreamOps.ingestDedupStream(
      StreamOps.documentsStream(spark, srcDir2.toString), corpus, idxDir, outDir2, ckpt2)
    try {
      Seq(batch0, batch1, batch2).zipWithIndex.foreach { case (b, i) =>
        writeChunk(b, srcDir2, s"chunk$i")
        q3.processAllAvailable()
      }
    } finally q3.stop()
    val uninterrupted = acceptedOf(outDir2)

    assert(interrupted == uninterrupted,
      s"restart diverged from the uninterrupted run: interrupted=$interrupted uninterrupted=$uninterrupted")
    assert(interrupted == Set(300L, 301L, 1001L, 1102L, 1201L),
      s"accepted set wrong: $interrupted")
    // and both equal the batch-mode contract over (corpus ∪ all new)
    val allNew = batch0.unionByName(batch1).unionByName(batch2)
    val newIds = allNew.select("doc_id").collect().map(_.getLong(0)).toSet
    val batchMode = graft.text.MinHashDedup
      .dedupWinners(corpus.unionByName(allNew))
      .collect().map(_.getLong(0)).toSet
    assert(interrupted == (batchMode & newIds),
      "crash-recovered ingest must equal batch-mode incremental dedup")
  }

  test("streaming LEARNED quality gate: stream scores equal batch scores for the same model") {
    val docs = Tables.load(spark, sf1, "documents")
    val model = graft.text.QualityClassifier.train(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") =!= "src0"),
      dim = 64, iters = 5)
    val srcDir = Files.createTempDirectory("graft-stream-lr")
    val outDir = Files.createTempDirectory("graft-stream-lr-out").toString + "/scores"
    val ckpt = Files.createTempDirectory("graft-stream-lr-ckpt").toString
    val query = StreamOps.scoreQualityStream(
      StreamOps.documentsStream(spark, srcDir.toString), model, outDir, ckpt)
    try {
      Seq(col("doc_id") < 1500,
        col("doc_id") >= 1500 && col("doc_id") < 3500,
        col("doc_id") >= 3500).zipWithIndex.foreach { case (f, i) =>
        writeChunk(docs.filter(f), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
      val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val want = graft.text.QualityClassifier.score(docs, model)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(want.nonEmpty && got == want,
        s"stream≠batch scores: missing=${(want -- got).size}, extra=${(got -- want).size}")
    } finally query.stop()
  }

  test("streaming perplexity gate: replayed corpus reproduces the batch X81 buckets exactly") {
    val docs = Tables.load(spark, sf1, "documents")
    // train on the corpus, round-trip through the persisted artifact —
    // the serve path reads what [[save]] wrote, like production would
    val modelDir = Files.createTempDirectory("graft-ppl-model").toString
    graft.text.PerplexityGate.save(graft.text.PerplexityGate.train(docs, 3), modelDir)
    val model = graft.text.PerplexityGate.load(spark, modelDir)
    val srcDir = Files.createTempDirectory("graft-ppl-src")
    val outDir = Files.createTempDirectory("graft-ppl-out").toString + "/buckets"
    val ckpt = Files.createTempDirectory("graft-ppl-ckpt").toString
    val query = StreamOps.perplexityGateStream(
      StreamOps.documentsStream(spark, srcDir.toString), model, outDir, ckpt)
    try {
      Seq(col("doc_id") < 1500,
        col("doc_id") >= 1500 && col("doc_id") < 3500,
        col("doc_id") >= 3500).zipWithIndex.foreach { case (f, i) =>
        writeChunk(docs.filter(f), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
      val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
        .select("doc_id", "mean_logp", "bucket")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val want = graft.text.TextAnalysis.perplexityBuckets(docs, 3)
        .select("doc_id", "mean_logp", "bucket")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(want.nonEmpty && got == want,
        s"stream≠batch buckets: missing=${(want -- got).size}, extra=${(got -- want).size}")
      // non-vacuous: all three buckets actually occur
      assert(got.map(_._3) == Set(0L, 1L, 2L), "expected head/middle/tail all present")
    } finally query.stop()
  }

  test("pipeline ingest with frozen perplexity gate drops tail-bucket docs before dedup") {
    val docs = Tables.load(spark, sf001, "documents")
    def gateIds(d: DataFrame): DataFrame =
      graft.text.TextAnalysis.filterVerdicts(d, 10L, 100000L, 0.9, 0.3)
        .filter(col("keep")).select("doc_id")
    val corpus = docs.filter(col("doc_id") < 300)
      .join(gateIds(docs.filter(col("doc_id") < 300)), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val model = graft.text.PerplexityGate.train(corpus, 3)
    val idxDir = Files.createTempDirectory("graft-pplpipe-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    // new docs: fresh, rule-gated, never near-dups of the corpus
    val fresh = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      .join(gateIds(docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)),
        Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-pplpipe-src")
    val outDir = Files.createTempDirectory("graft-pplpipe-out").toString
    val ckpt = Files.createTempDirectory("graft-pplpipe-ckpt").toString
    val query = StreamOps.ingestPipelineStream(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir, outDir, ckpt,
      perplexityGate = Some((model, 1L)))
    try {
      writeChunk(fresh, srcDir, "chunk0")
      query.processAllAvailable()
    } finally query.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch composition: fresh docs whose frozen-gate bucket ≤ 1, then
    // dedup-winners over (corpus ∪ kept) restricted to the new ids
    val keptIds = graft.text.PerplexityGate.assign(fresh, model)
      .filter(col("bucket") <= 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val freshIds = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty && keptIds != freshIds,
      s"fixture must split on the gate: kept ${keptIds.size} of ${freshIds.size}")
    val keptDf = fresh.filter(col("doc_id").isInCollection(keptIds))
    val batchMode = graft.text.MinHashDedup.dedupWinners(corpus.unionByName(keptDf))
      .collect().map(_.getLong(0)).toSet
    assert(accepted == (batchMode & freshIds),
      s"streaming pipeline with perplexity gate must equal the batch composition: $accepted")
  }

  test("pipeline ingest with frozen benchmark gate rejects contaminated arrivals before dedup") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    def gateIds(d: DataFrame): DataFrame =
      graft.text.TextAnalysis.filterVerdicts(d, 10L, 100000L, 0.9, 0.3)
        .filter(col("keep")).select("doc_id")
    val corpus = docs.filter(col("doc_id") < 300)
      .join(gateIds(docs.filter(col("doc_id") < 300)), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val bench = docs.filter(col("doc_id") >= 450).select("doc_id", "text")
      .localCheckpoint(true)
    val gcfg = graft.text.MinHashConfig(threshold = 0.5)
    val bbDir = Files.createTempDirectory("graft-bgate-bidx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(bench, gcfg), bbDir, gcfg)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bbDir, gcfg)
    val idxDir = Files.createTempDirectory("graft-bgate-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    // arrivals: clean rule-gated docs + a planted near-copy of a
    // benchmark doc (id 900 — a leaked eval question quoting doc 450)
    val benchText = bench.filter(col("doc_id") === 450).select("text")
      .head().getString(0)
    val planted = Seq((900L, benchText + " tail")).toDF("doc_id", "text")
    val clean = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      .join(gateIds(docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    val fresh = clean.unionByName(planted).localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-bgate-src")
    val outDir = Files.createTempDirectory("graft-bgate-out").toString
    val ckpt = Files.createTempDirectory("graft-bgate-ckpt").toString
    val query = StreamOps.ingestPipelineStream(
      spark.readStream.schema(fresh.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
      corpus, idxDir, outDir, ckpt,
      benchmarkGate = Some(StreamOps.BenchmarkGate(bench, benchBanded, dedup = gcfg)))
    try {
      writeChunk(fresh, srcDir, "chunk0")
      query.processAllAvailable()
    } finally query.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the leaked near-copy must be stopped at the gate; clean docs flow
    assert(!accepted.contains(900L), "planted benchmark near-copy must be rejected")
    assert(accepted.nonEmpty, "clean arrivals must pass the gate")
    // exact batch composition: contaminated = either text channel fires;
    // survivors then dedup against corpus ∪ themselves
    val freshIds = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    val ngIds = graft.text.TextAnalysis.contaminationScores(fresh, bench, 5)
      .filter(col("overlap_frac") >= 0.2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val ndIds = graft.text.MinHashDedup
      .crossNearDupsAgainstBanded(fresh, bench, benchBanded, gcfg)
      .select("i").collect().map(_.getLong(0)).toSet
    assert((ngIds ++ ndIds).contains(900L), "fixture premise: the plant must be contaminated")
    val keptDf = fresh.filter(!col("doc_id").isInCollection(ngIds ++ ndIds))
    val batchMode = graft.text.MinHashDedup
      .dedupWinners(corpus.select("doc_id", "text").unionByName(keptDf))
      .collect().map(_.getLong(0)).toSet
    assert(accepted == (batchMode & freshIds),
      s"streaming pipeline with benchmark gate must equal the batch composition: $accepted")
  }

  test("streaming budget admission replayed in coin order equals the batch X80 cut") {
    val docs = Tables.load(spark, sf1, "documents")
    val totalTokens = docs
      .agg(sum(size(graft.text.TextAnalysis.tokens(col("text"))).cast("long")))
      .head().getLong(0)
    val budget = totalTokens / 2
    val want = graft.pipeline.TrainingSet.budgetCut(docs, budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // replay in global coin order: three contiguous chunks of the
    // deterministic shuffle order — chunk 0 fully inside the budget,
    // chunk 1 straddling the boundary, chunk 2 fully past it
    val byPos = graft.ops.Scale.shuffleOrder(docs.select("doc_id"), "doc_id")
      .orderBy("shuffle_pos").collect().map(_.getLong(0))
    val chunkIds = byPos.grouped((byPos.length + 2) / 3).toSeq.map(_.toSet)
    val srcDir = Files.createTempDirectory("graft-budget-src")
    val outDir = Files.createTempDirectory("graft-budget-out").toString + "/admitted"
    val ckpt = Files.createTempDirectory("graft-budget-ckpt").toString
    val query = StreamOps.budgetAdmissionStream(
      StreamOps.documentsStream(spark, srcDir.toString), budget, outDir, ckpt)
    try {
      chunkIds.zipWithIndex.foreach { case (ids, i) =>
        writeChunk(docs.filter(col("doc_id").isInCollection(ids)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
    } finally query.stop()
    val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty && got == want,
      s"stream≠batch admitted set: missing=${(want -- got).size}, extra=${(got -- want).size}")
    // the boundary really lands mid-replay: chunk 0 all in, chunk 1
    // partially admitted, chunk 2 fully rejected
    assert(chunkIds(0).subsetOf(got), "first chunk must be fully admitted")
    val mid = got & chunkIds(1)
    assert(mid.nonEmpty && mid != chunkIds(1),
      s"boundary chunk must be partially admitted (got ${mid.size} of ${chunkIds(1).size})")
    assert((got & chunkIds(2)).isEmpty, "post-budget chunk must admit nothing")
  }

  test("budget admission crash recovery: restart from checkpoint equals the uninterrupted run") {
    val docs = Tables.load(spark, sf001, "documents")
    val totalTokens = docs
      .agg(sum(size(graft.text.TextAnalysis.tokens(col("text"))).cast("long")))
      .head().getLong(0)
    val budget = totalTokens / 2
    val byPos = graft.ops.Scale.shuffleOrder(docs.select("doc_id"), "doc_id")
      .orderBy("shuffle_pos").collect().map(_.getLong(0))
    val chunkIds = byPos.grouped((byPos.length + 2) / 3).toSeq.map(_.toSet)
    def admittedOf(out: String): Set[Long] =
      spark.read.option("recursiveFileLookup", "true").parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // interrupted: chunk 0, stop (crash), restart on the SAME
    // checkpoint + sink for chunks 1–2 — the prior-tokens state must
    // come back from the committed batch outputs
    val srcDir = Files.createTempDirectory("graft-budget-crash-src")
    val outDir = Files.createTempDirectory("graft-budget-crash-out").toString + "/admitted"
    val ckpt = Files.createTempDirectory("graft-budget-crash-ckpt").toString
    def start() = StreamOps.budgetAdmissionStream(
      StreamOps.documentsStream(spark, srcDir.toString), budget, outDir, ckpt)
    writeChunk(docs.filter(col("doc_id").isInCollection(chunkIds(0))), srcDir, "chunk0")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    writeChunk(docs.filter(col("doc_id").isInCollection(chunkIds(1))), srcDir, "chunk1")
    writeChunk(docs.filter(col("doc_id").isInCollection(chunkIds(2))), srcDir, "chunk2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val interrupted = admittedOf(outDir)
    // both the uninterrupted-run contract AND the batch X80 contract
    val want = graft.pipeline.TrainingSet.budgetCut(docs, budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty && interrupted == want,
      s"crash-recovered admission ≠ batch cut: missing=${(want -- interrupted).size}, " +
        s"extra=${(interrupted -- want).size}")
  }

  test("streaming quality gate: replayed corpus produces exactly the batch attributes table") {
    val docs = Tables.load(spark, sf1, "documents")
    val srcDir = Files.createTempDirectory("graft-stream-score")
    val outDir = Files.createTempDirectory("graft-stream-score-out").toString + "/attrs"
    val ckpt = Files.createTempDirectory("graft-stream-score-ckpt").toString
    val query = StreamOps.scoreDocumentsStream(
      StreamOps.documentsStream(spark, srcDir.toString), outDir, ckpt)
    try {
      // replay in three chunks by doc_id range
      Seq(col("doc_id") < 1500,
        col("doc_id") >= 1500 && col("doc_id") < 3500,
        col("doc_id") >= 3500).zipWithIndex.foreach { case (f, i) =>
        writeChunk(docs.filter(f), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
      // per-batch subdirectories (idempotent replay) → recursive read
      val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
        .toSet
      val want = graft.text.TextAnalysis.filterVerdicts(docs).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
        .toSet
      assert(want.nonEmpty && got == want,
        s"stream≠batch attributes: missing=${(want -- got).size}, extra=${(got -- want).size}")
    } finally query.stop()
  }

  test("stream-static broadcast enrichment ≡ batch join, stateless, broadcast in plan") {
    val dim = Tables.load(spark, sf1, "customer").select("c_custkey", "c_mktsegment")
    val srcDir = Files.createTempDirectory("graft-stream-enrich")
    val stream = StreamOps
      .enrichEvents(StreamOps.eventsStream(spark, srcDir.toString), dim, "user_id", "c_custkey")
      .select("event_id", "user_id", "c_mktsegment")
    val query = stream.writeStream
      .format("memory").queryName("enrich_stream").outputMode("append").start()
    try {
      chunks(3).zipWithIndex.foreach { case (c, i) =>
        writeChunk(c, srcDir, s"chunk$i")
        query.processAllAvailable()
      }
      val got = spark.table("enrich_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = StreamOps.enrichEvents(events, dim, "user_id", "c_custkey")
        .select("event_id", "user_id", "c_mktsegment")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(want.nonEmpty && got == want,
        s"stream≠batch: missing=${(want -- got).size}, extra=${(got -- want).size}")
      // stateless: a stream-static inner join carries no state operator
      assert(query.lastProgress == null || query.lastProgress.stateOperators.isEmpty,
        "stream-static enrichment must not allocate a state store")
    } finally query.stop()
    // the batch twin broadcasts the dim — the stream side stays shuffle-free
    val plan = StreamOps.enrichEvents(events, dim, "user_id", "c_custkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"enrichment must broadcast the dimension:\n$plan")
    // a dim key sharing the stream column's name (the common case) must
    // not be an ambiguous reference
    val sameName = StreamOps.enrichEvents(
      events, dim.withColumnRenamed("c_custkey", "user_id"), "user_id", "user_id")
    assert(sameName.count() == events.join(dim,
      events("user_id") === dim("c_custkey")).count())
  }

  test("streaming vocab novelty: replayed corpus reproduces the batch X86 curve at matching cuts") {
    val docs = growingVocabDocs(100)
    val n = docs.count().toInt
    val b = 5
    assert(n % b == 0, s"fixture premise: $b must divide the $n-doc corpus")
    // batch X86 at nBuckets=b cuts exactly every n/b docs in doc_id
    // order — replaying the same contiguous slices as micro-batches
    // must reproduce the curve
    val want = graft.text.TextAnalysis.noveltyCurve(docs, nBuckets = b)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
    val ids = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val slices = ids.grouped(n / b).toSeq
    val srcDir = Files.createTempDirectory("graft-novelty-src")
    val outDir = Files.createTempDirectory("graft-novelty-out").toString + "/vocab"
    val ckpt = Files.createTempDirectory("graft-novelty-ckpt").toString
    val query = StreamOps.vocabNoveltyStream(
      StreamOps.documentsStream(spark, srcDir.toString), outDir, ckpt)
    try {
      slices.zipWithIndex.foreach { case (s, i) =>
        writeChunk(docs.filter(col("doc_id").isInCollection(s.toSet)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
    } finally query.stop()
    val got = StreamOps.noveltySummary(spark, outDir)
      .zipWithIndex.map { case ((_, nt, cum), i) => (i.toLong, nt, cum) }
    assert(got == want, s"stream curve $got != batch curve $want")
    // non-vacuous: every later batch adds words the seen-set must keep
    assert(got.drop(1).forall(_._2 > 0), s"later batches must add words: $got")
    // the persisted union IS the corpus vocabulary (novel-words sink
    // doubles as the seen-set state — pin it directly)
    val vocabGot = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .select("w").distinct().count()
    val vocabAll = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .count()
    val vocabWant = docs
      .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("w"))
      .distinct().count()
    assert(vocabGot == vocabWant && vocabAll == vocabWant,
      s"sink union must be the exact vocab once each: $vocabGot/$vocabAll vs $vocabWant")
  }

  test("streaming decontamination gate: replayed corpus reproduces the batch X90 report exactly") {
    val docs = Tables.load(spark, sf001, "documents")
    val emb = Tables.load(spark, sf001, "embeddings")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val cfg = graft.text.MinHashConfig(threshold = 0.5)
    // frozen benchmark-side artifacts (what an ingest gate ships with)
    val bdir = Files.createTempDirectory("graft-gate-bbanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(bench, cfg), bdir, cfg)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bdir, cfg)
    val benchEmb = emb.join(
      bench.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    // batch-side truth: the X90 report with a full both-sides index —
    // signatures are pure functions of text, so the gate's
    // sign-the-batch-in-place probe must reproduce it exactly
    val adir = Files.createTempDirectory("graft-gate-abanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(docs, cfg), adir, cfg)
    val want = graft.pipeline.TrainingSet.decontaminationReport(
        corpus, bench, graft.text.MinHashDedup.readBandedIndex(spark, adir, cfg),
        emb, DeconConfig(dedup = cfg))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getString(4))).toSeq
    // replay the corpus (embedding column attached) in three slices
    val enriched = corpus.join(
      emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"), "left")
    val ids = corpus.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val slices = ids.grouped((ids.length + 2) / 3).toSeq
    val srcDir = Files.createTempDirectory("graft-gate-src")
    val outDir = Files.createTempDirectory("graft-gate-out").toString + "/verdicts"
    val ckpt = Files.createTempDirectory("graft-gate-ckpt").toString
    val schema = Tables.schemas("documents").add("embedding",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val query = StreamOps.decontaminationGateStream(
      stream, bench, benchBanded, benchEmb, outDir, ckpt, DeconConfig(dedup = cfg))
    try {
      slices.zipWithIndex.foreach { case (s, i) =>
        writeChunk(enriched.filter(col("doc_id").isInCollection(s.toSet)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
    } finally query.stop()
    val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getString(4))).toSeq
    assert(got == want,
      s"stream gate ≠ batch X90: first diff ${got.zip(want).find(p => p._1 != p._2)}")
    // the gate has no span channel: a span config is refused, not ignored
    val noSpan = intercept[IllegalArgumentException](StreamOps.decontaminationGateStream(
      stream, bench, benchBanded, benchEmb, outDir, ckpt,
      DeconConfig(dedup = cfg, maxSpanTokens = Some(30))))
    assert(noSpan.getMessage.contains("maxSpanTokens"), noSpan.getMessage)
    // non-vacuous: the replay must exercise both verdicts
    assert(got.exists(_._5 == "drop") && got.exists(_._5 == "keep"),
      s"fixture must produce both verdicts: ${got.map(_._5).distinct}")
  }

  test("streaming curation driver: replayed ingest manifest equals the batch curationManifest verdict columns") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    val emb = Tables.load(spark, sf001, "embeddings")
    val bench = docs.filter(col("source") === "src0")
    val nonBench = docs.filter(col("source") =!= "src0")
    val gcfg = graft.text.MinHashConfig(threshold = 0.5)
    val spanT = 30
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    // frozen benchmark banded index (the gate's shipped artifact)
    val bdir = Files.createTempDirectory("graft-cur-bbanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(bench, gcfg), bdir, gcfg)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bdir, gcfg)
    // seed corpus = docs < 200 that already PASS the decon gate (the
    // steady state the streaming equivalence assumes — the corpus WAS
    // built by this pipeline)
    val seed0 = nonBench.filter(col("doc_id") < 200)
    val emptyEmb = emb.limit(0)
    val seedKeepIds = graft.pipeline.TrainingSet.decontaminationReport(
        seed0, bench, benchBanded, emptyEmb,
        DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(seed0, bench, benchBanded, gcfg)))
      .filter(col("verdict") === "keep").select("doc_id")
    val corpus = seed0.join(seedKeepIds, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val idxDir = Files.createTempDirectory("graft-cur-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    // arrivals: the natural id >= 200 docs plus three constructed tails
    // forcing every verdict to occur — a near-clone of a kept seed doc
    // (dedup drop), a verbatim benchmark copy (decon drop), and a fresh
    // unique doc (keep)
    val seedText = corpus.orderBy("doc_id").select("text").first().getString(0)
    val benchText = bench.orderBy("doc_id").select("text").first().getString(0)
    val natural = nonBench.filter(col("doc_id") >= 200)
    val tail = mk(9000L, seedText)
      .unionByName(mk(9001L, benchText))
      .unionByName(mk(9002L, "totally fresh standalone ingest document nothing like others"))
    val newAll = natural.unionByName(tail).localCheckpoint(true)
    // replay in id order: three natural slices + the constructed tail
    val ids = natural.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val slices = ids.grouped((ids.length + 2) / 3).toSeq
    val srcDir = Files.createTempDirectory("graft-cur-src")
    val outDir = Files.createTempDirectory("graft-cur-out").toString
    val ckpt = Files.createTempDirectory("graft-cur-ckpt").toString
    val query = StreamOps.curationIngestStream(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir,
      bench, benchBanded, outDir, ckpt,
      reference = Some(corpus),
      decon = DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)))
    try {
      slices.zipWithIndex.foreach { case (s, i) =>
        writeChunk(natural.filter(col("doc_id").isInCollection(s.toSet)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
      writeChunk(tail, srcDir, "chunk3")
      query.processAllAvailable()
    } finally query.stop()
    // batch twin: curationManifest over (seed survivors ∪ all new) with
    // the pairwise min-id winner rule the incremental ingest realizes,
    // decon near-dup channel from the same frozen benchmark index
    val corpusAll = corpus.unionByName(newAll).localCheckpoint(true)
    val adir = Files.createTempDirectory("graft-cur-abanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpusAll), adir)
    val want = graft.pipeline.TrainingSet.curationManifest(
        corpusAll, bench, graft.text.MinHashDedup.readBandedIndex(
          spark, adir, graft.text.MinHashConfig()),
        emptyEmb,
        CurationPlan(DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)),
          minIdDedupWinners = true),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(corpusAll, bench, benchBanded, gcfg)))
      .filter(col("doc_id") >= 200)
      .select("doc_id", "ngram_frac", "near_dup", "semantic_cos",
        "span_tokens", "decon_verdict", "dedup_verdict")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4),
        r.getString(5), Option(r.getString(6)))).toSeq
    val manifest = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/manifest").orderBy("doc_id").localCheckpoint(true)
    val got = manifest
      .select("doc_id", "ngram_frac", "near_dup", "semantic_cos",
        "span_tokens", "decon_verdict", "dedup_verdict")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4),
        r.getString(5), Option(r.getString(6)))).toSeq
    assert(got == want,
      s"streaming manifest ≠ batch curationManifest: first diff " +
        s"${got.zip(want).find(p => p._1 != p._2)} (sizes ${got.size}/${want.size})")
    // keep == dedup survival (nulls false) — the manifest's own contract
    val keeps = manifest.select("doc_id", "dedup_verdict", "keep").collect()
    keeps.foreach { r =>
      assert(r.getBoolean(2) == (r.getString(1) == "keep"),
        s"keep must equal dedup_verdict=='keep': $r")
    }
    // non-vacuous: all three verdict shapes occurred among arrivals
    val verdicts = got.map(t => (t._6, t._7)).toSet
    assert(verdicts.exists(_._1 == "drop"), "no decon drop in fixture")
    assert(verdicts.contains(("keep", Some("drop"))), "no dedup drop in fixture")
    assert(verdicts.contains(("keep", Some("keep"))), "no kept doc in fixture")
    // drift side channel: one report per micro-batch, batch 0 equal to
    // the batch-mode drift of its slice (the shared kernel)
    val refToks = graft.text.TextAnalysis.referenceTokens(corpus)
    val wantDrift = graft.text.TextAnalysis.unigramDriftAgainst(
        natural.filter(col("doc_id").isInCollection(slices.head.toSet)), refToks)
      .select("side_a", "side_b", "kl", "tv")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    val gotDrift = spark.read.parquet(s"$outDir/drift/b0")
      .select("side_a", "side_b", "kl", "tv")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(gotDrift == wantDrift, s"batch-0 drift ≠ batch mode: $gotDrift vs $wantDrift")
    assert(new java.io.File(s"$outDir/drift").listFiles().count(_.isDirectory) == 4,
      "one drift report per micro-batch expected")
  }

  test("streaming curation driver V2: span-cut ingest manifest equals the batch curationManifestV2 columns") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    val emb = Tables.load(spark, sf001, "embeddings")
    val bench = docs.filter(col("source") === "src0")
    val nonBench = docs.filter(col("source") =!= "src0")
    val gcfg = graft.text.MinHashConfig(threshold = 0.5)
    val spanT = 30
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val bdir = Files.createTempDirectory("graft-cur2-bbanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(bench, gcfg), bdir, gcfg)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bdir, gcfg)
    val emptyEmb = emb.limit(0)
    // seed = docs < 200 that (a) pass the frozen decon gate and (b) the
    // span cut leaves untouched — the steady state the v2 equivalence
    // assumes (a corpus built by THIS pipeline has no non-canonical
    // duplicated windows). One filtering pass suffices: a kept doc had
    // zero duplicated windows in the FULL seed context, and dropping
    // other docs only removes window occurrences.
    val seed0 = nonBench.filter(col("doc_id") < 200)
    val seedKeepIds = graft.pipeline.TrainingSet.decontaminationReport(
        seed0, bench, benchBanded, emptyEmb,
        DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(seed0, bench, benchBanded, gcfg)))
      .filter(col("verdict") === "keep").select("doc_id")
    val seed1 = seed0.join(seedKeepIds, Seq("doc_id"), "left_semi")
    val corpus = seed1.join(
      graft.text.SubstringDedup.cleanCorpus(seed1, 10)
        .filter(col("dup_tokens") === 0).select("doc_id"),
      Seq("doc_id"), "left_semi").localCheckpoint(true)
    assert(corpus.count() > 50, "fixture needs a non-trivial clean seed")
    // streaming artifacts: banded index + window keys over the (clean)
    // seed corpus
    val idxDir = Files.createTempDirectory("graft-cur2-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    val keysDir = Files.createTempDirectory("graft-cur2-keys").toString
    graft.text.SubstringDedup.windowKeys(corpus, 10)
      .write.mode("overwrite").parquet(keysDir)
    // arrivals: natural docs (3 slices) + constructed tails forcing all
    // THREE substring-hit channels on top of v1's verdict shapes:
    //   9000 exact seed clone  → fully span-cut vs corpus (empty text)
    //   9001 benchmark copy    → decon drop (bench windows not in keys)
    //   9002 fresh unique      → keep
    //   9003 seed span + fresh filler → partial cut vs corpus
    //   9004/9005 same fresh span, distinct fillers → within-batch cut
    //   9006 (later batch) repeats 9004's span → cross-batch cut
    val seedText = corpus
      .filter(size(split(col("text"), " ")) >= 25)
      .orderBy("doc_id").select("text").first().getString(0)
    val benchText = bench.orderBy("doc_id").select("text").first().getString(0)
    val seedSpan = seedText.split(" ").filter(_.nonEmpty).take(15).mkString(" ")
    val freshSpan = (1 to 12).map(i => s"vspan$i").mkString(" ")
    val natural = nonBench.filter(col("doc_id") >= 200)
    val tail = mk(9000L, seedText)
      .unionByName(mk(9001L, benchText))
      .unionByName(mk(9002L, "totally fresh standalone ingest document nothing like others"))
      .unionByName(mk(9003L, s"$seedSpan beta unique trailing content for the partial cut case"))
      .unionByName(mk(9004L, s"$freshSpan gamma one distinct tail here"))
      .unionByName(mk(9005L, s"$freshSpan delta another distinct tail there"))
    val tail2 = mk(9006L, s"$freshSpan epsilon a third arrival one batch later")
    val newAll = natural.unionByName(tail).unionByName(tail2).localCheckpoint(true)
    val ids = natural.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val slices = ids.grouped((ids.length + 2) / 3).toSeq
    val srcDir = Files.createTempDirectory("graft-cur2-src")
    val outDir = Files.createTempDirectory("graft-cur2-out").toString
    val ckpt = Files.createTempDirectory("graft-cur2-ckpt").toString
    val query = StreamOps.curationIngestStreamV2(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir,
      keysDir, bench, benchBanded, outDir, ckpt,
      reference = Some(corpus),
      decon = DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)))
    try {
      slices.zipWithIndex.foreach { case (s, i) =>
        writeChunk(natural.filter(col("doc_id").isInCollection(s.toSet)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
      writeChunk(tail, srcDir, "chunk3")
      query.processAllAvailable()
      writeChunk(tail2, srcDir, "chunk4")
      query.processAllAvailable()
    } finally query.stop()
    // the incremental cut always keys windows by hash: the flag is
    // refused, not ignored
    val noHashFlag = intercept[IllegalArgumentException](StreamOps.curationIngestStreamV2(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir,
      keysDir, bench, benchBanded, outDir, ckpt,
      spanCut = SpanCut(hashWindowKeys = true)))
    assert(noHashFlag.getMessage.contains("hashWindowKeys"), noHashFlag.getMessage)
    // batch twin: span-cut curationManifest over (clean seed ∪ all new) with
    // the pairwise min-id rule, decon near-dup channel from the same
    // frozen benchmark index over the UNION-cleaned text, stage-2
    // banded index over that same cleaned text
    val corpusAll = corpus.unionByName(newAll).localCheckpoint(true)
    val unionClean = graft.text.SubstringDedup.withCleanText(
      corpusAll, graft.text.SubstringDedup.cleanCorpus(corpusAll, 10))
      .localCheckpoint(true)
    val adir = Files.createTempDirectory("graft-cur2-abanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(unionClean), adir)
    val want = graft.pipeline.TrainingSet.curationManifest(
        corpusAll, bench, graft.text.MinHashDedup.readBandedIndex(
          spark, adir, graft.text.MinHashConfig()),
        emptyEmb,
        CurationPlan(DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)),
          minIdDedupWinners = true, spanCut = Some(SpanCut())),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(unionClean, bench, benchBanded, gcfg)))
      .filter(col("doc_id") >= 200)
      .select("doc_id", "n_tokens", "sub_dup_tokens", "ngram_frac",
        "near_dup", "semantic_cos", "span_tokens", "decon_verdict",
        "dedup_verdict")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getLong(6),
        r.getString(7), Option(r.getString(8)))).toSeq
    val manifest = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/manifest").orderBy("doc_id").localCheckpoint(true)
    val got = manifest
      .select("doc_id", "n_tokens", "sub_dup_tokens", "ngram_frac",
        "near_dup", "semantic_cos", "span_tokens", "decon_verdict",
        "dedup_verdict")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getLong(6),
        r.getString(7), Option(r.getString(8)))).toSeq
    assert(got == want,
      s"streaming v2 manifest ≠ batch curationManifestV2: first diff " +
        s"${got.zip(want).find(p => p._1 != p._2)} (sizes ${got.size}/${want.size})")
    // all three substring-hit channels actually occurred
    val cuts = got.map(t => t._1 -> t._3).toMap
    assert(got.find(_._1 == 9000L).exists(t => t._3 == t._2 && t._2 > 0),
      "vs-corpus channel: the exact clone is fully cut")
    assert(cuts(9003L) == 15L,
      s"partial vs-corpus cut: exactly the 15 copied seed tokens: ${cuts(9003L)}")
    assert(cuts(9004L) == 0L && cuts(9005L) == 12L,
      s"within-batch channel: first occurrence canonical, second cut: ${cuts(9004L)}/${cuts(9005L)}")
    assert(cuts(9006L) == 12L,
      s"cross-batch channel: later batch hits the earlier key delta: ${cuts(9006L)}")
    // accepted rows ship the CLEANED text (the batch-v2 survivor rule)
    val acc9003 = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted").filter(col("doc_id") === 9003L)
    if (!acc9003.isEmpty) {
      val t = acc9003.select("text").first().getString(0)
      assert(!t.contains(seedSpan.split(" ").take(10).mkString(" ")),
        "accepted 9003 must not carry the cut span")
    }
  }

  test("streaming curation driver V2 runLevel: mixed-script ingest manifest equals the batch runLevel curationManifestV2") {
    import spark.implicits._
    def fill(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val runA = thai(51, 60)
    val runB = thai(52, 45)
    val cfgRl = graft.text.MinHashConfig(charK = 5, runLevel = true)
    val gcfgRl = graft.text.MinHashConfig(threshold = 0.5, charK = 5, runLevel = true)
    // seed: distinct wordy docs + the homogeneous holder of runA — the
    // run-level span cut leaves all of it untouched (steady state) and
    // nothing overlaps the benchmark (gate-clean)
    val corpus = mk(1L, fill("sa", 30))
      .unionByName(mk(2L, fill("sb", 30)))
      .unionByName(mk(3L, fill("sc", 30)))
      .unionByName(mk(4L, fill("sd", 30)))
      .unionByName(mk(5L, runA + thai(53, 20)))
      .localCheckpoint(true)
    // benchmark quotes a 40-cp prefix of runB — the mixed-script
    // contamination class only run-level decon can see
    val bench = mk(100L, s"${fill("bz", 8)} ${runB.substring(0, 40)}")
      .localCheckpoint(true)
    val bdir = Files.createTempDirectory("graft-cur2rl-bb").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(bench, gcfgRl), bdir, gcfgRl)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bdir, gcfgRl)
    val emptyEmb = Tables.load(spark, sf001, "embeddings").limit(0)
    val idxDir = Files.createTempDirectory("graft-cur2rl-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus, cfgRl), idxDir, cfgRl)
    val keysRoot = Files.createTempDirectory("graft-cur2rl-keys").toString
    graft.text.SubstringDedup.writeWindowKeysRunLevel(corpus, 10, keysRoot)
    // arrivals: 9001 introduces runB (canonical holder — run-aware
    // decon should catch it against the benchmark quote); 9002 embeds
    // the SEED's runA (char cut vs the corpus char family); batch 1:
    // 9100 embeds runB (cross-batch char cut via 9001's delta), 9101
    // is a homo arrival with runB as prefix (cross-granularity), 9102
    // word-clones 9000 (cross-batch word cut)
    val batch0 = mk(9000L, fill("na", 25))
      .unionByName(mk(9001L, s"${fill("nb", 8)} $runB ${fill("nc", 8)}"))
      .unionByName(mk(9002L, s"${fill("nd", 9)} $runA ${fill("ne", 9)}"))
    val batch1 = mk(9100L, s"${fill("nf", 9)} $runB ${fill("ng", 9)}")
      .unionByName(mk(9101L, runB + thai(54, 25)))
      .unionByName(mk(9102L, fill("na", 25)))
    val newAll = batch0.unionByName(batch1).localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-cur2rl-src")
    val outDir = Files.createTempDirectory("graft-cur2rl-out").toString
    val ckpt = Files.createTempDirectory("graft-cur2rl-ckpt").toString
    val query = StreamOps.curationIngestStreamV2(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir,
      keysRoot, bench, benchBanded, outDir, ckpt,
      decon = DeconConfig(dedup = gcfgRl), cfg = cfgRl,
      spanCut = SpanCut(runLevel = true))
    try {
      writeChunk(batch0, srcDir, "chunk0")
      query.processAllAvailable()
      writeChunk(batch1, srcDir, "chunk1")
      query.processAllAvailable()
    } finally query.stop()
    // batch twin: runLevel span-cut curationManifest over (seed ∪ all new),
    // pairwise min-id rule, decon channel off the same frozen
    // benchmark index over the UNION-cleaned text
    val corpusAll = corpus.unionByName(newAll).localCheckpoint(true)
    val unionClean = graft.text.SubstringDedup.withCleanText(
      corpusAll, graft.text.SubstringDedup.cleanCorpusRunLevel(corpusAll, 10))
      .localCheckpoint(true)
    val adir = Files.createTempDirectory("graft-cur2rl-ab").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(unionClean, cfgRl), adir, cfgRl)
    val cols = Seq("doc_id", "n_tokens", "sub_dup_tokens", "run_dup_chars",
      "ngram_frac", "near_dup", "decon_verdict", "dedup_verdict")
    def rowsOf(df: DataFrame) = df
      .select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5), r.getString(6),
        Option(r.getString(7)))).toSeq.sortBy(_._1)
    val want = rowsOf(graft.pipeline.TrainingSet.curationManifest(
        corpusAll, bench, graft.text.MinHashDedup.readBandedIndex(spark, adir, cfgRl),
        emptyEmb,
        CurationPlan(DeconConfig(dedup = gcfgRl), corpusDedup = cfgRl,
          minIdDedupWinners = true, spanCut = Some(SpanCut(runLevel = true))),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(unionClean, bench, benchBanded, gcfgRl)))
      .filter(col("doc_id") >= 9000L))
    val got = rowsOf(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/manifest"))
    assert(got == want,
      s"streaming runLevel v2 manifest ≠ batch twin: first diff " +
        s"${got.zip(want).find(p => p._1 != p._2)} (sizes ${got.size}/${want.size})")
    // every planted run-level channel actually fired
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(9001L)._6 && byId(9001L)._7 == "drop",
      s"run-aware decon must catch the quote holder: ${byId(9001L)}")
    assert(byId(9002L)._4 == 60L,
      s"char cut vs the corpus run: ${byId(9002L)}")
    assert(byId(9100L)._4 == 45L,
      s"cross-batch char cut via 9001's char delta: ${byId(9100L)}")
    assert(byId(9101L)._3 == 45L && byId(9101L)._4 == 45L,
      s"homo arrival loses its runB prefix cross-granularity: ${byId(9101L)}")
    assert(byId(9102L)._3 == 25L && byId(9102L)._4 == 0L,
      s"cross-batch word cut of the 9000 clone: ${byId(9102L)}")
    // both key-delta families exist for both batches
    for (fam <- Seq("key_delta_char", "key_delta_word")) {
      val deltas = new java.io.File(s"$outDir/$fam").listFiles().map(_.getName).toSet
      assert(deltas == Set("b0", "b1"), s"$fam deltas wrong: $deltas")
    }
  }

  test("v2 ingest survives a batch whose accepted docs are all fully span-cut (no row-less banded delta)") {
    import spark.implicits._
    // corpus: one long doc; benchmark: one unrelated doc
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    val longText = (1 to 30).map(i => s"c$i").mkString(" ")
    val corpus = mk(1L, longText).localCheckpoint(true)
    val bench = mk(100L, (1 to 12).map(i => s"b$i").mkString(" ")).localCheckpoint(true)
    val gcfg = graft.text.MinHashConfig(threshold = 0.5)
    val bdir = Files.createTempDirectory("graft-cur2e-bb").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(bench, gcfg), bdir, gcfg)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bdir, gcfg)
    val idxDir = Files.createTempDirectory("graft-cur2e-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    val keysDir = Files.createTempDirectory("graft-cur2e-keys").toString
    graft.text.SubstringDedup.windowKeys(corpus, 10)
      .write.mode("overwrite").parquet(keysDir)
    val srcDir = Files.createTempDirectory("graft-cur2e-src")
    val outDir = Files.createTempDirectory("graft-cur2e-out").toString
    val ckpt = Files.createTempDirectory("graft-cur2e-ckpt").toString
    val query = StreamOps.curationIngestStreamV2(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir,
      keysDir, bench, benchBanded, outDir, ckpt, decon = DeconConfig(dedup = gcfg))
    try {
      // batch 0: ONLY an exact clone of the corpus doc — fully cut to
      // empty text, accepted (no shingles → no near-dup loss), with
      // ZERO signatures: the delta write must be SKIPPED, not row-less
      writeChunk(mk(9000L, longText), srcDir, "chunk0")
      query.processAllAvailable()
      // batch 1 must still process (a row-less delta would kill
      // readBandedIndex here and every replay after it)
      writeChunk(mk(9001L, (1 to 15).map(i => s"z$i").mkString(" ")), srcDir, "chunk1")
      query.processAllAvailable()
    } finally query.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
    val accRows = accepted.select("doc_id", "text", "n_chars").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(accRows.keySet == Set(9000L, 9001L), s"both arrivals accepted: $accRows")
    // the cut doc ships empty text AND recomputed char accounting
    assert(accRows(9000L) == (("", 0L)),
      s"fully cut doc must ship empty text with n_chars recomputed: ${accRows(9000L)}")
    // batch 0 wrote NO banded delta (nothing to sign); batch 1 did
    val deltas = new java.io.File(s"$outDir/index_delta").listFiles()
    assert(deltas == null || !deltas.exists(_.getName == "b0"),
      "the signature-less batch must not write a banded delta")
    val manifest = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/manifest")
    assert(manifest.count() == 2 &&
      manifest.filter(col("doc_id") === 9000L).select("sub_dup_tokens")
        .first().getLong(0) == 30L)
  }

  test("streaming curation V2 normalizeFirst: manifest equals batch curationManifestV2(normalizeFirst = true)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    val emb = Tables.load(spark, sf001, "embeddings")
    val bench = docs.filter(col("source") === "src0")
    val benchN = graft.text.TextAnalysis.withNormalizedText(bench)
      .localCheckpoint(true)
    val nonBench = docs.filter(col("source") =!= "src0")
    val gcfg = graft.text.MinHashConfig(threshold = 0.5)
    val spanT = 30
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    // benchBanded over the NORMALIZED benchmark — the widened caller
    // contract: one canonical text form end to end
    val bdir = Files.createTempDirectory("graft-cur2n-bbanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(benchN, gcfg), bdir, gcfg)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bdir, gcfg)
    val emptyEmb = emb.limit(0)
    // seed = NORMALIZED docs < 200 that pass the frozen decon gate and
    // that the span cut leaves untouched — the v2 steady state, now in
    // canonical form (a corpus built by THIS pipeline under
    // normalizeFirst ships normalized clean text)
    val seed0 = graft.text.TextAnalysis
      .withNormalizedText(nonBench.filter(col("doc_id") < 200))
      .localCheckpoint(true)
    val seedKeepIds = graft.pipeline.TrainingSet.decontaminationReport(
        seed0, benchN, benchBanded, emptyEmb,
        DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(seed0, benchN, benchBanded, gcfg)))
      .filter(col("verdict") === "keep").select("doc_id")
    val seed1 = seed0.join(seedKeepIds, Seq("doc_id"), "left_semi")
    val corpus = seed1.join(
      graft.text.SubstringDedup.cleanCorpus(seed1, 10)
        .filter(col("dup_tokens") === 0).select("doc_id"),
      Seq("doc_id"), "left_semi").localCheckpoint(true)
    assert(corpus.count() > 30, "fixture needs a non-trivial clean seed")
    val idxDir = Files.createTempDirectory("graft-cur2n-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    val keysDir = Files.createTempDirectory("graft-cur2n-keys").toString
    graft.text.SubstringDedup.windowKeys(corpus, 10)
      .write.mode("overwrite").parquet(keysDir)
    // arrivals: a natural slice + planted variants that ONLY the
    // normalization stage can catch:
    //   9000 UPPERCASED clone of a seed doc → fully span-cut vs corpus
    //   9004 fresh 12-token span (precomposed á) + tail → canonical
    //   9005 same span DECOMPOSED (A + combining acute) uppercased +
    //        distinct tail → within-batch cut, only under NFC+casefold
    //   9006 (later batch) the span uppercased again → cross-batch cut
    //        via the normalized key delta
    val seedText = corpus
      .filter(col("text").rlike("^[a-z0-9 ]+$") &&
        size(split(col("text"), " ")) >= 25)
      .orderBy("doc_id").select("text").first().getString(0)
    val freshSpan = (1 to 12).map(i => "vá" + ("q" * i)).mkString(" ")
    val freshSpanVariant = (1 to 12).map(i => "VÁ" + ("Q" * i)).mkString(" ")
    val natural = nonBench.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val tail = mk(9000L, seedText.toUpperCase)
      .unionByName(mk(9004L, s"$freshSpan gamma one distinct tail here"))
      .unionByName(mk(9005L, s"$freshSpanVariant delta another distinct tail there"))
    val tail2 = mk(9006L, s"${freshSpan.toUpperCase} epsilon a third arrival one batch later")
    val newAll = natural.unionByName(tail).unionByName(tail2).localCheckpoint(true)
    val ids = natural.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val slices = ids.grouped((ids.length + 1) / 2).toSeq
    val srcDir = Files.createTempDirectory("graft-cur2n-src")
    val outDir = Files.createTempDirectory("graft-cur2n-out").toString
    val ckpt = Files.createTempDirectory("graft-cur2n-ckpt").toString
    val query = StreamOps.curationIngestStreamV2(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir,
      keysDir, bench, benchBanded, outDir, ckpt,
      reference = Some(corpus),
      decon = DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)),
      spanCut = SpanCut(normalizeFirst = true))
    try {
      slices.zipWithIndex.foreach { case (s, i) =>
        writeChunk(natural.filter(col("doc_id").isInCollection(s.toSet)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
      writeChunk(tail, srcDir, "chunk2")
      query.processAllAvailable()
      writeChunk(tail2, srcDir, "chunk3")
      query.processAllAvailable()
    } finally query.stop()
    // batch twin: span-cut curationManifest (normalizeFirst) over
    // (normalized clean seed ∪ RAW arrivals) — normalization is
    // idempotent, so the pre-normalized seed re-folds to itself
    val corpusAll = corpus.unionByName(newAll).localCheckpoint(true)
    val unionNorm = graft.text.TextAnalysis.withNormalizedText(corpusAll)
      .localCheckpoint(true)
    val unionClean = graft.text.SubstringDedup.withCleanText(
      unionNorm, graft.text.SubstringDedup.cleanCorpus(unionNorm, 10))
      .localCheckpoint(true)
    val adir = Files.createTempDirectory("graft-cur2n-abanded").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(unionClean), adir)
    val want = graft.pipeline.TrainingSet.curationManifest(
        corpusAll, bench, graft.text.MinHashDedup.readBandedIndex(
          spark, adir, graft.text.MinHashConfig()),
        emptyEmb,
        CurationPlan(DeconConfig(dedup = gcfg, maxSpanTokens = Some(spanT)),
          minIdDedupWinners = true,
          spanCut = Some(SpanCut(normalizeFirst = true))),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(unionClean, benchN, benchBanded, gcfg)))
      .filter(col("doc_id") >= 200)
      .select("doc_id", "n_tokens", "sub_dup_tokens", "ngram_frac",
        "near_dup", "semantic_cos", "span_tokens", "decon_verdict",
        "dedup_verdict")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getLong(6),
        r.getString(7), Option(r.getString(8)))).toSeq
    val got = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/manifest").orderBy("doc_id")
      .select("doc_id", "n_tokens", "sub_dup_tokens", "ngram_frac",
        "near_dup", "semantic_cos", "span_tokens", "decon_verdict",
        "dedup_verdict")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getLong(6),
        r.getString(7), Option(r.getString(8)))).toSeq
    assert(got == want,
      s"streaming v2 normalizeFirst manifest ≠ batch: first diff " +
        s"${got.zip(want).find(p => p._1 != p._2)} (sizes ${got.size}/${want.size})")
    // the normalization-only channels actually fired in the STREAM
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(9000L)._3 == byId(9000L)._2 && byId(9000L)._2 > 0,
      s"uppercased seed clone fully cut only via normalization: ${byId(9000L)}")
    assert(byId(9004L)._3 == 0L && byId(9005L)._3 == 12L,
      s"within-batch NFC+case variant cut: ${byId(9004L)}/${byId(9005L)}")
    assert(byId(9006L)._3 == 12L,
      s"cross-batch cut via normalized key delta: ${byId(9006L)}")
    // accepted rows ship NORMALIZED cleaned text
    val acc9004 = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted").filter(col("doc_id") === 9004L)
      .select("text").collect()
    assert(acc9004.nonEmpty && acc9004.head.getString(0).startsWith("váq "),
      s"accepted text must be the normalized form: ${acc9004.map(_.getString(0)).mkString}")
  }

  test("streaming curation V2 charTokens: spaceless span cuts match the batch pipeline across batches") {
    import spark.implicits._
    def mk(id: Long, text: String): DataFrame =
      Seq((id, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .select(Tables.schemas("documents").fields.map(f => col(f.name).cast(f.dataType)): _*)
    def cjk(seed: Int, n: Int): String = {
      val rng = new scala.util.Random(seed)
      (1 to n).map(_ => (0x4e00 + rng.nextInt(2000)).toChar).mkString
    }
    val base = cjk(3, 200)
    val wordy = (1 to 30).map(i => s"c$i").mkString(" ")
    val corpus = mk(1L, base).unionByName(mk(2L, wordy)).localCheckpoint(true)
    val bench = mk(100L, (1 to 12).map(i => s"b$i").mkString(" ")).localCheckpoint(true)
    val gcfg = graft.text.MinHashConfig(threshold = 0.5)
    val bdir = Files.createTempDirectory("graft-cur2c-bb").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(bench, gcfg), bdir, gcfg)
    val benchBanded = graft.text.MinHashDedup.readBandedIndex(spark, bdir, gcfg)
    val idxDir = Files.createTempDirectory("graft-cur2c-idx").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(corpus), idxDir)
    val keysDir = Files.createTempDirectory("graft-cur2c-keys").toString
    graft.text.SubstringDedup.windowKeys(corpus, 10, charTokens = true)
      .write.mode("overwrite").parquet(keysDir)
    // arrivals exercise all three char-cut channels:
    //   9000 exact spaceless clone of the corpus doc → fully cut
    //   9001 40 chars of it between fresh fillers → partial cut vs corpus
    //   9002 a FRESH 40-char span + tail → canonical, no cut
    //   9003 (next batch) repeats 9002's span → cross-batch cut via the
    //        char-unit key delta
    val fresh = cjk(55, 40)
    val tail0 = mk(9000L, base)
      .unionByName(mk(9001L, cjk(91, 20) + base.substring(60, 100) + cjk(92, 20)))
      .unionByName(mk(9002L, fresh + cjk(93, 30)))
    val tail1 = mk(9003L, fresh + cjk(94, 30))
    val srcDir = Files.createTempDirectory("graft-cur2c-src")
    val outDir = Files.createTempDirectory("graft-cur2c-out").toString
    val ckpt = Files.createTempDirectory("graft-cur2c-ckpt").toString
    val query = StreamOps.curationIngestStreamV2(
      StreamOps.documentsStream(spark, srcDir.toString), corpus, idxDir,
      keysDir, bench, benchBanded, outDir, ckpt,
      decon = DeconConfig(dedup = gcfg), spanCut = SpanCut(charTokens = true))
    try {
      writeChunk(tail0, srcDir, "chunk0")
      query.processAllAvailable()
      writeChunk(tail1, srcDir, "chunk1")
      query.processAllAvailable()
    } finally query.stop()
    // batch twin over (corpus ∪ arrivals) with the char-unit stage 0
    val newAll = tail0.unionByName(tail1)
    val corpusAll = corpus.unionByName(newAll).localCheckpoint(true)
    val unionClean = graft.text.SubstringDedup.withCleanText(
      corpusAll,
      graft.text.SubstringDedup.cleanCorpus(corpusAll, 10, charTokens = true))
      .localCheckpoint(true)
    val adir = Files.createTempDirectory("graft-cur2c-ab").toString
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(unionClean), adir)
    val cols = Seq("doc_id", "n_tokens", "sub_dup_tokens", "ngram_frac",
      "near_dup", "semantic_cos", "decon_verdict", "dedup_verdict")
    def rows(df: DataFrame) = df.select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        r.getString(6), Option(r.getString(7)))).toSeq
    val want = rows(graft.pipeline.TrainingSet.curationManifest(
        corpusAll, bench, graft.text.MinHashDedup.readBandedIndex(
          spark, adir, graft.text.MinHashConfig()),
        Tables.load(spark, sf001, "embeddings").limit(0),
        CurationPlan(DeconConfig(dedup = gcfg), minIdDedupWinners = true,
          spanCut = Some(SpanCut(charTokens = true))),
        nearDupPairs = Some(graft.text.MinHashDedup
          .crossNearDupsAgainstBanded(unionClean, bench, benchBanded, gcfg)))
      .filter(col("doc_id") >= 9000L).orderBy("doc_id"))
    val got = rows(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/manifest").orderBy("doc_id"))
    assert(got == want,
      s"streaming charTokens manifest ≠ batch: ${got.zip(want).find(p => p._1 != p._2)}")
    val cuts = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(cuts(9000L) == ((200L, 200L)), s"exact clone fully char-cut: ${cuts(9000L)}")
    assert(cuts(9001L) == ((80L, 40L)), s"partial vs-corpus char cut: ${cuts(9001L)}")
    assert(cuts(9002L)._2 == 0L, s"fresh span canonical: ${cuts(9002L)}")
    assert(cuts(9003L)._2 == 40L, s"cross-batch char cut: ${cuts(9003L)}")
  }

  test("streaming vector-index ingest: deltas + compaction keep probes exactly equal to brute force") {
    val emb = Tables.load(spark, sf01, "embeddings")
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val idx = Files.createTempDirectory("graft-vecingest-idx").toString
    graft.vector.Ivf.writeIndex(a, idx, nLists = 16)
    // replay the odd half as a 2-batch embedding stream into delta dirs
    val srcDir = Files.createTempDirectory("graft-vecingest-src")
    val ckpt = Files.createTempDirectory("graft-vecingest-ckpt").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", org.apache.spark.sql.types.LongType)
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val query = StreamOps.vectorIngestStream(stream, idx, ckpt)
    try {
      writeChunk(b.filter(col("vec_id") < 250).select("vec_id", "embedding"),
        srcDir, "chunk0")
      query.processAllAvailable()
      writeChunk(b.filter(col("vec_id") >= 250).select("vec_id", "embedding"),
        srcDir, "chunk1")
      query.processAllAvailable()
    } finally query.stop()
    // probe-all over base + deltas == exact brute force over A ∪ B
    val probeVec = emb.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    def top5(df: DataFrame): Seq[(Long, Double)] = df
      .filter(col("vec_id") =!= 0)
      .orderBy(desc("cos"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = graft.vector.Ann.bruteForceTopK(emb, 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val withDeltas = top5(graft.vector.Ivf.probeIndexWithDeltas(
      spark, idx, probeVec, k = 6, nProbe = 16))
    assert(withDeltas == brute,
      s"probe-all over base+deltas must equal brute force: $withDeltas vs $brute")
    assert(new java.io.File(s"$idx/delta").listFiles().count(_.isDirectory) == 2,
      "two batch-keyed delta dirs expected")
    // compaction folds deltas into the base layout: plain probeIndex
    // then sees the union, deltas are gone, membership is exactly the
    // one-pass re-assign over the saved centroids
    graft.vector.Ivf.compactIndex(spark, idx)
    assert(!new java.io.File(s"$idx/delta").exists() ||
      new java.io.File(s"$idx/delta").listFiles().isEmpty,
      "compaction must remove folded deltas")
    val afterCompact = top5(graft.vector.Ivf.probeIndex(
      spark, idx, probeVec, k = 6, nProbe = 16))
    assert(afterCompact == brute,
      s"probe-all after compaction must equal brute force: $afterCompact vs $brute")
    val saved = spark.read.parquet(s"$idx/centroids")
    val want = graft.vector.Ivf.assign(a.unionByName(b), saved)
      .select("vec_id", "list_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.read.parquet(s"$idx/vectors")
      .select(col("vec_id"), col("list_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "compacted membership must equal one-pass re-assign")
    // compaction is idempotent when no deltas remain
    graft.vector.Ivf.compactIndex(spark, idx)
    assert(top5(graft.vector.Ivf.probeIndex(
      spark, idx, probeVec, k = 6, nProbe = 16)) == brute)
  }

  test("streaming PQ delta encode: ADC over base+deltas equals batch ADC over the union corpus (plain and residual)") {
    val emb = Tables.load(spark, sf01, "embeddings")
      .select("vec_id", "embedding")
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val m = 8
    val dsub = dim / m
    // base artifacts on the even half: IVF (the raw-vector channel) +
    // plain PQ + residual PQ, codebooks frozen from here on
    val idx = Files.createTempDirectory("graft-pqstream-idx").toString
    graft.vector.Ivf.writeIndex(a, idx, nLists = 8)
    val pq = Files.createTempDirectory("graft-pqstream-pq").toString
    graft.vector.Pq.writeIndex(a, pq, m = m, ks = 16, iters = 2, dim = dim)
    val pqr = Files.createTempDirectory("graft-pqstream-pqr").toString
    graft.vector.Pq.writeResidualIndex(
      a, graft.vector.Ivf.centroids(a, nLists = 8), pqr,
      m = m, ks = 16, iters = 2, dim = dim)

    def ingest(pqPath: String): Unit = {
      val srcDir = Files.createTempDirectory("graft-pqstream-src")
      val ckpt = Files.createTempDirectory("graft-pqstream-ckpt").toString
      val schema = new org.apache.spark.sql.types.StructType()
        .add("vec_id", org.apache.spark.sql.types.LongType)
        .add("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      val query = StreamOps.vectorIngestStream(stream, idx, ckpt,
        pqPath = Some(pqPath))
      try {
        writeChunk(b.filter(col("vec_id") < 250), srcDir, "chunk0")
        query.processAllAvailable()
        writeChunk(b.filter(col("vec_id") >= 250), srcDir, "chunk1")
        query.processAllAvailable()
      } finally query.stop()
    }

    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def rows(df: DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // ---- plain tier: streamed codes ≡ batch encode of the union
    ingest(pq)
    assert(new java.io.File(s"$pq/codes_delta").listFiles()
      .count(_.isDirectory) == 2, "two batch-keyed codes deltas expected")
    val cb = spark.read.parquet(s"$pq/codebook")
    val streamed = graft.vector.Pq.codesWithDeltas(spark, pq)
    val unionCodes = graft.vector.Pq.encode(a.unionByName(b), cb, dsub)
    val want = rows(graft.vector.Pq.adcTopK(unionCodes, cb, queries,
      k = 5, dsub = dsub))
    assert(rows(graft.vector.Pq.adcTopK(streamed, cb, queries,
      k = 5, dsub = dsub)) == want,
      "ADC over base+deltas must equal batch ADC over the union corpus")

    // compaction folds the deltas; base-only ADC still equals batch
    graft.vector.Pq.compactCodes(spark, pq)
    assert(!new java.io.File(s"$pq/codes_delta").exists() ||
      new java.io.File(s"$pq/codes_delta").listFiles().isEmpty,
      "compaction must remove folded codes deltas")
    assert(rows(graft.vector.Pq.adcTopK(
      spark.read.parquet(s"$pq/codes"), cb, queries,
      k = 5, dsub = dsub)) == want)
    // idempotent with nothing to fold
    graft.vector.Pq.compactCodes(spark, pq)
    assert(rows(graft.vector.Pq.adcTopK(
      spark.read.parquet(s"$pq/codes"), cb, queries,
      k = 5, dsub = dsub)) == want)

    // ---- residual tier: streamed residual codes ≡ batch residual
    // encode of the union against the SAME frozen cents + codebook
    ingest(pqr)
    val cents = spark.read.parquet(s"$pqr/cents")
    val cbr = spark.read.parquet(s"$pqr/codebook")
    val unionRes = graft.vector.Pq.encode(
      graft.vector.Pq.residualVectors(a.unionByName(b), cents), cbr, dsub)
    val wantRes = rows(graft.vector.Pq.ivfAdcResidualTopK(unionRes, cbr,
      cents, queries, k = 5, nProbe = 8, dsub = dsub))
    assert(rows(graft.vector.Pq.ivfAdcResidualTopK(
      graft.vector.Pq.codesWithDeltas(spark, pqr), cbr, cents, queries,
      k = 5, nProbe = 8, dsub = dsub)) == wantRes,
      "residual ADC over base+deltas must equal batch over the union")
  }

  test("streaming overlap-span gate: replayed corpus reproduces the batch X96 report exactly") {
    val docs = Tables.load(spark, sf001, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val want = graft.text.TextAnalysis.maxBenchmarkOverlapSpan(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ids = corpus.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val slices = ids.grouped((ids.length + 2) / 3).toSeq
    val srcDir = Files.createTempDirectory("graft-span-src")
    val outDir = Files.createTempDirectory("graft-span-out").toString + "/spans"
    val ckpt = Files.createTempDirectory("graft-span-ckpt").toString
    val query = StreamOps.overlapSpanGateStream(
      StreamOps.documentsStream(spark, srcDir.toString), bench, outDir, ckpt)
    try {
      slices.zipWithIndex.foreach { case (s, i) =>
        writeChunk(corpus.filter(col("doc_id").isInCollection(s.toSet)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
    } finally query.stop()
    val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want,
      s"stream span gate ≠ batch X96: first diff ${got.zip(want).find(p => p._1 != p._2)}")
    // non-vacuous: the replay must see both contaminated and clean docs
    assert(got.exists(_._4 > 0) && got.exists(_._4 == 0),
      s"fixture must produce both span outcomes: ${got.map(_._4).distinct.take(5)}")
  }

  test("streaming drift monitor: each micro-batch reproduces its slice's batch unigramDrift exactly") {
    val docs = Tables.load(spark, sf001, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val ids = corpus.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val slices = ids.grouped((ids.length + 2) / 3).toSeq
    val srcDir = Files.createTempDirectory("graft-drift-src")
    val outDir = Files.createTempDirectory("graft-drift-out").toString + "/drift"
    val ckpt = Files.createTempDirectory("graft-drift-ckpt").toString
    val query = StreamOps.driftMonitorStream(
      StreamOps.documentsStream(spark, srcDir.toString), bench, outDir, ckpt)
    try {
      slices.zipWithIndex.foreach { case (s, i) =>
        writeChunk(corpus.filter(col("doc_id").isInCollection(s.toSet)), srcDir, s"chunk$i")
        query.processAllAvailable()
      }
    } finally query.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("side_a", "side_b", "kl", "tv").orderBy("side_a")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
    slices.zipWithIndex.foreach { case (s, i) =>
      val want = rows(graft.text.TextAnalysis.unigramDrift(
        corpus.filter(col("doc_id").isInCollection(s.toSet)), bench))
      val got = rows(spark.read.parquet(s"$outDir/b$i"))
      assert(got == want, s"batch $i drift ≠ batch twin: $got vs $want")
      // non-vacuous: slices genuinely diverge from the benchmark
      assert(want.forall(r => r._3 > 0 && r._4 > 0), s"fixture drift must be nonzero: $want")
    }
  }

  test("vocab novelty crash recovery: restart from checkpoint equals the uninterrupted curve") {
    val docs = growingVocabDocs(100)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val slices = ids.grouped((ids.length + 2) / 3).toSeq
    val srcDir = Files.createTempDirectory("graft-novelty-crash-src")
    val outDir = Files.createTempDirectory("graft-novelty-crash-out").toString + "/vocab"
    val ckpt = Files.createTempDirectory("graft-novelty-crash-ckpt").toString
    def start() = StreamOps.vocabNoveltyStream(
      StreamOps.documentsStream(spark, srcDir.toString), outDir, ckpt)
    // slice 0, stop (crash), restart on the SAME checkpoint + sink for
    // slices 1–2: the seen-vocab state must come back from the
    // committed batch outputs alone
    writeChunk(docs.filter(col("doc_id").isInCollection(slices(0).toSet)), srcDir, "chunk0")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    writeChunk(docs.filter(col("doc_id").isInCollection(slices(1).toSet)), srcDir, "chunk1")
    writeChunk(docs.filter(col("doc_id").isInCollection(slices(2).toSet)), srcDir, "chunk2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // per-slice novel counts must equal a batch-side replay of the same
    // cuts, and the union must be the exact vocabulary once each
    val seen = scala.collection.mutable.Set[String]()
    val want = slices.map { s =>
      val ws = docs.filter(col("doc_id").isInCollection(s.toSet))
        .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("w"))
        .distinct().collect().map(_.getString(0)).toSet
      val fresh = ws diff seen
      seen ++= fresh
      fresh.size.toLong
    }
    val got = StreamOps.noveltySummary(spark, outDir).map(_._2)
    assert(got == want, s"crash-recovered curve $got != batch-cut curve $want")
    // non-vacuous: the slices after the restart add words
    assert(got.drop(1).forall(_ > 0), s"later slices must add words: $got")
    val union = spark.read.option("recursiveFileLookup", "true").parquet(outDir).count()
    assert(union == seen.size.toLong, s"sink union $union != vocab ${seen.size}")
  }

  test("batch-keyed sinks skip an empty trigger: no b<id> dir, later batches equal the run without it") {
    val docs = Tables.load(spark, sf001, "documents")
    val halves = Seq(docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
    // 3/4 of the corpus tokens: the second batch is admitted only in
    // part, so it must read the first batch's committed total
    val budget = docs
      .agg(sum(size(graft.text.TextAnalysis.tokens(col("text"))).cast("long")))
      .head().getLong(0) * 3 / 4
    type Sinks = Seq[(String, (DataFrame, String, String) => StreamingQuery)]
    val sinks: Sinks = Seq(
      "score" -> ((s, out, ck) => StreamOps.scoreDocumentsStream(s, out, ck)),
      "budget" -> ((s, out, ck) => StreamOps.budgetAdmissionStream(s, budget, out, ck)))
    // the novelty sink needs a second half that adds words, so it runs
    // over its own seeded corpus
    val novelty: Sinks = Seq(
      "novelty" -> ((s, out, ck) => StreamOps.vocabNoveltyStream(s, out, ck)))
    val grown = growingVocabDocs(100)
    val grownHalves = Seq(grown.filter(col("doc_id") < 50), grown.filter(col("doc_id") >= 50))
    // one file per trigger through every sink; per sink, the rows of
    // each b<id> dir (without the batch id the novelty rows carry,
    // which is the trigger's own id)
    def run(sinks: Sinks, files: Seq[DataFrame]): Seq[Map[String, Set[Row]]] = {
      val src = Files.createTempDirectory("graft-empty-trigger-src")
      val root = Files.createTempDirectory("graft-empty-trigger-out")
      val queries = sinks.map { case (name, start) =>
        start(StreamOps.documentsStream(spark, src.toString), s"$root/$name", s"$root/ckpt-$name")
      }
      try files.zipWithIndex.foreach { case (f, i) =>
        writeChunk(f, src, s"chunk$i")
        queries.foreach(_.processAllAvailable())
      } finally queries.foreach(_.stop())
      sinks.map { case (name, _) =>
        new java.io.File(s"$root/$name").listFiles().filter(_.isDirectory).map(d =>
          d.getName -> spark.read.parquet(d.toString).drop("batch_id").collect().toSet).toMap
      }
    }
    def check(sinks: Sinks, halves: Seq[DataFrame]): Unit = {
      val plain = run(sinks, halves)
      val withEmpty = run(sinks, Seq(halves(0), halves(0).limit(0), halves(1)))
      sinks.map(_._1).zip(plain.zip(withEmpty)).foreach { case (name, (p, e)) =>
        assert(p.keySet == Set("b0", "b1") && e.keySet == Set("b0", "b2"),
          s"$name dirs: ${p.keySet} without the empty trigger, ${e.keySet} with it")
        assert(p("b1").nonEmpty && e("b0") == p("b0") && e("b2") == p("b1"),
          s"$name: batches after the empty trigger differ from the run without it")
      }
    }
    check(sinks, halves)
    check(novelty, grownHalves)
  }
}
