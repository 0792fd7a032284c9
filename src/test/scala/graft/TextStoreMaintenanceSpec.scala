package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamOps
import graft.text.{MinHashDedup, MinHashConfig, SubstringDedup}

/** Pins for the text-side store maintenance added in round 16:
  * window-key / banded-index delta compaction (read-after-compact ≡
  * read-of-deltas, crash-window exactly-once, streaming survives a
  * compaction) and doc takedowns on signature/banded stores
  * (query-after-delete ≡ rebuild-without-deleted, physical fold at
  * compaction) — the text twins of the Ivf compactIndex /
  * deleteFromIndex contracts.
  */
class TextStoreMaintenanceSpec extends SparkSpec {

  lazy val docs: DataFrame = Tables.load(spark, sf001, "documents")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Write `df` as a single parquet file named `name` inside `dstDir`
    * (the StreamingSpec file-source feeding shape).
    */
  private def writeChunk(
      df: DataFrame, dstDir: java.nio.file.Path, name: String): Unit = {
    val t = Files.createTempDirectory("graft-chunk")
    df.coalesce(1).write.mode("overwrite").parquet(t.toString)
    val part = Files.list(t)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, dstDir.resolve(s"$name.parquet"))
  }

  private def keySet(path: String): Set[Long] =
    SubstringDedup.loadWindowKeys(spark, path, 10)
      .collect().map(_.getLong(0)).toSet

  private def writeKeyDelta(root: String, name: String, slice: DataFrame): Unit =
    SubstringDedup.windowKeys(slice, 10)
      .write.mode("overwrite").parquet(s"$root/$name")

  test("compactWindowKeys: read-after-compact equals base ∪ deltas; deltas absorbed; stamps survive") {
    val base = tmp("graft_wkc_base")
    val deltaRoot = tmp("graft_wkc_delta")
    SubstringDedup.windowKeys(docs.filter(col("doc_id") < 200), 10)
      .write.mode("overwrite").parquet(base)
    writeKeyDelta(deltaRoot, "b0", docs.filter(col("doc_id") >= 200 && col("doc_id") < 350))
    writeKeyDelta(deltaRoot, "b1", docs.filter(col("doc_id") >= 350 && col("doc_id") < 450))
    writeKeyDelta(deltaRoot, "b2", docs.filter(col("doc_id") >= 450))
    val expected = keySet(base) ++ keySet(s"$deltaRoot/b0") ++
      keySet(s"$deltaRoot/b1") ++ keySet(s"$deltaRoot/b2")
    SubstringDedup.compactWindowKeys(spark, base, deltaRoot, 10)
    assert(keySet(base) === expected, "compacted base must hold exactly base ∪ deltas")
    assert(new java.io.File(deltaRoot).listFiles().isEmpty,
      "folded delta dirs must be deleted")
    // stamps survive the fold: a mismatched consumer still fails loud
    val e = intercept[IllegalArgumentException] {
      SubstringDedup.loadWindowKeys(spark, base, 10, charTokens = true)
    }
    assert(e.getMessage.contains("charTokens"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SubstringDedup.loadWindowKeys(spark, base, 12)
    }
    assert(e2.getMessage.contains("windowTokens"), e2.getMessage)
    // compacting with nothing pending is a no-op
    SubstringDedup.compactWindowKeys(spark, base, deltaRoot, 10)
    assert(keySet(base) === expected)
  }

  test("compactWindowKeys: every crash window recovers to the same state, deltas folded exactly once") {
    for (fp <- Seq("after-stage", "after-swap-out", "after-swap-in")) {
      val base = tmp(s"graft_wkc_$fp")
      val deltaRoot = tmp(s"graft_wkc_d_$fp")
      SubstringDedup.windowKeys(docs.filter(col("doc_id") < 250), 10)
        .write.mode("overwrite").parquet(base)
      writeKeyDelta(deltaRoot, "b0", docs.filter(col("doc_id") >= 250 && col("doc_id") < 400))
      writeKeyDelta(deltaRoot, "b1", docs.filter(col("doc_id") >= 400))
      val expected = keySet(base) ++ keySet(s"$deltaRoot/b0") ++ keySet(s"$deltaRoot/b1")
      val e = intercept[IllegalStateException] {
        SubstringDedup.compactWindowKeys(spark, base, deltaRoot, 10, failpoint = fp)
      }
      assert(e.getMessage.contains("injected crash"), e.getMessage)
      // the retry recovers whatever the crash left behind
      SubstringDedup.compactWindowKeys(spark, base, deltaRoot, 10)
      assert(keySet(base) === expected, s"state after crash at $fp + retry")
      assert(new java.io.File(deltaRoot).listFiles().isEmpty,
        s"deltas must be gone after recovery from $fp")
    }
  }

  test("streaming substring ingest keeps working across a compaction of its key store") {
    val corpus = docs.filter(col("doc_id") < 300)
    val batch0 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val batch1 = docs.filter(col("doc_id") >= 400)
    val keysDir = tmp("graft_wkc_stream_keys")
    SubstringDedup.windowKeys(corpus, 10).write.mode("overwrite").parquet(keysDir)
    val srcDir = Files.createTempDirectory("graft_wkc_stream_src")
    val outDir = tmp("graft_wkc_stream_out")
    val ckpt = tmp("graft_wkc_stream_ckpt")
    val q1 = StreamOps.ingestSubstringDedupStream(
      StreamOps.documentsStream(spark, srcDir.toString), keysDir, outDir, ckpt)
    try {
      writeChunk(batch0, srcDir, "chunk0")
      q1.processAllAvailable()
    } finally q1.stop()
    // maintenance window: fold batch 0's key delta into the base
    SubstringDedup.compactWindowKeys(spark, keysDir, s"$outDir/key_delta", 10)
    assert(new java.io.File(s"$outDir/key_delta").listFiles().isEmpty)
    // the restarted stream dedups batch 1 against the compacted base
    val q2 = StreamOps.ingestSubstringDedupStream(
      StreamOps.documentsStream(spark, srcDir.toString), keysDir, outDir, ckpt)
    try {
      writeChunk(batch1, srcDir, "chunk1")
      q2.processAllAvailable()
    } finally q2.stop()
    val accepted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$outDir/accepted")
      .select("doc_id", "n_tokens", "dup_tokens", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val batchMode = SubstringDedup.cleanCorpus(docs, 10, hashKeys = true)
      .filter(col("doc_id") >= 300)
      .select("doc_id", "n_tokens", "dup_tokens", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(accepted.nonEmpty && accepted.exists(_._3 > 0))
    assert(accepted === batchMode,
      "stream ≡ batch must hold across a mid-stream key compaction")
  }

  test("compactBandedIndex: candidates after compact equal base ∪ deltas; crash window recovers") {
    val cfg = MinHashConfig()
    val base = tmp("graft_bic_base")
    val deltaRoot = tmp("graft_bic_delta")
    MinHashDedup.writeBandedIndex(
      MinHashDedup.signatures(docs.filter(col("doc_id") < 300), cfg), base, cfg)
    MinHashDedup.writeBandedIndex(
      MinHashDedup.signatures(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 450), cfg),
      s"$deltaRoot/b0", cfg)
    MinHashDedup.writeBandedIndex(
      MinHashDedup.signatures(docs.filter(col("doc_id") >= 450), cfg),
      s"$deltaRoot/b1", cfg)
    def pairsOf(banded: DataFrame): Set[(Long, Long)] =
      MinHashDedup.candidatePairsFromBanded(banded, cfg)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairsOf(Seq(s"$deltaRoot/b0", s"$deltaRoot/b1")
      .map(MinHashDedup.readBandedIndex(spark, _, cfg))
      .foldLeft(MinHashDedup.readBandedIndex(spark, base, cfg))(_ unionByName _))
    // crash mid-compaction, then recover on retry
    val e = intercept[IllegalStateException] {
      MinHashDedup.compactBandedIndex(spark, base, deltaRoot, cfg,
        failpoint = "after-swap-out")
    }
    assert(e.getMessage.contains("injected crash"), e.getMessage)
    MinHashDedup.compactBandedIndex(spark, base, deltaRoot, cfg)
    val after = pairsOf(MinHashDedup.readBandedIndex(spark, base, cfg))
    assert(after === before, "compacted index must nominate identical candidates")
    assert(new java.io.File(deltaRoot).listFiles().isEmpty,
      "folded banded deltas must be deleted")
    // config stamps survive: a mismatched reader still refuses
    val e2 = intercept[IllegalArgumentException] {
      MinHashDedup.readBandedIndex(spark, base, MinHashConfig(bands = 32))
    }
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
  }

  test("deleteDocs: banded query-after-delete equals rebuild-without-deleted; compaction folds physically") {
    import spark.implicits._
    val cfg = MinHashConfig()
    val base = tmp("graft_del_banded")
    MinHashDedup.writeBandedIndex(MinHashDedup.signatures(docs, cfg), base, cfg)
    // pick one side of a real near-dup pair so the delete changes results
    val somePair = MinHashDedup.verifiedPairs(docs, cfg).limit(1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val gone = somePair._2
    MinHashDedup.deleteDocs(Seq(gone).toDF("doc_id"), base)
    val afterDelete = MinHashDedup
      .candidatePairsFromBanded(MinHashDedup.readBandedIndex(spark, base, cfg), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = tmp("graft_del_rebuilt")
    MinHashDedup.writeBandedIndex(
      MinHashDedup.signatures(docs.filter(col("doc_id") =!= gone), cfg), rebuilt, cfg)
    val viaRebuild = MinHashDedup
      .candidatePairsFromBanded(MinHashDedup.readBandedIndex(spark, rebuilt, cfg), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterDelete === viaRebuild,
      "query-after-delete must equal rebuild-without-deleted")
    assert(!afterDelete.exists(p => p._1 == gone || p._2 == gone))
    // compaction folds the tombstone away physically
    val emptyDeltas = tmp("graft_del_nodeltas")
    MinHashDedup.compactBandedIndex(spark, base, emptyDeltas, cfg)
    // the batch dirs are absorbed (the empty root may linger, like
    // Ivf's tombstone root — readers see zero completed dirs either way)
    val leftover = Option(new java.io.File(s"$base.tombstones").listFiles())
      .map(_.toSeq).getOrElse(Nil)
    assert(leftover.isEmpty, s"tombstone dirs must be absorbed: $leftover")
    assert(spark.read.parquet(base).filter(col("id") === gone).count() == 0,
      "deleted doc's member rows must be physically gone")
    val afterCompact = MinHashDedup
      .candidatePairsFromBanded(MinHashDedup.readBandedIndex(spark, base, cfg), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterCompact === viaRebuild)
  }

  test("deleteDocs: signature reads drop the doc immediately; stores without tombstones unaffected") {
    import spark.implicits._
    val cfg = MinHashConfig()
    val path = tmp("graft_del_sigs")
    MinHashDedup.writeSignatures(docs, path, cfg)
    val total = MinHashDedup.readSignatures(spark, path, cfg).count()
    MinHashDedup.deleteDocs(Seq(3L, 7L).toDF("doc_id"), path)
    val after = MinHashDedup.readSignatures(spark, path, cfg)
    assert(after.count() == total - 2)
    assert(after.filter(col("doc_id").isin(3L, 7L)).count() == 0)
    // a second delete batch lands as its own dir and composes
    MinHashDedup.deleteDocs(Seq(11L).toDF("doc_id"), path)
    assert(MinHashDedup.readSignatures(spark, path, cfg).count() == total - 3)
    // an untouched store pays no join (behavioral: identical rows)
    val clean = tmp("graft_del_sigs_clean")
    MinHashDedup.writeSignatures(docs, clean, cfg)
    assert(MinHashDedup.readSignatures(spark, clean, cfg).count() == total)
  }

  test("compactWindowKeysRunLevel: both families fold to base ∪ deltas; stamps survive per family") {
    import spark.implicits._
    def mixed(lo: Int, hi: Int): DataFrame =
      (lo until hi).map(i =>
        (i.toLong, s"words w$i x$i y$i z$i around ${thai(i, 20 + i % 9)} " +
          (1 to 12).map(j => s"t${i}_$j").mkString(" ")))
        .toDF("doc_id", "text")
    val root = tmp("graft_wkrl_base")
    val charDeltas = tmp("graft_wkrl_dc")
    val wordDeltas = tmp("graft_wkrl_dw")
    SubstringDedup.writeWindowKeysRunLevel(mixed(0, 40), 10, root)
    def famSet(path: String, charTokens: Boolean): Set[Long] =
      SubstringDedup.loadWindowKeys(spark, path, 10, charTokens)
        .collect().map(_.getLong(0)).toSet
    val (cd, wd) = SubstringDedup.windowKeysRunLevel(mixed(40, 70), 10)
    cd.write.parquet(s"$charDeltas/b0")
    wd.write.parquet(s"$wordDeltas/b0")
    val charRoot = root + "/char"
    val wordRoot = root + "/word"
    val wantChar = famSet(charRoot, true) ++ famSet(s"$charDeltas/b0", true)
    val wantWord = famSet(wordRoot, false) ++ famSet(s"$wordDeltas/b0", false)
    SubstringDedup.compactWindowKeysRunLevel(spark, root, charDeltas, wordDeltas, 10)
    assert(famSet(charRoot, true) === wantChar, "char family must hold base ∪ deltas")
    assert(famSet(wordRoot, false) === wantWord, "word family must hold base ∪ deltas")
    assert(new java.io.File(charDeltas).listFiles().isEmpty &&
      new java.io.File(wordDeltas).listFiles().isEmpty,
      "folded delta dirs must be deleted in both families")
    // per-family stamps survive compaction: a cross-granularity load
    // still refuses
    val e = intercept[IllegalArgumentException] {
      SubstringDedup.loadWindowKeys(spark, charRoot, 10, charTokens = false)
    }
    assert(e.getMessage.contains("charTokens"), e.getMessage)
    // the pair loader validates both families in one call
    val (ck, wk) = SubstringDedup.loadWindowKeysRunLevel(spark, root, 10)
    assert(ck.count() == wantChar.size && wk.count() == wantWord.size)
  }

  test("deleteDocsFromTable: bucketed table path serves tombstones — query-after-delete equals rebuild-without-deleted") {
    import spark.implicits._
    val cfg = MinHashConfig()
    val tbl = "graft_takedown_tbl"
    // the tombstone sibling outlives DROP TABLE by design, so the test
    // clears it itself: a leftover would carry earlier runs' takedowns
    // into this run's fresh table
    val tombstones = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"$tbl.tombstones")
    def clear(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      tombstones.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tombstones, true)
    }
    clear()
    try {
      MinHashDedup.writeBandedIndexTable(
        MinHashDedup.signatures(docs, cfg), tbl, numBuckets = 4, cfg = cfg)
      val somePair = MinHashDedup.verifiedPairs(docs, cfg).limit(1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      val gone = somePair._2
      MinHashDedup.deleteDocsFromTable(Seq(gone).toDF("doc_id"), tbl)
      val served = MinHashDedup.readBandedIndexTable(spark, tbl, cfg)
      assert(served.filter(col("id") === gone).count() == 0,
        "table reads must drop the doc immediately")
      val afterDelete = MinHashDedup
        .candidatePairsFromBucketed(served, cfg)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rebuilt = tmp("graft_takedown_rebuilt")
      MinHashDedup.writeBandedIndex(
        MinHashDedup.signatures(docs.filter(col("doc_id") =!= gone), cfg),
        rebuilt, cfg)
      val viaRebuild = MinHashDedup
        .candidatePairsFromBanded(MinHashDedup.readBandedIndex(spark, rebuilt, cfg), cfg)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterDelete === viaRebuild,
        "table-path query-after-delete must equal rebuild-without-deleted")
      assert(!afterDelete.exists(p => p._1 == gone || p._2 == gone))
    } finally clear()
  }

  test("claimBatchDir: sequential naming survives pre-claimed slots; no stage dirs leak; dot-dirs invisible to discovery") {
    import spark.implicits._
    val root = tmp("graft_claim") + "/t"
    val d0 = graft.sources.Store.claimBatchDir(Seq(1L).toDF("doc_id"), root, "d")
    assert(d0.endsWith("/d0"), d0)
    // a slot claimed out-of-band (the concurrent-writer shape: d1
    // already exists when this writer computes its max+1) is never
    // overwritten — the claim slides to the next free index
    spark.createDataFrame(Seq(Tuple1(99L))).toDF("doc_id")
      .write.parquet(s"$root/d1")
    val d2 = graft.sources.Store.claimBatchDir(Seq(2L).toDF("doc_id"), root, "d")
    assert(d2.endsWith("/d2"), d2)
    assert(spark.read.parquet(s"$root/d1").first().getLong(0) == 99L,
      "the pre-claimed batch must be intact")
    // no hidden stage dirs linger, and discovery never lists dot-dirs
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(names === Set("d0", "d1", "d2"), s"leftover entries: $names")
    val probe = new java.io.File(s"$root/.stage-probe")
    probe.mkdirs()
    java.nio.file.Files.createFile(probe.toPath.resolve("_SUCCESS"))
    val seen = graft.sources.Store.completedDirs(spark, root)
      .map(p => new java.io.File(p).getName)
    assert(!seen.exists(_.startsWith(".")),
      s"completedDirs must skip in-flight stage dirs: $seen")
  }

  test("v2 grandfathering: a charK=0 v2 store still reads; charK>0 v2 stores are refused") {
    val cfg = MinHashConfig() // charK = 0
    val sigDir = tmp("graft_v2_sigs")
    MinHashDedup.writeSignatures(docs, sigDir, cfg)
    val asV2 = tmp("graft_v2_sigs_old")
    spark.read.parquet(sigDir).withColumn("sig_v", lit(2))
      .write.mode("overwrite").parquet(asV2)
    // the v2→v3 dispatch change never touched charK=0 shingles — the
    // store's universe is identical, so it must keep serving
    assert(MinHashDedup.readSignatures(spark, asV2, cfg).count() ==
      MinHashDedup.readSignatures(spark, sigDir, cfg).count())
    val bandDir = tmp("graft_v2_band")
    MinHashDedup.writeBandedIndex(MinHashDedup.signatures(docs, cfg), bandDir, cfg)
    val bandV2 = tmp("graft_v2_band_old")
    spark.read.parquet(bandDir).withColumn("sig_v", lit(2))
      .write.mode("overwrite").parquet(bandV2)
    assert(MinHashDedup.readBandedIndex(spark, bandV2, cfg).count() ==
      MinHashDedup.readBandedIndex(spark, bandDir, cfg).count())
    // a charK>0 v2 store signed short pure-ASCII docs at char
    // granularity — mixing it with v3 word shingles silently admits
    // duplicates, so the refusal stands
    val ckCfg = MinHashConfig(charK = 5)
    val ckDir = tmp("graft_v2_ck")
    MinHashDedup.writeSignatures(docs, ckDir, ckCfg)
    val ckV2 = tmp("graft_v2_ck_old")
    spark.read.parquet(ckDir).withColumn("sig_v", lit(2))
      .write.mode("overwrite").parquet(ckV2)
    val e = intercept[IllegalArgumentException] {
      MinHashDedup.readSignatures(spark, ckV2, ckCfg)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }
}
