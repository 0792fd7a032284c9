package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Catalog, Scale}
import graft.pipeline.{CurationPlan, DeconConfig, SpanCut, TrainingSet}
import graft.text.{MinHashConfig, MinHashDedup, TextAnalysis}

/** The composed batch curation driver (X93):
  *   - the manifest EXACTLY equals composing the four stages by hand
  *     (decontaminate → near-dup star → perplexity gate → mixture),
  *     stage columns included — the composition is its parts, with
  *     each stage computed over the previous stage's survivors;
  *   - every stage verdict is non-vacuous on the test corpus;
  *   - the optional frozen quality model gates BETWEEN decontamination
  *     and dedup (scores only decon survivors, downstream stages see
  *     only model-kept docs);
  *   - curateCorpus's audit equals the manifest's own aggregates and
  *     its result composes with the chunk writer machinery
  *     (training-order docs with shuffle_pos).
  */
class CurationSpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf001)
  private lazy val corpus = cat.documents.filter(col("source") =!= "src0")
  private lazy val bench = cat.documents.filter(col("source") === "src0")

  // one banded index over the full documents table (corpus ∪ benchmark
  // — the decontaminationReport coverage contract), built once
  private lazy val banded: DataFrame = {
    val dir = Files.createTempDirectory("graft-curation-banded").toString
    val cfg = MinHashConfig()
    MinHashDedup.writeBandedIndex(MinHashDedup.signatures(cat.documents, cfg), dir, cfg)
    MinHashDedup.readBandedIndex(spark, dir, cfg).localCheckpoint(true)
  }

  test("curation manifest equals the hand-composed stage chain, column by column") {
    val manifest = TrainingSet.curationManifest(corpus, bench, banded, cat.embeddings)
      .localCheckpoint(true)

    // --- hand-compose the same pipeline from the public operators ---
    val decon = TrainingSet.decontaminationReport(corpus, bench, banded, cat.embeddings)
      .localCheckpoint(true)
    val s1 = corpus.join(decon.filter(col("verdict") === "keep").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val clusters = MinHashDedup.duplicateClusters(
      MinHashDedup.verifiedPairsFromBanded(s1, banded)).localCheckpoint(true)
    val winners = MinHashDedup.qualityAwareWinners(s1, clusters)
      .select(col("keep_id").as("doc_id"))
    val losers = clusters.join(winners, Seq("doc_id"), "left_anti").select("doc_id")
    val s2 = s1.join(losers, Seq("doc_id"), "left_anti")
    val ppl = TextAnalysis.perplexityBuckets(s2, 3).localCheckpoint(true)
    val s3 = s2.join(ppl.filter(col("bucket") < 2).select("doc_id"), Seq("doc_id"), "left_semi")
    val mixed = Scale.temperatureResample(
      s3.select(col("doc_id"), col("lang")), "doc_id", "lang", alpha = 0.5)

    // final keep set = the hand-chain's survivors
    val wantKeep = mixed.select("doc_id").collect().map(_.getLong(0)).toSet
    val gotKeep = manifest.filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotKeep == wantKeep, "manifest keep set must equal the hand-composed chain")

    // stage columns: decon verdicts verbatim; dedup/ppl/mixture
    // verdicts match the hand-built stage sets (null = never reached)
    val deconMap = decon.select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1Ids = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val loserIds = losers.collect().map(_.getLong(0)).toSet
    val s2Ids = s2.select("doc_id").collect().map(_.getLong(0)).toSet
    val pplKeepIds = ppl.filter(col("bucket") < 2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s3Ids = s3.select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = manifest.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      assert(r.getString(r.fieldIndex("decon_verdict")) == deconMap(id))
      def v(cn: String): Option[String] = {
        val i = r.fieldIndex(cn)
        if (r.isNullAt(i)) None else Some(r.getString(i))
      }
      val wantDedup =
        if (!s1Ids(id)) None else Some(if (loserIds(id)) "drop" else "keep")
      assert(v("dedup_verdict") == wantDedup, s"dedup_verdict for $id")
      val wantPpl =
        if (!s2Ids(id)) None else Some(if (pplKeepIds(id)) "keep" else "drop")
      assert(v("ppl_verdict") == wantPpl, s"ppl_verdict for $id")
      val wantMix =
        if (!s3Ids(id)) None else Some(if (wantKeep(id)) "keep" else "drop")
      assert(v("mixture_verdict") == wantMix, s"mixture_verdict for $id")
      assert(r.getBoolean(r.fieldIndex("keep")) == wantKeep(id))
    }

    // non-vacuous: every stage must actually fire on this corpus
    def count(cn: String, value: String): Long =
      rows.count(r => !r.isNullAt(r.fieldIndex(cn)) &&
        r.getString(r.fieldIndex(cn)) == value).toLong
    assert(count("decon_verdict", "drop") > 0, "decon stage vacuous")
    assert(count("dedup_verdict", "drop") > 0, "dedup stage vacuous")
    assert(count("ppl_verdict", "drop") > 0, "ppl stage vacuous")
    assert(count("mixture_verdict", "drop") > 0, "mixture stage vacuous")
  }

  test("quality model gates between decontamination and dedup") {
    // frozen model trained on the corpus's own split — the gate's
    // mechanics are under test, not the model's quality
    val model = graft.text.QualityClassifier.train(
      corpus.filter(col("lang") === "en"),
      corpus.filter(col("lang") =!= "en"), dim = 64, iters = 5)
    val decon = TrainingSet.decontaminationReport(corpus, bench, banded, cat.embeddings)
    val s1 = corpus.join(decon.filter(col("verdict") === "keep").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val scored = graft.text.QualityClassifier.score(s1, model)
      .select(col("doc_id"), col("p_target")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // threshold at the score median: the gate fires on ~half the
    // survivors regardless of the tiny model's calibration
    val thr = scored.values.toSeq.sorted.apply(scored.size / 2)
    val manifest = TrainingSet.curationManifest(
      corpus, bench, banded, cat.embeddings, CurationPlan(qualityModel = Some((model, thr))))
      .localCheckpoint(true)
    assert(manifest.columns.contains("quality_p"))
    val rows = manifest.collect()
    var gatedOut = 0
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      val qi = r.fieldIndex("quality_p")
      if (scored.contains(id)) {
        assert(!r.isNullAt(qi) && r.getDouble(qi) == scored(id),
          s"quality_p for decon survivor $id")
        // a doc the model rejects must never reach the dedup stage
        if (scored(id) < thr) {
          assert(r.isNullAt(r.fieldIndex("dedup_verdict")),
            s"model-rejected doc $id reached dedup")
          assert(!r.getBoolean(r.fieldIndex("keep")))
          gatedOut += 1
        }
      } else {
        // decon-dropped docs are never scored
        assert(r.isNullAt(qi), s"decon-dropped doc $id has a quality score")
      }
    }
    assert(gatedOut > 0, "quality gate vacuous — pick a different threshold")
  }

  test("corpusPairs artifact path: manifest equals the from-scratch chain exactly") {
    // the FULL-corpus verified pair table (what a dedup run persists)
    val fullPairs = MinHashDedup
      .verifiedPairsFromBanded(cat.documents, banded)
      .localCheckpoint(true)
    val fromArtifact = TrainingSet.curationManifest(
      corpus, bench, banded, cat.embeddings, corpusPairs = Some(fullPairs))
      .collect().map(_.toSeq).toSeq
    val fromScratch = TrainingSet.curationManifest(
      corpus, bench, banded, cat.embeddings)
      .collect().map(_.toSeq).toSeq
    assert(fromArtifact == fromScratch,
      "restricting the persisted full-corpus pair table to survivors must equal re-verifying")
  }

  test("curateAndWrite: corpus in, bin-partitioned batches + manifest out") {
    val eng = GraftEngine(spark, sf001)
    val out = Files.createTempDirectory("graft-curate-write").toString
    val cur = eng.curateAndWrite(corpus, bench, banded, out,
      maxTokens = 64, stride = 64, binTokens = 500L)
    // the shipped manifest is the curation manifest, byte for byte
    val shipped = spark.read.parquet(s"$out/manifest")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(shipped == cur.manifest.orderBy("doc_id").collect().map(_.toSeq).toSeq)
    // the batches cover exactly the keep set, bin-partitioned
    val batches = spark.read.parquet(s"$out/batches")
    val batchDocs = batches.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val keepIds = cur.manifest.filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batchDocs == keepIds, "batches must cover exactly the kept docs")
    assert(batches.columns.contains("bin"))
    assert(new java.io.File(s"$out/batches").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("bin=")))
  }

  test("curateAndWriteV2: the one-call v2 release run ships span-cleaned batches + the stage-0 manifest") {
    val eng = GraftEngine(spark, sf001)
    val bandedV2 = bandedOverCleaned(corpus, bench)
    val out = Files.createTempDirectory("graft-curate-write-v2").toString
    val cur = eng.curateAndWrite(corpus, bench, bandedV2, out,
      CurationPlan(spanCut = Some(SpanCut())),
      maxTokens = 64, stride = 64, binTokens = 500L)
    val shipped = spark.read.parquet(s"$out/manifest")
    assert(shipped.columns.take(3).toSeq ==
      Seq("doc_id", "n_tokens", "sub_dup_tokens"))
    assert(shipped.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      cur.manifest.orderBy("doc_id").collect().map(_.toSeq).toSeq)
    // the batch text is the CLEANED text: no chunk may contain a cut
    // span's content beyond its canonical copy — verified through the
    // token accounting (total chunk tokens over a doc ≤ its cleaned
    // token count)
    val batches = spark.read.parquet(s"$out/batches")
    val keepIds = cur.manifest.filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batches.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == keepIds)
    val cleanTok = graft.text.SubstringDedup.cleanCorpus(corpus, 10)
      .select(col("doc_id"), (col("n_tokens") - col("dup_tokens")).as("ct"))
    val over = batches
      .select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("chunk"))).cast("long").as("t"))
      .groupBy("doc_id").agg(sum("t").as("t"))
      .join(cleanTok, Seq("doc_id"))
      .filter(col("t") > col("ct"))
    assert(over.isEmpty, "chunk tokens must be bounded by the cleaned doc tokens")
  }

  test("curateCorpus: audit equals manifest aggregates, result is writer-ready") {
    val cur = TrainingSet.curateCorpus(corpus, bench, banded, cat.embeddings)
    val m = cur.manifest
    val audit = cur.result.audit.toMap
    assert(audit("0_input") == m.count())
    assert(audit("1_decontaminated") ==
      m.filter(col("decon_verdict") === "keep").count())
    assert(audit("2_near_dedup") == m.filter(col("dedup_verdict") === "keep").count())
    assert(audit("3_perplexity_gate") == m.filter(col("ppl_verdict") === "keep").count())
    assert(audit("4_mixture") == m.filter(col("keep")).count())
    // the index capped-bucket exposure rides the release audit (the
    // X84 report columns' manifest-summary twin): this fixture's index
    // has no oversized buckets, so exposure is zero over a positive
    // member mass
    assert(audit("idx_capped_member_rows") == 0L,
      s"unexpected capped buckets in the fixture index: $audit")
    assert(audit("idx_member_rows") > 0L)
    // survivors carry the deterministic training order: exactly the
    // keep set, with shuffle_pos a 1..n permutation matching the
    // standalone X47 ordering of the same ids
    val docs = cur.result.docs.localCheckpoint(true)
    val keepIds = m.filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val got = docs.select("doc_id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.map(_._1).toSet == keepIds)
    assert(got.map(_._2).sorted.toSeq == (1L to keepIds.size).toSeq)
    val want = Scale.shuffleOrder(
      corpus.join(m.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", 42L)
      .select("doc_id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, pos) => assert(want(id) == pos) }
  }

  // --- V2: substring dedup as stage 0 ------------------------------

  /** Banded index over (span-cleaned corpus ∪ benchmark) — the v2
    * coverage contract: signatures must be of the text the stages see.
    */
  private def bandedOverCleaned(
      corp: DataFrame, bnch: DataFrame, charTokens: Boolean = false,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val cleaned = graft.text.SubstringDedup
      .cleanCorpus(corp, 10, charTokens = charTokens)
    val v2docs = corp.drop("text")
      .join(cleaned.select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(bnch.columns.map(col): _*)
      .unionByName(bnch)
    val dir = Files.createTempDirectory("graft-curation-banded-v2").toString
    MinHashDedup.writeBandedIndex(MinHashDedup.signatures(v2docs, cfg), dir, cfg)
    MinHashDedup.readBandedIndex(spark, dir, cfg).localCheckpoint(true)
  }

  test("curationManifestV2 equals stage-0 accounting + the v1 manifest over the pre-cleaned corpus, column by column") {
    val bandedV2 = bandedOverCleaned(corpus, bench)
    val v2 = TrainingSet.curationManifest(corpus, bench, bandedV2, cat.embeddings,
      CurationPlan(spanCut = Some(SpanCut())))
      .localCheckpoint(true)

    // hand-compose: clean first, then the v1 manifest over cleaned text
    val cleaned = graft.text.SubstringDedup.cleanCorpus(corpus, 10)
      .localCheckpoint(true)
    val corpusClean = corpus.drop("text")
      .join(cleaned.select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
    val want = cleaned
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens").as("sub_dup_tokens"))
      .join(TrainingSet.curationManifest(corpusClean, bench, bandedV2, cat.embeddings),
        Seq("doc_id"))
      .orderBy("doc_id")
    assert(v2.columns.toSeq == want.columns.toSeq)
    assert(v2.collect().toSeq == want.collect().toSeq,
      "v2 manifest must BE the v1 manifest over the cleaned corpus plus stage-0 accounting")
    // count conservation: substring dedup drops tokens, never documents
    assert(v2.count() == corpus.count())
    assert(v2.select("doc_id").distinct().count() == corpus.count())
  }

  test("v2 planted fixture: cutting a duplicated span BEFORE decon rescues the non-canonical copy; the canonical still drops") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    def docsDf(rows: Seq[(Long, String)]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t, "en") }: _*),
        schema)
    // span S: 12 tokens — long enough for stride-1 10-token windows
    val s = (1 to 12).map(i => s"s$i").mkString(" ")
    def filler(tag: String, n: Int): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    // A (canonical, min doc_id) and B both carry S; the benchmark doc
    // carries S too, so S's 5-grams are contaminated. 8 of A's/B's 28
    // distinct 5-grams come from S → overlap 0.286 ≥ 0.2: BOTH drop
    // under the v1 order. V2 cuts S from B first (non-canonical), so
    // B's cleaned text has zero benchmark overlap and survives.
    val corpusV = docsDf(Seq(
      1L -> s"$s ${filler("a", 20)}",
      2L -> s"$s ${filler("b", 20)}",
      3L -> filler("c", 25), 4L -> filler("d", 25), 5L -> filler("e", 25),
      6L -> filler("f", 25)))
    val benchV = docsDf(Seq(100L -> s"$s ${filler("z", 8)}"))
    val emptyEmb = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))

    // v1 order (substring dedup off): both span carriers drop at decon
    val dirV1 = Files.createTempDirectory("graft-v2fix-banded").toString
    val cfg = MinHashConfig()
    MinHashDedup.writeBandedIndex(
      MinHashDedup.signatures(corpusV.unionByName(benchV), cfg), dirV1, cfg)
    val bandedV1 = MinHashDedup.readBandedIndex(spark, dirV1, cfg)
    val m1 = TrainingSet.curationManifest(corpusV, benchV, bandedV1, emptyEmb)
      .select("doc_id", "decon_verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1(1L) == "drop" && m1(2L) == "drop",
      s"v1 must drop both span carriers at decon: $m1")

    // v2: stage 0 cuts S from doc 2 (doc 1 keeps the canonical copy)
    val bandedV2 = bandedOverCleaned(corpusV, benchV)
    val v2 = TrainingSet.curationManifest(corpusV, benchV, bandedV2, emptyEmb,
      CurationPlan(spanCut = Some(SpanCut())))
      .localCheckpoint(true)
    val rows = v2.select("doc_id", "n_tokens", "sub_dup_tokens", "decon_verdict")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows(1L) == ((32L, 0L, "drop")),
      s"canonical copy keeps its span and still drops: ${rows(1L)}")
    assert(rows(2L) == ((32L, 12L, "keep")),
      s"non-canonical copy is span-cut and survives decon: ${rows(2L)}")
    rows.filterKeys(_ >= 3L).foreach { case (id, r) =>
      assert(r == ((25L, 0L, "keep")), s"neutral doc $id must pass untouched: $r")
    }
    // the rescued doc flows through the whole chain as its CLEANED self
    assert(v2.filter(col("doc_id") === 2L && col("keep")).count() +
      v2.filter(col("doc_id") === 2L && !col("keep")).count() == 1L)
  }

  test("curateCorpusV2: stage-0 token audit, survivors ship the cleaned text in training order") {
    val bandedV2 = bandedOverCleaned(corpus, bench)
    val cur = TrainingSet.curateCorpus(corpus, bench, bandedV2, cat.embeddings,
      CurationPlan(spanCut = Some(SpanCut())))
    val m = cur.manifest.localCheckpoint(true)
    val audit = cur.result.audit.toMap
    assert(audit("0_input") == m.count())
    assert(audit("0a_input_tokens") ==
      m.agg(sum("n_tokens")).first().getLong(0))
    assert(audit("0b_substring_cut_tokens") ==
      m.agg(sum("sub_dup_tokens")).first().getLong(0))
    assert(audit("0b_substring_cut_tokens") > 0L,
      "the sf0.001 corpus must exhibit some substring duplication for this pin to bite")
    assert(audit("1_decontaminated") ==
      m.filter(col("decon_verdict") === "keep").count())
    assert(audit("4_mixture") == m.filter(col("keep")).count())
    // the v1 audit's index-exposure rows ride the v2 audit too (a v2
    // consumer must not lose the capped-bucket recall trace)
    assert(audit("idx_capped_member_rows") == 0L)
    assert(audit("idx_member_rows") > 0L)
    // survivors = keep set, text = the span-cleaned text, order = X47
    val docs = cur.result.docs.localCheckpoint(true)
    val keepIds = m.filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docs.select("doc_id").collect().map(_.getLong(0)).toSet == keepIds)
    val cleanText = graft.text.SubstringDedup.cleanCorpus(corpus, 10)
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      assert(r.getString(1) == cleanText(r.getLong(0)),
        s"survivor ${r.getLong(0)} must ship its cleaned text")
    }
    val pos = docs.select("shuffle_pos").collect().map(_.getLong(0)).sorted
    assert(pos.sameElements(1L to pos.length.toLong))
  }

  private def plantedDocs(rows: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t, "en") }: _*),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))
  }

  private lazy val emptyEmb: DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  test("v2 banded contract is enforced: an index built over RAW pre-clean text fails loud") {
    // doc 2 carries a non-canonical copy of a 12-token span, so its
    // CLEANED text differs from its raw text — the probe doc whose
    // signature discriminates a raw-built index from a cleaned-built one
    val s = (1 to 12).map(i => s"s$i").mkString(" ")
    def filler(tag: String, n: Int): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val corpusV = plantedDocs(Seq(
      1L -> s"$s ${filler("a", 20)}",
      2L -> s"$s ${filler("b", 20)}",
      3L -> filler("c", 25)))
    val benchV = plantedDocs(Seq(100L -> filler("z", 25)))
    // the V1 index: signatures of the RAW corpus ∪ benchmark — exactly
    // the stale artifact the v2 contract exists to reject
    val dir = Files.createTempDirectory("graft-v2prov-raw-banded").toString
    val cfg = MinHashConfig()
    MinHashDedup.writeBandedIndex(
      MinHashDedup.signatures(corpusV.unionByName(benchV), cfg), dir, cfg)
    val rawBanded = MinHashDedup.readBandedIndex(spark, dir, cfg)
    val e = intercept[IllegalArgumentException] {
      TrainingSet.curationManifest(corpusV, benchV, rawBanded, emptyEmb,
        CurationPlan(spanCut = Some(SpanCut()))).collect()
    }
    assert(e.getMessage.contains("v2 banded contract violated"),
      s"wrong failure: ${e.getMessage}")
    // the same corpus with a properly-built index passes
    val good = bandedOverCleaned(corpusV, benchV)
    assert(TrainingSet.curationManifest(corpusV, benchV, good, emptyEmb,
      CurationPlan(spanCut = Some(SpanCut()))).count() == 3L)
  }

  test("normalizeFirst catches normalization-only near-dups the raw pipeline misses") {
    // doc 11 is doc 10 up to case and Unicode composition form only:
    // 10 carries precomposed á tokens, 11 the decomposed
    // 'a' + COMBINING ACUTE form fully uppercased. Raw fingerprints (and raw
    // MinHash shingles, and raw substring windows) see two unrelated
    // documents; the CCNet normalization stage (NFC + casefold) makes
    // them byte-identical, so stage 0 cuts the non-canonical copy
    // entirely.
    // letter-run suffixes, not digits: the digit fold would otherwise
    // collapse numbered tokens into self-repeating runs and the
    // substring stage would cut WITHIN every doc
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => tag + ("q" * i)).mkString(" ")
    val base = (1 to 25).map(i => "t\u00e1" + ("b" * i)).mkString(" ")
    val variant = (1 to 25).map(i => "TA\u0301" + ("B" * i)).mkString(" ")
    val corpusV = plantedDocs(Seq(
      10L -> base, 11L -> variant,
      12L -> filler("c", 25), 13L -> filler("d", 25)))
    val benchV = plantedDocs(Seq(100L -> filler("z", 25)))

    // raw order: nothing fires — both variants ship
    val rawBanded = bandedOverCleaned(corpusV, benchV)
    val mRaw = TrainingSet.curationManifest(corpusV, benchV, rawBanded, emptyEmb,
        CurationPlan(spanCut = Some(SpanCut())))
      .select("doc_id", "sub_dup_tokens", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(mRaw(10L)._1 == 0L && mRaw(11L)._1 == 0L,
      s"raw pipeline must not see the planted pair: $mRaw")

    // normalized order: the banded contract follows the text pipeline —
    // index over cleanCorpus(normalized corpus) ∪ normalized benchmark
    val normBanded = bandedOverCleaned(
      TextAnalysis.withNormalizedText(corpusV),
      TextAnalysis.withNormalizedText(benchV))
    val mNorm = TrainingSet.curationManifest(corpusV, benchV, normBanded, emptyEmb,
        CurationPlan(spanCut = Some(SpanCut(normalizeFirst = true))))
      .select("doc_id", "n_tokens", "sub_dup_tokens", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(mNorm(10L)._2 == 0L && mNorm(10L)._3,
      s"canonical copy must survive untouched: ${mNorm(10L)}")
    assert(mNorm(11L)._2 == mNorm(11L)._1 && !mNorm(11L)._3,
      s"non-canonical copy must be fully span-cut and dropped: ${mNorm(11L)}")
    assert(mNorm(12L)._2 == 0L && mNorm(13L)._2 == 0L,
      s"neutral docs untouched: $mNorm")

    // normalizeFirst ≡ the same pipeline over pre-normalized inputs,
    // column by column — the reduction the STREAMING twin's
    // normalizeFirst flag (StreamOps.curationIngestStreamV2) relies
    // on: normalization is a stateless per-row map, so folding each
    // arriving batch equals pre-normalizing the whole corpus.
    // StreamingSpec pins stream ≡ batch for normalizeFirst = true
    // directly on top of this identity.
    val viaPre = TrainingSet.curationManifest(
        TextAnalysis.withNormalizedText(corpusV),
        TextAnalysis.withNormalizedText(benchV), normBanded, emptyEmb,
        CurationPlan(spanCut = Some(SpanCut())))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaFlag = TrainingSet.curationManifest(corpusV, benchV, normBanded, emptyEmb,
        CurationPlan(spanCut = Some(SpanCut(normalizeFirst = true))))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaFlag == viaPre,
      "normalizeFirst must equal the pipeline over withNormalizedText inputs")

    // the driver ships the same release: curateCorpus under
    // normalizeFirst returns the survivors (their normalized cleaned
    // text, in training order) and the audit of curateCorpus over
    // withNormalizedText inputs
    def shipped(plan: CurationPlan, c: DataFrame, b: DataFrame) = {
      val r = TrainingSet.curateCorpus(c, b, normBanded, emptyEmb, plan).result
      (r.docs.collect().map(_.toSeq).toSeq, r.audit)
    }
    val (docsPre, auditPre) = shipped(CurationPlan(spanCut = Some(SpanCut())),
      TextAnalysis.withNormalizedText(corpusV), TextAnalysis.withNormalizedText(benchV))
    val (docsFlag, auditFlag) = shipped(
      CurationPlan(spanCut = Some(SpanCut(normalizeFirst = true))), corpusV, benchV)
    assert(docsFlag.nonEmpty && docsFlag == docsPre,
      s"curateCorpus(normalizeFirst) survivors ≠ pre-normalized run: $docsFlag vs $docsPre")
    assert(auditFlag == auditPre,
      s"curateCorpus(normalizeFirst) audit ≠ pre-normalized run: $auditFlag vs $auditPre")
  }

  test("charTokens carries the spaceless-script cut into the v2 release pipeline") {
    def cjk(seed: Int, n: Int): String = {
      val rng = new scala.util.Random(seed)
      (1 to n).map(_ => (0x4e00 + rng.nextInt(2000)).toChar).mkString
    }
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => tag + ("q" * i)).mkString(" ")
    val base = cjk(3, 200)
    // 11 embeds 40 chars of 10 between distinct random fillers — the
    // near-dup class the word-windowed stage is structurally blind to
    val corpusV = plantedDocs(Seq(
      10L -> base,
      11L -> (cjk(91, 20) + base.substring(60, 100) + cjk(92, 20)),
      12L -> filler("c", 25), 13L -> filler("d", 25)))
    val benchV = plantedDocs(Seq(100L -> filler("z", 25)))
    // word order: stage 0 cannot see inside the one-token docs
    val mWord = TrainingSet.curationManifest(
        corpusV, benchV, bandedOverCleaned(corpusV, benchV), emptyEmb,
        CurationPlan(spanCut = Some(SpanCut())))
      .select("doc_id", "sub_dup_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mWord(11L) == 0L, s"word-windowed stage 0 must be blind: $mWord")
    // char order: the banded contract follows the text pipeline (index
    // over the char-cut cleaned text); exactly the 40 shared chars cut
    val mChar = TrainingSet.curationManifest(
        corpusV, benchV,
        bandedOverCleaned(corpusV, benchV, charTokens = true), emptyEmb,
        CurationPlan(spanCut = Some(SpanCut(charTokens = true))))
      .select("doc_id", "n_tokens", "sub_dup_tokens", "decon_verdict").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(mChar(11L)._1 == 80L && mChar(11L)._2 == 40L,
      s"char stage 0 must cut exactly the shared run: ${mChar(11L)}")
    // the canonical copy is untouched by stage 0 and passes decon; the
    // downstream word-bigram LM gate legitimately cannot score a
    // one-token doc (ppl drop) — a spaceless-aware release pairs this
    // with charK MinHash configs and a char-level LM, out of scope here
    assert(mChar(10L)._2 == 0L && mChar(10L)._3 == "keep",
      s"canonical copy untouched through decon: ${mChar(10L)}")
    // wordy docs: unit accounting and cuts identical to the word path
    assert(mChar(12L)._1 == 25L && mChar(12L)._2 == 0L && mChar(13L)._2 == 0L,
      s"wordy docs ride the word machinery unchanged: $mChar")
  }

  /** Banded index over (RUN-LEVEL cleaned corpus ∪ benchmark) under a
    * run-level MinHash config — the v2 contract for the runLevel
    * release: one text pipeline AND one signing dispatch end to end.
    */
  private def bandedOverCleanedRl(
      corp: DataFrame, bnch: DataFrame, cfg: MinHashConfig): DataFrame = {
    val cleaned = graft.text.SubstringDedup.cleanCorpusRunLevel(corp, 10)
    val v2docs = corp.drop("text")
      .join(cleaned.select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(bnch.columns.map(col): _*)
      .unionByName(bnch)
    val dir = Files.createTempDirectory("graft-curation-banded-rl").toString
    MinHashDedup.writeBandedIndex(MinHashDedup.signatures(v2docs, cfg), dir, cfg)
    MinHashDedup.readBandedIndex(spark, dir, cfg).localCheckpoint(true)
  }

  test("runLevel carries the mixed-script cut and run-aware decon into the v2 release pipeline") {
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => tag + ("q" * i)).mkString(" ")
    val run = thai(7, 60)
    val tail = thai(8, 30)
    // 10 is the homogeneous canonical holder of the 60-cp run; 11 is an
    // ASCII-majority doc EMBEDDING the same run — the class doc-level
    // charTokens is structurally blind to (11 never dispatches to char
    // units); the benchmark quotes the run too
    val corpusV = plantedDocs(Seq(
      10L -> (run + tail),
      11L -> s"${filler("a", 20)} $run ${filler("b", 15)}",
      12L -> filler("c", 25), 13L -> filler("d", 25)))
    val benchV = plantedDocs(Seq(100L -> s"${filler("z", 20)} $run"))
    val rlCfg = MinHashConfig(charK = 5, runLevel = true)
    val rlDecon = MinHashConfig(threshold = 0.5, charK = 5, runLevel = true)

    // doc-level charTokens baseline: stage 0 blind to 11's embedded run,
    // decon blind to the benchmark's (word-signed vs char-signed)
    val mCt = TrainingSet.curationManifest(
        corpusV, benchV,
        bandedOverCleaned(corpusV, benchV, charTokens = true,
          cfg = MinHashConfig(charK = 5)), emptyEmb,
        CurationPlan(DeconConfig(dedup = MinHashConfig(threshold = 0.5, charK = 5)),
          corpusDedup = MinHashConfig(charK = 5),
          spanCut = Some(SpanCut(charTokens = true))))
      .select("doc_id", "sub_dup_tokens", "near_dup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(mCt(11L)._1 == 0L, s"doc-level stage 0 must be blind to the embedded run: $mCt")
    assert(mCt.values.forall(!_._2), s"doc-level decon must miss the quote benchmark: $mCt")

    // run-level release: stage 0 cuts 11's run (10 is the char-tier
    // canonical), and the decon channel catches 10 against the
    // quote-embedding benchmark via run char-grams
    val cur = TrainingSet.curateCorpus(
      corpusV, benchV, bandedOverCleanedRl(corpusV, benchV, rlCfg), emptyEmb,
      CurationPlan(DeconConfig(dedup = rlDecon), corpusDedup = rlCfg,
        spanCut = Some(SpanCut(runLevel = true))))
    val m = cur.manifest.localCheckpoint(true)
    val rows = m.select("doc_id", "n_tokens", "sub_dup_tokens",
        "run_dup_chars", "near_dup", "decon_verdict").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getString(5)))).toMap
    assert(rows(10L) == ((90L, 0L, 0L, true, "drop")),
      s"canonical holder keeps its run and drops via run-aware near-dup decon: ${rows(10L)}")
    assert(rows(11L) == ((35L, 0L, 60L, false, "keep")),
      s"embedded run cut at stage 0, contamination removed with it: ${rows(11L)}")
    assert(rows(12L)._3 == 0L && rows(13L)._3 == 0L,
      s"wordy docs untouched by the run tier: $rows")
    // audit: the 0c row equals the manifest's run_dup_chars mass
    val audit = cur.result.audit.toMap
    assert(audit("0c_runlevel_cut_chars") == 60L,
      s"audit must carry the char-tier cut: $audit")
    assert(audit("0c_runlevel_cut_chars") ==
      m.agg(sum("run_dup_chars")).first().getLong(0))
    // survivors ship the run-level cleaned text
    val t11 = cur.result.docs.filter(col("doc_id") === 11L)
      .select("text").collect()
    t11.foreach(r => assert(r.getString(0) ==
      s"${filler("a", 20)} ${filler("b", 15)}",
      s"survivor 11 must ship its spliced+cleaned text: ${r.getString(0)}"))

    // the flags are mutually exclusive — runLevel subsumes charTokens
    val e = intercept[IllegalArgumentException] {
      TrainingSet.curationManifest(corpusV, benchV,
        bandedOverCleanedRl(corpusV, benchV, rlCfg), emptyEmb,
        CurationPlan(spanCut = Some(SpanCut(charTokens = true, runLevel = true))))
    }
    assert(e.getMessage.contains("subsumes"), e.getMessage)
  }

  test("v2 banded contract fires across the normalization boundary, both directions") {
    // corpus whose texts CHANGE under normalization (capitalized tags),
    // so the provenance probe doc's signature discriminates a raw-text
    // index from a normalized-text one
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => tag + ("Q" * i)).mkString(" ")
    val corpusV = plantedDocs(Seq(
      1L -> filler("Alpha", 25), 2L -> filler("Bravo", 25),
      3L -> filler("Carol", 25)))
    val benchV = plantedDocs(Seq(100L -> filler("Zulu", 25)))
    // a RAW-text index (correct for normalizeFirst = false) meeting the
    // normalized pipeline must fail loud — its signatures nominate
    // candidates for text that no longer exists post-fold
    val rawBanded = bandedOverCleaned(corpusV, benchV)
    val e1 = intercept[IllegalArgumentException] {
      TrainingSet.curationManifest(corpusV, benchV, rawBanded, emptyEmb,
        CurationPlan(spanCut = Some(SpanCut(normalizeFirst = true)))).collect()
    }
    assert(e1.getMessage.contains("v2 banded contract violated"),
      s"wrong failure: ${e1.getMessage}")
    // ...and a NORMALIZED-text index meeting the raw pipeline fails the
    // same way (vice versa: the index folded text the stages never see)
    val normBanded = bandedOverCleaned(
      TextAnalysis.withNormalizedText(corpusV),
      TextAnalysis.withNormalizedText(benchV))
    val e2 = intercept[IllegalArgumentException] {
      TrainingSet.curationManifest(corpusV, benchV, normBanded, emptyEmb,
        CurationPlan(spanCut = Some(SpanCut()))).collect()
    }
    assert(e2.getMessage.contains("v2 banded contract violated"),
      s"wrong failure: ${e2.getMessage}")
    // each index passes under ITS OWN text pipeline
    assert(TrainingSet.curationManifest(corpusV, benchV, rawBanded, emptyEmb,
      CurationPlan(spanCut = Some(SpanCut()))).count() == 3L)
    assert(TrainingSet.curationManifest(corpusV, benchV, normBanded, emptyEmb,
      CurationPlan(spanCut = Some(SpanCut(normalizeFirst = true)))).count() == 3L)
    // the driver ships the folded text: every curateCorpus survivor
    // under normalizeFirst carries its doc's normalized form, which
    // differs from the raw capitalized one on this corpus
    def texts(df: DataFrame) =
      df.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val raw = texts(corpusV)
    val folded = texts(TextAnalysis.withNormalizedText(corpusV))
    val shippedText = texts(TrainingSet.curateCorpus(corpusV, benchV, normBanded, emptyEmb,
      CurationPlan(spanCut = Some(SpanCut(normalizeFirst = true)))).result.docs)
    assert(shippedText.nonEmpty && shippedText.forall { case (id, t) =>
      t == folded(id) && t != raw(id) }, s"survivors must ship normalized text: $shippedText")
  }
}
