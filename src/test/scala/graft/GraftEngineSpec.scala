package graft

import graft.core.Canonical

/** Facade behavior: all three access styles agree on the certified
  * hashes and unknown ids fail loudly.
  */
class GraftEngineSpec extends SparkSpec {

  lazy val engine: GraftEngine = GraftEngine(spark, sf01)

  test("sql (E1), ops (E2), and graft_dot SQL agree with the contract") {
    assert(Canonical.hash16(engine.sql(Contract.byId("A01").sparkSql)) == Contract.hash01("A01"))
    assert(Canonical.hash16(engine.ops("A01")) == Contract.hash01("A01"))
    val viaNative = engine.sql("""
      SELECT b.vec_id, ROUND(graft_dot(a.embedding, b.embedding), 6) AS cos
      FROM embeddings a CROSS JOIN embeddings b
      WHERE a.vec_id = 0 AND b.vec_id <> 0
      ORDER BY cos DESC, b.vec_id LIMIT 5""")
    assert(Canonical.hash16(viaNative) == Contract.hash01("L06"))
  }

  test("ops lists all 55 contract ids and rejects unknown ids") {
    assert(engine.opIds.size == 55)
    assert(Contract.all.map(_.id).forall(engine.opIds.contains))
    intercept[IllegalArgumentException](engine.ops("NOPE"))
  }

  test("facade pipeline surface: dedup clusters, decontamination, PII, quantization, media") {
    import org.apache.spark.sql.functions._
    val clusters = engine.dedupClusters()
    assert(clusters.columns.toSeq == Seq("doc_id", "cluster_id"))
    val bench = engine.tables.documents.filter(col("source") === "src0")
    val cont = engine.decontaminate(bench)
    assert(cont.filter(col("overlap_frac") > 1.0).isEmpty, "fractions must be <= 1")
    assert(engine.piiStats().count() == 20) // one row per source
    val qt = engine.quantizeEmbeddings()
    assert(qt.schema("q").dataType.simpleString == "array<tinyint>")
    assert(engine.audioFeatures().limit(5).count() == 5)
    assert(engine.clipFrameFeatures().limit(5).count() == 5)
    val winners = engine.qualityAwareWinners(clusters)
    assert(winners.columns.toSeq == Seq("cluster_id", "keep_id", "n_uniq", "n_members"))
    assert(winners.count() == clusters.select("cluster_id").distinct().count())
    assert(engine.domainStats().isEmpty) // zero-URL synthetic corpus
    val plan = engine.epochPlan("source", budgetTokens = 1000000L, alpha = 0.5)
    assert(plan.count() == 20 && plan.columns.contains("epochs"))
    val cut = engine.budgetCut(budgetTokens = 5000L)
    assert(cut.count() > 0 && cut.agg(max("cum_tokens")).first().getLong(0) >= 5000L)
    // round-10 surface: span rule, source matrix, curriculum, containment
    val span = engine.maxOverlapSpan(bench)
    assert(span.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_hits", "max_span_tokens"))
    assert(span.filter(col("max_span_tokens") > col("n_tokens")).isEmpty)
    val mat = engine.crossSourceDupMatrix(
      graft.text.MinHashDedup.verifiedPairs(engine.tables.documents))
    assert(mat.filter(col("source_a") > col("source_b")).isEmpty,
      "matrix keys must be unordered-normalized")
    val cur = engine.curriculumOrder()
    assert(cur.count() == 500 &&
      cur.agg(countDistinct("stage")).first().getLong(0) == 4L)
    assert(engine.containmentPairs().columns.toSeq ==
      Seq("i", "j", "containment", "jac"))
    val drift = engine.unigramDrift(bench)
    assert(drift.count() == 2 &&
      drift.filter(col("kl") <= 0.0 || col("tv") <= 0.0).isEmpty)
    // round-13 surface: substring dedup (facade default = hashed scale
    // path, pinned ≡ the string-keyed oracle twin in SubstringDedupSpec)
    val spans = engine.substringDupSpans()
    assert(spans.columns.toSeq ==
      Seq("doc_id", "span_start", "span_end", "span_tokens"))
    val clean = engine.substringDedup()
    assert(clean.count() == 500 &&
      clean.filter(col("dup_tokens") > col("n_tokens")).isEmpty)
    // v2 curation: substring dedup as stage 0 — one manifest row per
    // corpus doc, stage-0 accounting bounded by the doc's own tokens
    val corpusV2 = engine.tables.documents.filter(col("source") =!= "src0")
    val cleanedDocs = corpusV2.drop("text").join(
      graft.text.SubstringDedup.cleanCorpus(corpusV2, 10)
        .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(bench.columns.map(col): _*).unionByName(bench)
    val v2dir = java.nio.file.Files.createTempDirectory("graft-engine-v2b").toString
    val v2cfg = graft.text.MinHashConfig()
    graft.text.MinHashDedup.writeBandedIndex(
      graft.text.MinHashDedup.signatures(cleanedDocs, v2cfg), v2dir, v2cfg)
    val v2banded = graft.text.MinHashDedup.readBandedIndex(spark, v2dir, v2cfg)
    val v2 = engine.curationManifest(corpusV2, bench, v2banded,
      graft.pipeline.CurationPlan(spanCut = Some(graft.pipeline.SpanCut())))
    assert(v2.count() == corpusV2.count())
    assert(v2.filter(col("sub_dup_tokens") > col("n_tokens")).isEmpty)
    assert(v2.columns.take(3).toSeq == Seq("doc_id", "n_tokens", "sub_dup_tokens"))
  }

  test("facade index surface: build once, probe and dedup from the artifacts") {
    val root = java.nio.file.Files.createTempDirectory("graft_engine_idx").toString
    engine.buildIvfIndex(s"$root/ivf", nLists = 8)
    val probeVec = engine.tables.embeddings
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    assert(engine.probeIvf(s"$root/ivf", probeVec, k = 3, nProbe = 8).count() == 3)
    engine.buildMinHashSignatures(s"$root/sigs")
    val winners = engine.dedupFromSignatures(s"$root/sigs").count()
    assert(winners > 0 && winners <= engine.tables.documents.count())
    // the residual (IVFADC) tier composes the same way: build once,
    // search from the persisted artifact, full probe returns k rows
    // per query with the query's own vector excluded
    engine.buildResidualPqIndex(s"$root/pqr", nLists = 8, kmeansIters = 2)
    val q = engine.tables.embeddings
      .filter(org.apache.spark.sql.functions.col("vec_id") < 2)
      .select(
        org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val hits = engine.ivfAdcSearch(s"$root/pqr", q, k = 3, nProbe = 8)
    assert(hits.count() == 6)
    assert(hits.filter(
      org.apache.spark.sql.functions.col("query_id") ===
        org.apache.spark.sql.functions.col("vec_id")).isEmpty)
    // the deployable two-stage serve over the same artifact: adaptive
    // shortlist + exact re-rank, k rows per query, self excluded
    val served = engine.ivfAdcServe(s"$root/pqr", q, k = 3, nProbe = 8)
    assert(served.count() == 6)
    assert(served.filter(
      org.apache.spark.sql.functions.col("query_id") ===
        org.apache.spark.sql.functions.col("vec_id")).isEmpty)
    // recall-targeted serve: the calibration picks a budget from the
    // curve and the result is the plain serve at that budget
    val cal = engine.ivfAdcServeAtRecall(s"$root/pqr", q, q, k = 3,
      target = 0.5, budgets = Seq(1, 2, 8))
    assert(Seq(1, 2, 8).contains(cal.nProbe)
      && cal.expectedRecall >= 0.0 && cal.expectedRecall <= 1.0)
    assert(cal.result.collect().toSeq ==
      engine.ivfAdcServe(s"$root/pqr", q, k = 3, nProbe = cal.nProbe)
        .collect().toSeq)
    // OPQ: build once, search from the persisted rotation+codebook+codes
    engine.buildOpqIndex(s"$root/opq", ks = 8, iters = 2, opqIters = 1)
    val ohits = engine.opqSearch(s"$root/opq", q, k = 3)
    assert(ohits.count() == 6)
    assert(ohits.filter(
      org.apache.spark.sql.functions.col("query_id") ===
        org.apache.spark.sql.functions.col("vec_id")).isEmpty)
  }
}
