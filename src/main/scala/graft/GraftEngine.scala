package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Engine
import graft.functions.VectorFunctions
import graft.ops.Catalog
import graft.sources.Tables

/** The user-facing facade — what a user of the reference engine would
  * switch to. One object wires the three entry points (SURVEY.md §3):
  *
  *   val engine = GraftEngine(spark, "/data/sf0.1")
  *   engine.sql("SELECT ... FROM lineitem ...")          // E1
  *   engine.tables.lineitem.groupBy(...)...              // E2
  *   engine.ops("A01")                                   // named contract op
  *   graft.streaming.StreamOps.eventsStream(spark, dir)  // E3
  *
  * Construction registers the ten tables as temp views and the native
  * SQL functions (graft_dot), and applies the required session confs.
  */
final class GraftEngine private (val spark: SparkSession, val dir: String) {

  /** Typed table access (E2). */
  val tables: Catalog = Catalog(spark, dir)

  /** SQL over the registered table views (E1). */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Run a named operator from the certified inventory (SURVEY §2.4). */
  def ops(id: String): DataFrame =
    graft.ops.DfContract.all.get(id) match {
      case Some(fn) => fn(tables)
      case None => throw new IllegalArgumentException(
        s"unknown operator id: $id (known: ${graft.ops.DfContract.all.keys.toSeq.sorted.mkString(", ")})")
    }

  /** All operator ids available through [[ops]]. */
  def opIds: Seq[String] = graft.ops.DfContract.all.keys.toSeq.sorted

  // ---- persisted-index surface (build once, probe cheaply) ----------

  /** Build the IVF similarity index at `path` (vectors partitioned by
    * centroid list; probes prune to nProbe lists).
    */
  def buildIvfIndex(path: String, nLists: Int = 16, kmeansIters: Int = 0): Unit =
    graft.vector.Ivf.writeIndex(tables.embeddings, path, nLists, kmeansIters)

  /** Top-k cosine probe against a built IVF index. */
  def probeIvf(path: String, probeVec: Array[Float], k: Int, nProbe: Int = 4): DataFrame =
    graft.vector.Ivf.probeIndex(spark, path, probeVec, k, nProbe)

  /** Build the sign-LSH similarity index at `path` (vectors partitioned
    * by bucket; probes prune to the multi-probe bucket set).
    */
  def buildAnnIndex(path: String, nPlanes: Int = 8, seed: Long = 42L): Unit =
    graft.vector.Ann.writeIndex(tables.embeddings, path, nPlanes, seed)

  /** Top-k cosine probe against a built LSH index (same nPlanes/seed as
    * the build).
    */
  def probeAnn(path: String, probeVec: Array[Float], k: Int,
      nPlanes: Int = 8, probeRadius: Int = 2, seed: Long = 42L): DataFrame =
    graft.vector.Ann.probeIndex(spark, path, probeVec, k, nPlanes, probeRadius, seed)

  /** Persist the MinHash signature table — the expensive pass of near-
    * dup dedup, paid once.
    */
  def buildMinHashSignatures(path: String): Unit =
    graft.text.MinHashDedup.writeSignatures(tables.documents, path)

  /** Near-dup dedup winners starting from a persisted signature table. */
  def dedupFromSignatures(path: String): DataFrame =
    graft.text.MinHashDedup.dedupWinners(tables.documents,
      sigs = Some(graft.text.MinHashDedup.readSignatures(spark, path)))

  /** Persist the banded member table as a BUCKETED catalog table —
    * repeat dedup runs plan candidate generation with zero shuffle
    * exchanges (the table is bucketed+sorted on the join key).
    */
  def buildBandedIndexTable(sigPath: String, tableName: String, numBuckets: Int = 32): Unit =
    graft.text.MinHashDedup.writeBandedIndexTable(
      graft.text.MinHashDedup.readSignatures(spark, sigPath), tableName, numBuckets)

  /** Near-dup dedup winners off a bucketed banded-index table. */
  def dedupFromBandedIndexTable(tableName: String): DataFrame =
    graft.text.MinHashDedup.dedupWinnersFromBucketed(tables.documents,
      graft.text.MinHashDedup.readBandedIndexTable(spark, tableName))

  // ---- training-data pipeline surface -------------------------------

  /** Deterministic pseudo-random training order (corpus shuffle):
    * every document's 1-based position, stable across runs/engines.
    */
  def shuffleOrder(seed: Long = 42L): DataFrame =
    graft.ops.Scale.shuffleOrder(tables.documents, "doc_id", seed)

  /** Resample the corpus to a target language/domain mixture (largest
    * no-upsampling subset matching the ratios).
    */
  def mixtureResample(strata: String, targets: Map[String, Double],
      seed: Long = 42L): DataFrame =
    graft.ops.Scale.mixtureResample(tables.documents, "doc_id", strata, targets, seed)

  /** Transitive duplicate clusters over the verified near-dup graph
    * (large-star/small-star — O(log n) rounds on any topology).
    */
  def dedupClusters(): DataFrame =
    graft.ops.ConnectedComponents.components(
      graft.text.MinHashDedup.verifiedPairs(tables.documents))

  /** Quality-aware winner per duplicate cluster: keep the member with
    * the most distinct tokens (min doc_id tie) instead of min-id.
    */
  def qualityAwareWinners(clusters: DataFrame): DataFrame =
    graft.text.MinHashDedup.qualityAwareWinners(tables.documents, clusters)

  /** Per-domain URL audit: hit + distinct-citing-doc counts, top-k. */
  def domainStats(k: Int = 50): DataFrame =
    graft.text.TextAnalysis.domainStats(tables.documents, k)

  /** Token-budget epoch plan: per-stratum temperature-flattened budget
    * shares and the epoch count each stratum repeats to fill them.
    */
  def epochPlan(strata: String, budgetTokens: Long, alpha: Double): DataFrame =
    graft.pipeline.TrainingSet.epochPlan(tables.documents, strata, budgetTokens, alpha)

  /** Budget-cut snapshot: the documents a fixed token budget sees, in
    * deterministic shuffle order (distributed prefix sum).
    */
  def budgetCut(budgetTokens: Long, seed: Long = 42L): DataFrame =
    graft.pipeline.TrainingSet.budgetCut(tables.documents, budgetTokens, seed)

  /** The epoch plan MATERIALIZED as the repeated training stream:
    * (doc_id, strata, epoch) rows, full repeats + coin-selected
    * residual (see [[graft.pipeline.TrainingSet.epochExpand]]).
    */
  def epochExpand(strata: String, budgetTokens: Long, alpha: Double,
      seed: Long = 42L): DataFrame =
    graft.pipeline.TrainingSet.epochExpand(
      tables.documents, strata, budgetTokens, alpha, seed)

  /** Leak-free train/val/test split keyed on near-dup cluster ids —
    * no verified pair ever crosses a boundary (see
    * [[graft.pipeline.TrainingSet.leakFreeSplit]]).
    */
  def leakFreeSplit(pairs: DataFrame, weights: Seq[(String, Double)],
      seed: Long = 42L): DataFrame =
    graft.pipeline.TrainingSet.leakFreeSplit(
      tables.documents, pairs, weights, seed)

  /** CCNet-style head/middle/tail buckets over the bigram-LM rank. */
  def perplexityBuckets(nBuckets: Int = 3): DataFrame =
    graft.text.TextAnalysis.perplexityBuckets(tables.documents, nBuckets)

  /** Cluster-stratified diversity sample: k vectors per k-means
    * cluster, smallest portable coins win (semantic-coverage subset).
    */
  def diversitySample(cents: DataFrame, k: Int, seed: Long = 42L): DataFrame =
    graft.vector.SemDedup.diversitySample(tables.embeddings, cents, k, seed)

  /** Per-doc n-gram overlap against a held-out benchmark set — drop
    * rows above your contamination threshold before training.
    */
  def decontaminate(benchmark: DataFrame, n: Int = 5): DataFrame =
    graft.text.TextAnalysis.contaminationScores(tables.documents, benchmark, n)

  /** Unified three-channel contamination verdict (verbatim n-gram +
    * MinHash near-dup + embedding cosine) against a benchmark, given
    * the persisted banded index (see
    * [[graft.pipeline.TrainingSet.decontaminationReport]]).
    */
  def decontaminationReport(benchmark: DataFrame,
      banded: DataFrame): DataFrame =
    graft.pipeline.TrainingSet.decontaminationReport(
      tables.documents, benchmark, banded, tables.embeddings)

  /** Per-document manifest of the composed batch curation pipeline
    * (decontaminate → near-dup star → perplexity gate → mixture; see
    * [[graft.pipeline.TrainingSet.curationManifest]]).
    */
  def curationManifest(corpus: DataFrame, benchmark: DataFrame,
      banded: DataFrame): DataFrame =
    graft.pipeline.TrainingSet.curationManifest(
      corpus, benchmark, banded, tables.embeddings)

  /** The one-call batch curation driver: materialized manifest + audit
    * counts + survivors in training order, ready for
    * [[graft.pipeline.TrainingSet.writeChunks]] (see
    * [[graft.pipeline.TrainingSet.curateCorpus]]).
    */
  def curateCorpus(corpus: DataFrame, benchmark: DataFrame,
      banded: DataFrame): graft.pipeline.CurationResult =
    graft.pipeline.TrainingSet.curateCorpus(
      corpus, benchmark, banded, tables.embeddings)

  /** [[curationManifest]] with exact substring-level dedup as STAGE 0:
    * duplicated token spans are cut from the corpus text first and
    * every later stage runs over the span-cleaned text. `banded` must
    * be built over (cleaned corpus ∪ benchmark) — see
    * [[graft.pipeline.TrainingSet.curationManifestV2]]. Set
    * `hashWindowKeys = true` at scale so the stage-0 shuffle carries
    * 8-byte hashes instead of window text.
    */
  def curationManifestV2(corpus: DataFrame, benchmark: DataFrame,
      banded: DataFrame, windowTokens: Int = 10,
      hashWindowKeys: Boolean = false): DataFrame =
    graft.pipeline.TrainingSet.curationManifestV2(
      corpus, benchmark, banded, tables.embeddings, windowTokens,
      hashWindowKeys)

  /** The one-call v2 curation driver — [[curateCorpus]] with substring
    * dedup in front; survivors ship the span-cleaned text (see
    * [[graft.pipeline.TrainingSet.curateCorpusV2]]).
    */
  def curateCorpusV2(corpus: DataFrame, benchmark: DataFrame,
      banded: DataFrame, windowTokens: Int = 10,
      hashWindowKeys: Boolean = false): graft.pipeline.CurationResult =
    graft.pipeline.TrainingSet.curateCorpusV2(
      corpus, benchmark, banded, tables.embeddings, windowTokens,
      hashWindowKeys)

  /** Corpus in, training batches out — the full release pipeline in
    * one call: [[curateCorpus]] (decontaminate → near-dup star →
    * perplexity gate → mixture), then the bin-partitioned model-batch
    * writer ([[graft.pipeline.TrainingSet.writeBinnedChunks]]) over
    * the survivors in deterministic training order. Writes the per-doc
    * manifest alongside the batches (`outDir/manifest`) — the "why is
    * doc X in the training set" record ships with the data. Returns
    * the curation result (manifest + audit).
    */
  def curateAndWrite(corpus: DataFrame, benchmark: DataFrame,
      banded: DataFrame, outDir: String,
      maxTokens: Int = 2048, stride: Int = 2048,
      binTokens: Long = 1 << 20): graft.pipeline.CurationResult = {
    val cur = curateCorpus(corpus, benchmark, banded)
    graft.pipeline.TrainingSet.writeBinnedChunks(
      cur.result, s"$outDir/batches", maxTokens, stride, binTokens)
    cur.manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    cur
  }

  /** [[curateAndWrite]] with substring dedup in front — the complete
    * v2 release run in one call: span cut → verdict stages →
    * bin-partitioned model batches over the survivors' CLEANED text,
    * manifest (incl. the stage-0 token accounting) written alongside.
    * `banded` must be built over (cleaned corpus ∪ benchmark).
    */
  def curateAndWriteV2(corpus: DataFrame, benchmark: DataFrame,
      banded: DataFrame, outDir: String,
      windowTokens: Int = 10, hashWindowKeys: Boolean = false,
      maxTokens: Int = 2048, stride: Int = 2048,
      binTokens: Long = 1 << 20): graft.pipeline.CurationResult = {
    val cur = curateCorpusV2(corpus, benchmark, banded, windowTokens,
      hashWindowKeys)
    graft.pipeline.TrainingSet.writeBinnedChunks(
      cur.result, s"$outDir/batches", maxTokens, stride, binTokens)
    cur.manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    cur
  }

  /** Longest consecutive benchmark n-gram run per doc — the GPT-3-style
    * span rule (see [[graft.text.TextAnalysis.maxBenchmarkOverlapSpan]]).
    */
  def maxOverlapSpan(benchmark: DataFrame, n: Int = 5): DataFrame =
    graft.text.TextAnalysis.maxBenchmarkOverlapSpan(tables.documents, benchmark, n)

  /** Near-dup pair counts by unordered source pair — where duplication
    * lives (see [[graft.text.MinHashDedup.crossSourceDupMatrix]]).
    */
  def crossSourceDupMatrix(pairs: DataFrame): DataFrame =
    graft.text.MinHashDedup.crossSourceDupMatrix(tables.documents, pairs)

  /** Easiest-first curriculum order with NTILE stage cuts (see
    * [[graft.pipeline.TrainingSet.curriculumOrder]]).
    */
  def curriculumOrder(nStages: Int = 4): DataFrame =
    graft.pipeline.TrainingSet.curriculumOrder(tables.documents, nStages)

  /** Asymmetric n-gram containment pairs — a doc embedded in a larger
    * one (see [[graft.text.TextAnalysis.ngramContainmentPairs]]).
    */
  def containmentPairs(n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = 50): DataFrame =
    graft.text.TextAnalysis.ngramContainmentPairs(
      tables.documents, n, threshold, maxDf)

  /** Smoothed unigram KL/TV drift vs a frozen reference snapshot (see
    * [[graft.text.TextAnalysis.unigramDrift]]).
    */
  def unigramDrift(reference: DataFrame): DataFrame =
    graft.text.TextAnalysis.unigramDrift(tables.documents, reference)

  /** Per-source PII hit totals (email/url/ipv4/phone). */
  def piiStats(): DataFrame = graft.text.TextAnalysis.piiStats(tables.documents)

  /** Corpus-wide segment (line/paragraph) dedup — boilerplate segments
    * survive only at their first (doc_id, position) occurrence.
    */
  def segmentDedup(sep: String = "\n"): DataFrame =
    graft.text.TextAnalysis.segmentDedup(tables.documents, sep)

  /** Gopher-style repetition quality signals per document. */
  def repetitionStats(): DataFrame =
    graft.text.TextAnalysis.repetitionStats(tables.documents)

  /** Sliding context-window chunks (overlapping when stride < maxTokens). */
  def chunkDocuments(maxTokens: Int, stride: Int): DataFrame =
    graft.text.TextAnalysis.chunkDocuments(tables.documents, maxTokens, stride)

  /** Ordered conversion funnel / hour-over-hour cohort retention over
    * the events table.
    */
  def funnel(stages: Seq[String]): DataFrame =
    graft.ops.EventAnalytics.funnel(tables.events, stages)
  def retention(): DataFrame =
    graft.ops.EventAnalytics.hourlyRetention(tables.events)

  /** Top-k corpus neighbors for every row of a query embedding table
    * (exact; the LSH-bucketed scale path is `Ann.annKnnJoin`).
    */
  def knnJoin(queries: DataFrame, k: Int): DataFrame =
    graft.vector.Ann.knnJoin(queries, tables.embeddings, k)

  /** int8-quantized embedding table (4× smaller; see
    * [[graft.vector.Quantize]] for the error-bounded two-stage scan).
    */
  def quantizeEmbeddings(): DataFrame =
    graft.vector.Quantize.quantize(tables.embeddings)

  /** Per-cluster membership + coherence profile for a trained
    * clustering (see [[graft.vector.SemDedup.clusterProfile]]).
    */
  def clusterProfile(cents: DataFrame): DataFrame =
    graft.vector.SemDedup.clusterProfile(tables.embeddings, cents)

  /** SemDeDup cluster-blocked semantic near-duplicates (see
    * [[graft.vector.SemDedup.semanticDedup]]).
    */
  def semanticDedup(cents: DataFrame, threshold: Double): DataFrame =
    graft.vector.SemDedup.semanticDedup(tables.embeddings, cents, threshold)

  /** Dedup audit report over a duplicate-cluster table (see
    * [[graft.text.MinHashDedup.dedupReport]]).
    */
  def dedupReport(clusters: DataFrame): DataFrame =
    graft.text.MinHashDedup.dedupReport(tables.documents, clusters)

  /** DSIR importance weights of every corpus document against a target
    * seed corpus (see [[graft.text.Dsir.importanceWeights]]).
    */
  def importanceWeights(target: DataFrame): DataFrame =
    graft.text.Dsir.importanceWeights(tables.documents, target)

  /** Per-doc DEFLATE compression-ratio quality signal (see
    * [[graft.text.TextAnalysis.compressionStats]]).
    */
  def compressionStats(): DataFrame =
    graft.text.TextAnalysis.compressionStats(tables.documents)

  /** Rewrite corpus docs with cross-doc-shared n-gram spans removed —
    * the exact-substring dedup transform (see
    * [[graft.text.TextAnalysis.removeSharedSpans]]).
    */
  def removeSharedSpans(n: Int = 5): DataFrame =
    graft.text.TextAnalysis.removeSharedSpans(tables.documents, n)

  /** Rewrite corpus docs with benchmark-overlapping n-gram spans cut —
    * surgical decontamination (see
    * [[graft.text.TextAnalysis.scrubBenchmarkSpans]]).
    */
  def scrubBenchmarkSpans(benchmark: DataFrame, n: Int = 5): DataFrame =
    graft.text.TextAnalysis.scrubBenchmarkSpans(tables.documents, benchmark, n)

  /** Maximal duplicated token spans, each window's canonical first
    * occurrence exempt (see [[graft.text.SubstringDedup]] — the
    * keep-one-copy complement of [[removeSharedSpans]]). Defaults to
    * the hashed shuffle key, the 100 TB path.
    */
  def substringDupSpans(minTokens: Int = 10, hashKeys: Boolean = true): DataFrame =
    graft.text.SubstringDedup.duplicatedSpans(tables.documents, minTokens, hashKeys)

  /** The corpus with duplicated spans cut, exactly one canonical copy
    * of every repeated run kept (see
    * [[graft.text.SubstringDedup.cleanCorpus]]).
    */
  def substringDedup(minTokens: Int = 10, hashKeys: Boolean = true): DataFrame =
    graft.text.SubstringDedup.cleanCorpus(tables.documents, minTokens, hashKeys)

  /** Per-doc bigram-LM fluency score under the corpus's own bigram
    * model (see [[graft.text.TextAnalysis.bigramLogProb]]).
    */
  def bigramLogProb(): DataFrame =
    graft.text.TextAnalysis.bigramLogProb(tables.documents)

  /** Source-affinity LM matrix: every source's docs scored under every
    * source's bigram LM (see
    * [[graft.text.TextAnalysis.sourceLmMatrix]]).
    */
  def sourceLmMatrix(): DataFrame =
    graft.text.TextAnalysis.sourceLmMatrix(tables.documents)

  /** Vocabulary-novelty curve over equal-count corpus buckets (see
    * [[graft.text.TextAnalysis.noveltyCurve]]).
    */
  def noveltyCurve(nBuckets: Int = 20): DataFrame =
    graft.text.TextAnalysis.noveltyCurve(tables.documents, nBuckets)

  /** Pairwise unigram KL / total-variation between hash-split slices
    * (see [[graft.text.TextAnalysis.splitDivergence]]).
    */
  def splitDivergence(weights: Seq[(String, Double)],
      seed: Long = 42L): DataFrame =
    graft.text.TextAnalysis.splitDivergence(tables.documents, weights, seed)

  /** Zipf rank-frequency OLS fit over the top-`topV` word types (see
    * [[graft.text.TextAnalysis.zipfFit]]).
    */
  def zipfFit(topV: Int = 500): DataFrame =
    graft.text.TextAnalysis.zipfFit(tables.documents, topV)

  /** Embedding-space eval-contamination audit over the md5 split (see
    * [[graft.vector.Ann.semanticLeakage]]).
    */
  def semanticLeakage(evalFrac: Double, threshold: Double,
      k: Int = 1): DataFrame =
    graft.vector.Ann.semanticLeakage(tables.embeddings, evalFrac, threshold, k)

  /** Fixed-size weighted sample without replacement, weights from any
    * per-doc column expression (see [[graft.ops.Scale.weightedSample]]).
    */
  def weightedSample(weight: org.apache.spark.sql.Column, k: Int,
      seed: Long = 42L): DataFrame =
    graft.ops.Scale.weightedSample(tables.documents, "doc_id", weight, k, seed)

  /** Decode + featurize media payloads (PNG/JPEG), audio (WAV) and
    * frame containers synthesized from the documents table — the
    * multimodal plumbing entry points.
    */
  def mediaFeatures(): DataFrame =
    graft.media.MediaPipeline.mediaFeatures(spark, tables.documents)
  def audioFeatures(): DataFrame =
    graft.media.AudioPipeline.audioFeatures(tables.documents)
  def clipFrameFeatures(everyK: Int = 2): DataFrame =
    graft.media.ClipPipeline.frameFeatures(tables.documents, everyK)

  /** Perceptual-hash (dHash64) table over the synthesized media column
    * (see [[graft.media.MediaPipeline.perceptualHashes]]).
    */
  def perceptualHashes(): DataFrame =
    graft.media.MediaPipeline.perceptualHashes(
      graft.media.MediaPipeline.toMediaTable(tables.documents))

  /** Build + persist the RESIDUAL PQ artifact (IVFADC proper, see
    * [[graft.vector.Pq.writeResidualIndex]]): the coarse quantizer is
    * the hash-sampled start refined by `kmeansIters` rounds of plain
    * L2-Lloyd ([[graft.vector.Ivf.refineCentroidsL2]] — the metric the
    * residual tier quantizes), persisted inside the artifact.
    */
  def buildResidualPqIndex(
      path: String, nLists: Int = 16, kmeansIters: Int = 4,
      m: Int = 8, ks: Int = 16, iters: Int = 3): Unit = {
    val dim = tables.embeddings
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")))
      .first().getInt(0)
    val cents = graft.vector.Ivf.refineCentroidsL2(
      tables.embeddings,
      graft.vector.Ivf.centroids(tables.embeddings, nLists),
      kmeansIters, dim)
    graft.vector.Pq.writeResidualIndex(
      tables.embeddings, cents, path, m, ks, iters, dim)
  }

  /** IVFADC search over a residual PQ artifact (see
    * [[graft.vector.Pq.ivfAdcResidualTopK]]); recall audit = feed the
    * result to [[graft.vector.Pq.recallAtK]].
    */
  def ivfAdcSearch(indexPath: String, queries: DataFrame, k: Int,
      nProbe: Int = 4, dsub: Int = 8): DataFrame =
    graft.vector.Pq.ivfAdcResidualTopK(
      spark.read.parquet(s"$indexPath/codes"),
      spark.read.parquet(s"$indexPath/codebook"),
      spark.read.parquet(s"$indexPath/cents"),
      queries, k, nProbe, dsub)

  /** The deployable two-stage read path over a residual PQ artifact:
    * IVFADC nominates an ADAPTIVE per-query shortlist
    * ([[graft.vector.Pq.adaptiveShortlist]] — R grows with nProbe so
    * "probe more" is a safe recall knob), then the exact re-rank over
    * the raw corpus vectors keeps the true top-k among them (see
    * [[graft.vector.Pq.ivfAdcServe]]).
    */
  def ivfAdcServe(indexPath: String, queries: DataFrame, k: Int,
      nProbe: Int = 4, dsub: Int = 8,
      rPerProbe: Int = 16, rMin: Int = 50): DataFrame =
    graft.vector.Pq.ivfAdcServe(
      spark.read.parquet(s"$indexPath/codes"),
      spark.read.parquet(s"$indexPath/codebook"),
      spark.read.parquet(s"$indexPath/cents"),
      queries, tables.embeddings, k, nProbe, dsub, rPerProbe, rMin)

  /** The recall-TARGETED two-stage serve: calibrate the probe-budget
    * operating curve on a labeled `sample`, pick the cheapest budget
    * whose micro-averaged recall meets `target` (largest calibrated
    * budget when none does), then serve `queries` at that budget — see
    * [[graft.vector.Pq.ivfAdcServeAtRecall]]. Returns the chosen
    * (nProbe, shortlist, expectedRecall) alongside the result so the
    * operator can log what the calibration decided.
    */
  def ivfAdcServeAtRecall(indexPath: String, sample: DataFrame,
      queries: DataFrame, k: Int, target: Double,
      budgets: Seq[Int] = Seq(1, 2, 4, 8, 16), dsub: Int = 8,
      rPerProbe: Int = 16, rMin: Int = 50): graft.vector.Pq.CalibratedServe =
    graft.vector.Pq.ivfAdcServeAtRecall(
      spark.read.parquet(s"$indexPath/codes"),
      spark.read.parquet(s"$indexPath/codebook"),
      spark.read.parquet(s"$indexPath/cents"),
      sample, queries, tables.embeddings, k, target, budgets, dsub,
      rPerProbe, rMin)

  /** Build + persist the OPQ artifact (learned-rotation PQ, Ge et al.
    * CVPR 2013 — see [[graft.vector.Opq.writeIndex]]): rotation +
    * codebook + codes at the same m·ks budget as the plain PQ artifact
    * ([[graft.vector.Pq.writeIndex]]).
    */
  def buildOpqIndex(path: String, m: Int = 8, ks: Int = 16,
      iters: Int = 3, opqIters: Int = 3): Unit = {
    val dim = tables.embeddings
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")))
      .first().getInt(0)
    graft.vector.Opq.writeIndex(tables.embeddings, path, m, ks, iters,
      dim, opqIters)
  }

  /** ADC top-k over an OPQ artifact — queries rotate through the
    * persisted rotation, then the ordinary codegen'd ADC scan (see
    * [[graft.vector.Opq.adcTopK]]).
    */
  def opqSearch(indexPath: String, queries: DataFrame, k: Int,
      dsub: Int = 8): DataFrame =
    graft.vector.Opq.adcTopK(
      spark.read.parquet(s"$indexPath/codes"),
      spark.read.parquet(s"$indexPath/codebook"),
      spark.read.parquet(s"$indexPath/rotation"),
      queries, k, dsub)

  /** Ratio-margin pair mining between two embedded sets (see
    * [[graft.vector.Ann.marginMinedPairs]]).
    */
  def marginMinedPairs(a: DataFrame, b: DataFrame, k: Int = 4,
      threshold: Double = 1.02): DataFrame =
    graft.vector.Ann.marginMinedPairs(a, b, k, threshold)
}

object GraftEngine {
  def apply(spark: SparkSession, dir: String): GraftEngine = {
    Engine.configure(spark)
    Tables.registerAll(spark, dir)
    VectorFunctions.register(spark)
    new GraftEngine(spark, dir)
  }
}
