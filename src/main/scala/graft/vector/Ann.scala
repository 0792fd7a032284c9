package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot

/** Similarity search over an `array<float>` embedding column.
  *
  * Two paths (SURVEY.md §4.3.2 pattern):
  *   - [[bruteForceTopK]]: exact — one pass over all vectors with the
  *     codegen'd dot product, top-k via TakeOrderedAndProject (per-
  *     partition heaps, k rows to the driver). The correctness baseline
  *     and fine up to ~10^8 vectors × small k.
  *   - [[writeIndex]] + [[probeIndex]]: sign-random-projection LSH —
  *     each vector is bucketed by the sign pattern of `nPlanes` fixed
  *     hyperplane projections and persisted partitioned by bucket; a
  *     query probes every bucket within Hamming distance `probeRadius`
  *     of its own (multi-probe LSH), then scores candidates exactly.
  *     Candidates shrink by ~2^nPlanes / sum_{d<=r} C(nPlanes, d)
  *     versus brute force.
  *
  * Hyperplanes are deterministic (fixed-seed Gaussian) so bucketing is
  * reproducible across runs and engines.
  */
object Ann {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Deterministic Gaussian hyperplanes: nPlanes × dim float32. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian().toFloat))
  }

  /** Embedding dimensionality measured from the data (one 1-row job at
    * plan-build time). Hyperplanes generated for this dim always match
    * the vectors they project — a mismatched corpus surfaces as NULL dot
    * products (DotProduct's length check) instead of silently degraded
    * recall.
    */
  def dimOf(embeddings: DataFrame): Int =
    embeddings.select(size(col("embedding"))).first().getInt(0)

  /** The single-probe cosine ranking every one-vector search ends in:
    * `round(probe · embedding, 6)` descending, `vec_id` tiebreak, first
    * `k` — (vec_id, cos) rows, reproducible across engines.
    */
  private[vector] def topKByCos(cands: DataFrame, probe: Column, k: Int): DataFrame =
    cands.select(col("vec_id"), round(dot(probe, col("embedding")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  /** Exact top-k by cosine (dot product on unit vectors) for one probe
    * vector identified by `probeId`.
    */
  def bruteForceTopK(embeddings: DataFrame, probeId: Long, k: Int): DataFrame = {
    val probe = broadcast(
      embeddings.filter(col("vec_id") === probeId)
        .select(col("embedding").as("probe_emb")))
    topKByCos(embeddings.filter(col("vec_id") =!= probeId).crossJoin(probe),
      col("probe_emb"), k)
  }

  /** Add an LSH `bucket` column: bit b = sign(v · plane_b). Map-side
    * only — at 100 TB this is the write-side index pass, persisted and
    * optionally partitioned by bucket.
    */
  def withBucket(embeddings: DataFrame, planes: Array[Array[Float]]): DataFrame = {
    val bucket = planes.zipWithIndex
      .map { case (p, b) =>
        when(dot(col("embedding"), typedLit(p)) >= 0, lit(1L << b)).otherwise(0L)
      }
      .reduce((a, b) => a.bitwiseOR(b))
    embeddings.withColumn("bucket", bucket)
  }

  /** One side of a pair scan: (vec_id, embedding) renamed to `id`/`emb`. */
  private def side(embeddings: DataFrame, id: String, emb: String): DataFrame =
    embeddings.select(col("vec_id").as(id), col("embedding").as(emb))

  /** The exact pair verify: (i, j, ea, eb) rows → (i, j, cos) for the
    * pairs whose dot beats `threshold`, cos rounded to 6 dp. Unordered;
    * every caller ends in its own `orderBy("i", "j")`.
    */
  private def verified(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("dp", dot(col("ea"), col("eb")))
      .filter(col("dp") > threshold)
      .select(col("i"), col("j"), round(col("dp"), 6).as("cos"))

  /** [[verified]] over candidate (i, j) ids: the embeddings are joined
    * back for the candidates only.
    */
  private[vector] def exactRerank(
      cand: DataFrame, embeddings: DataFrame, threshold: Double): DataFrame =
    verified(cand.join(side(embeddings, "i", "ea"), Seq("i"))
      .join(side(embeddings, "j", "eb"), Seq("j")), threshold)

  /** Exact all-pairs cosine above `threshold` — global embedding
    * near-dup detection (no label blocking). [[bandedPairsAbove]] is
    * the scale path.
    */
  def allPairsAbove(embeddings: DataFrame, threshold: Double): DataFrame =
    verified(side(embeddings, "i", "ea").crossJoin(side(embeddings, "j", "eb"))
      .filter(col("i") < col("j")), threshold)
      .orderBy("i", "j")

  /** Bands needed for `targetRecall` at cosine `simThreshold` with
    * `nPlanes` planes per band (1-(1-p^nPlanes)^nBands ≥ target,
    * p = 1-acos(s)/π), uncapped.
    */
  def bandsFor(nPlanes: Int, simThreshold: Double, targetRecall: Double): Int = {
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall=$targetRecall")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, simThreshold))) / math.Pi
    val pr = math.pow(p, nPlanes)
    if (pr >= 1.0) 1
    else math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-pr)).toInt)
  }

  /** Planes per band for bounded expected bucket sizes at `corpusSize`:
    * 2^nPlanes ≥ corpus/targetBucket, floor 4.
    */
  def planesFor(corpusSize: Long, targetBucket: Long = 4096L): Int = {
    val ratio = math.max(1.0, corpusSize.toDouble / targetBucket)
    math.min(62, math.max(4, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** [[bandsFor]] capped at `maxBands`, with a LOUD warning stating the
    * achieved theoretical recall when the cap bites — low thresholds at
    * huge corpus sizes genuinely need enormous band counts (that IS the
    * LSH cost curve); capping the compute must never silently plan a
    * petabyte member table NOR silently keep the advertised recall.
    */
  private def cappedBandsFor(
      nPlanes: Int,
      simThreshold: Double,
      targetRecall: Double,
      maxBands: Int): Int = {
    val wanted = bandsFor(nPlanes, simThreshold, targetRecall)
    val nBands = math.min(maxBands, wanted)
    if (nBands < wanted) {
      val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, simThreshold))) / math.Pi
      val achieved = 1.0 - math.pow(1.0 - math.pow(p, nPlanes), nBands)
      log.warn(f"capped nBands $wanted -> $nBands (nPlanes=$nPlanes, " +
        f"threshold=$simThreshold); theoretical recall drops to $achieved%.3f " +
        f"(target $targetRecall) — pass explicit parameters or raise maxBands " +
        "to trade compute for recall")
    }
    nBands
  }

  /** Banding parameters for a target recall at the decision threshold:
    * enough planes per band that a uniform corpus's expected bucket size
    * stays ≤ `targetBucket` (nPlanes ≥ log2(N / targetBucket), floor 4),
    * then enough bands that recall 1-(1-p^nPlanes)^nBands at cosine
    * `simThreshold` (p = 1-acos(s)/π) meets `targetRecall`. This is the
    * knob the 4×16 default silently got wrong beyond ~65k vectors: more
    * corpus needs MORE planes (smaller buckets) and correspondingly more
    * bands (recall), not a tighter cap.
    */
  def recommendBanding(
      corpusSize: Long,
      simThreshold: Double,
      targetRecall: Double = 0.93,
      targetBucket: Long = 4096L,
      maxBands: Int = 512): (Int, Int) = {
    val nPlanes = planesFor(corpusSize, targetBucket)
    (nPlanes, cappedBandsFor(nPlanes, simThreshold, targetRecall, maxBands))
  }

  /** Expected banded candidate rows (WITH band multiplicity) as a
    * fraction of the n²/2 cartesian, for an uncorrelated pair (collision
    * probability 1/2 per plane): nBands / 2^nPlanes. This is pure
    * geometry — no data stats — and it is the honest cost model for the
    * banded-vs-exact routing decision: a ratio ≥ [[bandedRouteCutoff]]
    * means the "scale path" would SHUFFLE at least that fraction of the
    * cartesian as candidate rows (plus banding plumbing), so the exact
    * scan is the cheaper plan. The regime is threshold-driven: at
    * s = 0.4 a true pair collides per plane with p = 1−acos(0.4)/π ≈
    * 0.63 vs 0.5 for a random pair, so ANY recall-preserving geometry
    * lands above the cutoff ((2p)^nPlanes must exceed the ~9.2 recall
    * budget ⇒ nPlanes ≥ 10 ⇒ nBands ≥ 935 ⇒ ratio ≈ 0.91 — measured on
    * the sf0.1 corpus, 4×80 banding emitted 10.4M candidate rows whose
    * DISTINCT set was 98.6% of the cartesian). At s = 0.9 (p ≈ 0.86)
    * 12×145 gives ratio 0.035 and banding wins 30×. Callers that must
    * exercise the banded machinery regardless (property specs, recall
    * fixtures) pass forceBanded = true.
    */
  private[vector] def bandedPruneRatio(nPlanes: Int, nBands: Int): Double =
    nBands.toDouble / (1L << math.min(nPlanes, 62))

  private[vector] val bandedRouteCutoff = 0.5

  private[vector] def logNonPruningGeometry(
      fn: String, np: Int, nb: Int, threshold: Double): Unit =
    log.warn(f"$fn: geometry ${np}x$nb has expected candidate mass " +
      f"${bandedPruneRatio(np, nb)}%.2f of the n²/2 cartesian — sign-LSH cannot " +
      f"prune at threshold=$threshold with this recall; routing to the exact " +
      "scan (pass forceBanded=true to override)")

  /** Resolve (nPlanes, nBands, maxBucket) for a banded self-join,
    * deriving ONLY the parameters the caller left at 0 (an explicit
    * value is always honored — a persisted index built with it depends
    * on the exact geometry). Costs one `count()` job iff anything is
    * derived. Shared by [[bandedPairsAbove]] and
    * [[Quantize.bandedQuantizedPairsAbove]].
    */
  private[vector] def resolveBanding(
      embeddings: DataFrame,
      threshold: Double,
      nPlanes: Int,
      nBands: Int,
      maxBucket: Int,
      targetRecall: Double = 0.93): (Int, Int, Int) = {
    val corpusSize: Long =
      if (nPlanes > 0 && nBands > 0 && maxBucket > 0) -1L else embeddings.count()
    val np = if (nPlanes > 0) nPlanes else planesFor(corpusSize)
    val nb =
      if (nBands > 0) nBands
      else cappedBandsFor(np, threshold, targetRecall, maxBands = 512)
    if (nPlanes == 0 || nBands == 0)
      log.info(s"resolveBanding: derived nPlanes=$np nBands=$nb for corpus=$corpusSize " +
        s"threshold=$threshold targetRecall=$targetRecall")
    val cap =
      if (maxBucket > 0) maxBucket
      else math.min(Int.MaxValue.toLong, math.max(4096L, 8L * (corpusSize >> np))).toInt
    (np, nb, cap)
  }

  /** Banded sign-LSH member table (id, sigh, band, bucket) — one row per
    * (vector, band); `sigh` hashes the FULL cross-band signature (the
    * oversized-bucket defense groups by it). Map-side only: no
    * embeddings in the output, so the downstream bucket self-join
    * shuffles 8-byte keys, never vectors. All buckets come from ONE
    * [[graft.functions.SignBuckets]] kernel call per row — a projection
    * of nPlanes×nBands stacked dot expressions blows the JVM method
    * limit past ~250 planes and de-compiles the whole signature pass.
    */
  private[vector] def bandedMembers(
      embeddings: DataFrame,
      nPlanes: Int,
      nBands: Int,
      seed: Long): DataFrame = {
    val planes = hyperplanes(nPlanes * nBands, dimOf(embeddings), seed)
    // the full sign pattern across all bands is the vector's signature:
    // identical vectors (and only near-identical ones, w.h.p.) share it,
    // which is what the oversized-bucket defense groups by.
    // spreadForCompute: the nPlanes·nBands·dim signing dots are the
    // dominant map cost and run on the scan's task count — one task
    // over a single-row-group embeddings file (measured 0.86 s at
    // sf0.1); per-row deterministic, so bit-identical. No-op at scale.
    graft.ops.Scale.spreadForCompute(embeddings, col("vec_id"))
      .select(col("vec_id").as("id"),
        graft.functions.SignBuckets.signBuckets(col("embedding"), planes, nPlanes).as("__sig"))
      .select(col("id"), xxhash64(col("__sig")).as("sigh"),
        posexplode(col("__sig")).as(Seq("band", "bucket")))
  }

  /** Banded sign-LSH near-dup candidates — the high-recall scale path
    * for [[allPairsAbove]]. `nBands` independent `nPlanes`-bit bucket
    * tables; a pair is a candidate if it collides in ANY band (the
    * OR-of-ANDs construction, exactly MinHash banding but for cosine).
    * Candidates are re-scored exactly, so precision is 1.0 and recall at
    * cosine s is 1-(1-p^nPlanes)^nBands with p = 1-acos(s)/π.
    *
    * `nPlanes`/`nBands` default to 0 = derive from the corpus size and
    * `threshold` via [[recommendBanding]] (4×16 at ≤65k vectors and
    * s=0.4 — the old fixed default — growing with log₂N so expected
    * bucket sizes stay bounded instead of the cap silently strangling
    * recall). `maxBucket` defaults to 0 = 8× the uniform expected bucket
    * load (floor 4096): under that cap only genuinely skewed buckets
    * degrade, and [[graft.ops.BucketedPairs.cappedCandidatePairs]] logs
    * the affected fraction whenever one does. Oversized buckets keep
    * identical-sign-signature members exactly connected and sample
    * distinct-signature pairs (see the helper's accuracy contract);
    * small buckets are exhaustive.
    *
    * Scale shape: the band table is map-side (vec_id, band, bucket — no
    * embeddings), candidates meet only inside (band, bucket) buckets,
    * and embeddings are joined back just for the few candidates. Costs
    * one `count()` job when any parameter is auto-derived.
    */
  def bandedPairsAbove(
      embeddings: DataFrame,
      threshold: Double,
      nPlanes: Int = 0,
      nBands: Int = 0,
      seed: Long = 42L,
      maxBucket: Int = 0,
      forceBanded: Boolean = false): DataFrame = {
    val (np, nb, cap) = resolveBanding(embeddings, threshold, nPlanes, nBands, maxBucket)
    if (!forceBanded && bandedPruneRatio(np, nb) >= bandedRouteCutoff) {
      logNonPruningGeometry("bandedPairsAbove", np, nb, threshold)
      return allPairsAbove(embeddings, threshold)
    }
    val members = bandedMembers(embeddings, np, nb, seed)
    // score BEFORE dedup: a pair colliding in k bands is scored k times
    // (the dot is a cheap codegen'd kernel) but the expensive shuffle —
    // the distinct — then runs on the few pairs that beat the
    // threshold, not on the full candidate mass
    exactRerank(graft.ops.BucketedPairs.cappedCandidatePairs(members, cap),
      embeddings, threshold)
      .distinct()
      .orderBy("i", "j")
  }

  /** [[bandedPairsAbove]] under a PER-VECTOR exact-scoring budget — the
    * embedding twin of
    * [[graft.text.MinHashDedup.budgetedVerifiedPairs]], and the defense
    * against a vector spam pile: a vector buried among thousands of
    * near-identical embeddings otherwise drags every one of its
    * (linear-bounded, but still numerous) candidates through exact
    * scoring. Each vector scores only its `maxPairsPerVec` STRONGEST
    * candidates per pair side — band-collision count as the monotone
    * evidence (a band collides with probability p^nPlanes, p monotone
    * in the pair's cosine), partner id as the deterministic tiebreak —
    * so per-vector scoring work is a hard constant and total work is
    * ≤ 2·budget·vectors regardless of pile shape.
    *
    * Recall contract (the text twin's, verbatim): pairs are dropped
    * ONLY around vectors whose candidate degree exceeds the budget, and
    * the dropped ones are that vector's weakest-evidence pairs. With
    * `maxPairsPerVec` ≥ every vector's candidate degree the result
    * EXACTLY equals [[bandedPairsAbove]] (spec-pinned). Under a tight
    * budget a large near-dup pile is only partially connected — each
    * member keeps its strongest links; callers wanting full pile
    * recall at bounded cost should drop EXACT duplicate vectors first
    * (hash the quantized bytes — O(n)) so piles collapse before LSH
    * sees them.
    */
  def budgetedBandedPairsAbove(
      embeddings: DataFrame,
      threshold: Double,
      maxPairsPerVec: Int,
      nPlanes: Int = 0,
      nBands: Int = 0,
      seed: Long = 42L,
      maxBucket: Int = 0): DataFrame = {
    require(maxPairsPerVec >= 1, s"maxPairsPerVec=$maxPairsPerVec must be positive")
    import org.apache.spark.sql.expressions.Window
    val (np, nb, cap) = resolveBanding(embeddings, threshold, nPlanes, nBands, maxBucket)
    // collision strength replaces bandedPairsAbove's score-then-distinct:
    // the per-pair band count is the ranking evidence, so the dedup and
    // the strength aggregate are the same groupBy
    val strength = graft.ops.BucketedPairs
      .cappedCandidatePairs(bandedMembers(embeddings, np, nb, seed), cap)
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n_bands"))
      .localCheckpoint(true)
    // per-vector windows: keys are single vector ids (degree already
    // linear-bounded by the bucket cap), never corpus-sized partitions
    val wI = Window.partitionBy("i").orderBy(col("n_bands").desc, col("j").asc)
    val wJ = Window.partitionBy("j").orderBy(col("n_bands").desc, col("i").asc)
    val budgeted = strength
      .withColumn("__ri", row_number().over(wI))
      .withColumn("__rj", row_number().over(wJ))
      .filter(col("__ri") <= maxPairsPerVec && col("__rj") <= maxPairsPerVec)
      .select("i", "j")
    exactRerank(budgeted, embeddings, threshold).orderBy("i", "j")
  }

  // ---- persisted index ----------------------------------------------

  /** Persist the LSH-bucketed corpus partitioned by `bucket`, so probes
    * read only their buckets' directories. The (nPlanes, seed) pair is
    * part of the index identity — probe with the same values.
    *
    * The bucketed rows are hash-clustered by `bucket` into
    * `spark.sql.shuffle.partitions` partitions before the partitioned
    * write ([[Ivf.writeIndex]]'s discipline), so each `bucket=` dir
    * receives exactly ONE file, from one task, and the write runs on
    * every core. Without it each write task emits a file into every
    * bucket it sees: one input split (the usual single-row-group
    * embeddings file) serializes all 2^nPlanes creates on one task,
    * and many splits give tasks × buckets fragments. The explicit
    * partition count keeps AQE from coalescing the spread away.
    */
  def writeIndex(
      embeddings: DataFrame,
      path: String,
      nPlanes: Int = 8,
      seed: Long = 42L): Unit =
    withBucket(embeddings, hyperplanes(nPlanes, dimOf(embeddings), seed))
      .repartition(embeddings.sparkSession.sessionState.conf.numShufflePartitions,
        col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/vectors")

  /** Exact batched kNN JOIN: for EVERY query row, its `k` nearest
    * corpus rows by cosine. The query side broadcasts, scores compute
    * map-side over ONE corpus scan, and the per-query top-k window
    * partitions by query id (fine-grained keys). Cost is
    * |queries|·|corpus| scored rows — right for a query BATCH against
    * the corpus (eval sets, retrieval training pairs); corpus×corpus
    * similarity is [[allPairsAbove]]/[[bandedPairsAbove]]'s job, and
    * the bucketed scale path for large query sets is [[annKnnJoin]].
    *
    * Ranking uses the ROUNDED score (6 dp, vec_id tiebreak) so the
    * result is reproducible across engines — float-noise ties cannot
    * flip membership. Oracle-checked as X52.
    *
    * `excludeSelf` (default true) drops the corpus row whose vec_id
    * EQUALS the query's — correct when queries are drawn from the
    * corpus id space (the same-table shape every caller here uses).
    * Pass false for a query table with INDEPENDENT ids, where an
    * unrelated corpus vector could collide with a query id and be
    * silently dropped.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val keep = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    topKPerQuery(
      corpus.join(q, keep)
        .select(col("qid"), col("vec_id"),
          round(dot(col("qv"), col("embedding")), 6).as("cos")), k)
  }

  /** LSH-accelerated batched kNN join — the scale path for large query
    * sets: bucket BOTH sides with the same hyperplanes, expand each
    * query to its multi-probe bucket set (an explode over the literal
    * XOR-mask array — no driver round trip per query), equi-join on the
    * bucket key so candidates only ever meet inside a probed bucket,
    * then score exactly and keep the per-query top-k. Each (query,
    * candidate) pair meets at most once (probe buckets are distinct).
    * `probeRadius = nPlanes` probes every bucket and reproduces
    * [[knnJoin]] exactly — the property VectorIndexSpec pins.
    * `excludeSelf` has the [[knnJoin]] shared-id-space contract.
    */
  def annKnnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nPlanes: Int = 8,
      probeRadius: Int = 2,
      seed: Long = 42L,
      excludeSelf: Boolean = true): DataFrame = {
    val planes = hyperplanes(nPlanes, dimOf(corpus), seed)
    val masks = bucketsWithin(0L, nPlanes, probeRadius)
    val qb = broadcast(
      withBucket(queries, planes)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          explode(typedLit(masks)).as("__m"),
          col("bucket").as("__qb"))
        .select(col("qid"), col("qv"),
          col("__qb").bitwiseXOR(col("__m")).as("__probe")))
    val keep = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    topKPerQuery(
      withBucket(corpus, planes)
        .join(qb, col("bucket") === col("__probe") && keep)
        .select(col("qid"), col("vec_id"),
          round(dot(col("qv"), col("embedding")), 6).as("cos")), k)
  }

  /** Per-query top-k of a scored (qid, vec_id, cos) frame: rounded-score
    * order, vec_id tiebreak, window partitioned by the query id.
    */
  private[vector] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))
      .orderBy("qid", "rk")
  }

  /** The probe vector's bucket, computed driver-side with the exact
    * arithmetic of [[withBucket]] (left-to-right double accumulation).
    */
  def bucketOf(vec: Array[Float], planes: Array[Array[Float]]): Long =
    planes.zipWithIndex.foldLeft(0L) { case (acc, (p, b)) =>
      require(p.length == vec.length, s"plane dim ${p.length} != vec dim ${vec.length}")
      var s = 0.0
      var i = 0
      while (i < vec.length) { s += vec(i).toDouble * p(i).toDouble; i += 1 }
      if (s >= 0) acc | (1L << b) else acc
    }

  /** All bucket ids within Hamming distance `r` of `base` (multi-probe
    * enumeration — sum of C(nPlanes, 0..r) ids, generated driver-side).
    */
  def bucketsWithin(base: Long, nPlanes: Int, r: Int): Seq[Long] =
    (0 to r).flatMap(d =>
      (0 until nPlanes).combinations(d)
        .map(_.foldLeft(base)((b, i) => b ^ (1L << i))).toSeq)

  /** Top-k by cosine against a persisted LSH index: the multi-probe
    * bucket set selects its `bucket=` directories DIRECTLY
    * ([[Ivf.probedVectorsAt]], the reader shared with the IVF layout),
    * so the scan lists and reads only ~sum C(nPlanes,0..r)/2^nPlanes
    * of the corpus — listing cost O(probed buckets), flat in 2^nPlanes.
    */
  def probeIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probeVec: Array[Float],
      k: Int,
      nPlanes: Int = 8,
      probeRadius: Int = 2,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nPlanes, probeVec.length, seed)
    val buckets = bucketsWithin(bucketOf(probeVec, planes), nPlanes, probeRadius)
    topKByCos(
      Ivf.probedVectorsAt(spark, s"$path/vectors", buckets, partCol = "bucket")
        // → PartitionFilters over the probed dirs, which are the scan's roots
        .filter(col("bucket").isin(buckets: _*)),
      typedLit(probeVec), k)
  }

  /** Semantic eval-contamination audit: split the embedding table with
    * the portable md5 coin ([[graft.ops.Scale.md5Split]] on `vec_id`)
    * into an `evalFrac`-weighted "eval" slice and a "train" rest, and report
    * every eval vector whose nearest TRAIN neighbor scores
    * cos ≥ `threshold` — the embedding-space complement of the n-gram
    * (X30) and MinHash (X46/X77) decontamination audits: a paraphrase
    * leaks no shingles but lands next to its source in embedding space.
    *
    * Output: (eval_id, train_id, cos, rk) for the top-`k` qualifying
    * train neighbors per contaminated eval vector, [[knnJoin]]'s
    * rounded-score/vec_id-tiebreak ranking, so the threshold compare is
    * boundary-exact against any oracle that rounds the same way.
    *
    * Scale shape: the eval slice is small by construction (a split
    * fraction), so [[knnJoin]]'s broadcast-queries plan is the right
    * one at this shape; for a large eval set swap in [[annKnnJoin]] —
    * same contract, LSH-bucketed candidates.
    */
  def semanticLeakage(
      embeddings: DataFrame,
      evalFrac: Double,
      threshold: Double,
      k: Int = 1,
      seed: Long = 42L): DataFrame = {
    require(evalFrac > 0 && evalFrac < 1, s"evalFrac=$evalFrac must be in (0,1)")
    val sp = graft.ops.Scale.md5Split(embeddings, "vec_id",
      Seq("train" -> (1.0 - evalFrac), "eval" -> evalFrac), seed)
    val ev = sp.filter(col("split") === "eval").select("vec_id", "embedding")
    val tr = sp.filter(col("split") === "train").select("vec_id", "embedding")
    knnJoin(ev, tr, k, excludeSelf = false)
      .filter(col("cos") >= threshold)
      .select(col("qid").as("eval_id"), col("vec_id").as("train_id"),
        col("cos"), col("rk"))
      .orderBy("eval_id", "rk")
  }

  /** Margin-based pair mining between two embedding sets — the
    * published ratio-margin criterion for mining aligned pairs
    * (bitext, paraphrases, caption↔image) from two independently
    * embedded corpora: a raw cosine threshold over-mines in dense
    * hubs and under-mines in sparse regions, so each candidate pair's
    * score is NORMALIZED by its endpoints' neighborhood densities,
    *
    *   margin(x, y) = cos(x, y) / (avgK_B(x)/2 + avgK_A(y)/2)
    *
    * where avgK_B(x) is the mean cosine of x's k nearest neighbors in
    * B (and symmetrically for y in A). Candidates are each x's single
    * nearest y (the forward nn1); a pair is mined when its margin
    * clears `threshold` (> 1 means "closer than the local average by
    * that factor").
    *
    * Plan shape: two [[knnJoin]] scans (A-queries over B, B-queries
    * over A) — linear in |A|·|B| with broadcast query sides at this
    * declared shape; for large sides swap both scans for
    * [[annKnnJoin]] (same contract, LSH-bucketed candidates). The
    * per-side mean-cosine tables are |A|- and |B|-sized aggregates of
    * those scans — nothing quadratic survives past the kNN.
    *
    * All cosines are [[knnJoin]]'s 6-dp rounded scores and the margin
    * is rounded at 6 dp, so the threshold compare is boundary-exact
    * against an oracle computing the same arithmetic.
    *
    * The ratio is only meaningful over POSITIVE neighborhood
    * similarity: a near-zero or negative denominator (both endpoints'
    * k-NN means ≈ 0 — embeddings that are mutually near-orthogonal
    * noise) would explode the margin or flip its sign, silently
    * inverting the `>= threshold` semantics. Such candidates are
    * FILTERED (denominator ≤ 0 mines nothing — there is no "locally
    * closer than average" reading of a non-positive average), and the
    * X106 oracle carries the same predicate.
    */
  def marginMinedPairs(
      a: DataFrame,
      b: DataFrame,
      k: Int,
      threshold: Double): DataFrame = {
    val fwd = knnJoin(a, b, k, excludeSelf = false)
    val bwd = knnJoin(b, a, k, excludeSelf = false)
    val denomA = fwd.groupBy("qid").agg(avg(col("cos")).as("avg_a"))
    val denomB = bwd.groupBy("qid").agg(avg(col("cos")).as("avg_b"))
    fwd.filter(col("rk") === 1)
      .select(col("qid").as("i"), col("vec_id").as("j"), col("cos"))
      .join(denomA.select(col("qid").as("i"), col("avg_a")), Seq("i"))
      .join(denomB.select(col("qid").as("j"), col("avg_b")), Seq("j"))
      .filter(col("avg_a") / 2 + col("avg_b") / 2 > 0)
      .select(col("i"), col("j"), col("cos"),
        round(col("cos") / (col("avg_a") / 2 + col("avg_b") / 2), 6)
          .as("margin"))
      .filter(col("margin") >= threshold)
      .orderBy("i", "j")
  }
}
