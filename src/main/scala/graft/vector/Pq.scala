package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot
import graft.sources.Store

/** Product quantization (PQ) for embedding search — the memory-side
  * complement of the IVF list pruning in [[Ivf]]: each `dim`-float
  * vector is stored as `m` small codes (one per contiguous subspace),
  * and query-time distance is the table-lookup ADC (asymmetric
  * distance computation) sum, so the scan touches `m` bytes per vector
  * instead of `4·dim`. At 100 TB this is what makes an in-memory (or
  * page-cache-resident) re-rank tier possible at all: 64 float dims =
  * 256 B/vector raw vs 8 B/vector at m=8 — a 32× reduction that keeps
  * the same linear, broadcast-only scan shape.
  *
  * All distances are squared Euclidean (the PQ-native metric). On the
  * unit-normalized embeddings the L2 ordering equals the cosine
  * ordering (|a-b|² = 2 - 2·cosθ), so PQ results are comparable to the
  * cosine spine (L06/X09/X11) without a separate metric.
  *
  * Scale shape by stage:
  *  - codebook TRAINING is per-subspace Lloyd over (vec_id, sub)
  *    exploded rows — one m·ks-sized mean shuffle per iteration, and a
  *    `sampleFraction` knob because centroid quality needs samples,
  *    not the corpus (the [[Ivf.refineCentroids]] discipline);
  *  - ENCODING is strictly map-side: the whole codebook collapses to
  *    ONE broadcast row and each vector's m argmins are a single
  *    projection — no shuffle touches the corpus;
  *  - the ADC SCAN broadcasts the per-query lookup table (m·ks doubles
  *    per query — metadata-sized) and folds it over each codes row
  *    left-to-right; the only shuffle is the per-query top-k.
  *
  * The squared distance is always assembled as the inner-product
  * expansion  |q|² − 2·q·c + |c|²  with [[dot]]'s left-to-right double
  * accumulation, which is the exact arithmetic the DuckDB oracle
  * reproduces with `list_inner_product` — codebooks and codes are
  * persisted artifacts, so everything declared downstream of them is
  * engine-portable math over the same bytes.
  */
object Pq {

  /** Squared-L2 between two float vectors via the inner-product
    * expansion — see the object doc for why this exact form.
    */
  private def sqDist(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** The ADC fold — per (candidate, query) row, the sum of the lut
    * cells the codes select — as the codegen'd
    * [[graft.functions.AdcSum]] kernel: this runs once per scanned
    * candidate row, the scan mass of the whole compressed tier. PqSpec
    * pins it against [[adcFoldHof]] (the engine-portable spelling the
    * oracle restates) on valid and adversarial fixtures.
    */
  private def adcFold(codes: Column, luts: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.AdcSum(
        org.apache.spark.sql.GraftColumnBridge.expression(codes),
        org.apache.spark.sql.GraftColumnBridge.expression(luts)))

  /** The certified HOF twin of [[adcFold]] — semantic reference only. */
  private[graft] def adcFoldHof(codes: Column, luts: Column): Column =
    aggregate(
      zip_with(codes, luts, (cd, sl) => element_at(sl, cd + 1)),
      lit(0.0), (s, x) => s + x)

  /** Fail loud when the caller's `dsub` disagrees with the codebook's
    * stored centroid length. Without this the mismatch is SILENT
    * garbage, not an error: [[dot]] returns NULL on length mismatch
    * (its ragged-vector contract), NULL poisons every ADC sum, and the
    * top-k window then ranks NULLs first — plausible-looking neighbors
    * with null distances. The check is one `first()` on the m·ks-row
    * codebook frame — metadata, not data.
    */
  private def requireDsub(codebook: DataFrame, dsub: Int): Unit = {
    val stored = codebook.select(size(col("centroid"))).first().getInt(0)
    require(stored == dsub,
      s"dsub=$dsub does not match the codebook's centroid length $stored")
  }

  /** (vec_id, sub, subvec) exploded view: subspace `s` owns the
    * 1-based slice [s·dsub+1, (s+1)·dsub].
    */
  def subVectors(embeddings: DataFrame, m: Int, dsub: Int): DataFrame =
    embeddings.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("embedding"), s * lit(dsub) + lit(1), lit(dsub)))))
      .select(col("vec_id"), col("pos").as("sub"), col("col").as("subvec"))

  /** One row per subspace holding that subspace's centroids sorted by
    * cid — the broadcast side of every assign/encode below.
    */
  private[vector] def perSubArrays(codebook: DataFrame): DataFrame =
    codebook.groupBy("sub")
      .agg(sort_array(collect_list(struct(col("cid"), col("centroid"))))
        .as("cents"))

  /** Assign each (vec_id, sub, subvec) row to its nearest centroid of
    * its OWN subspace (min squared-L2, cid ascending as tie-break).
    * Broadcast-join on `sub` + per-row argmin — no corpus shuffle.
    */
  private def assignSub(subVecs: DataFrame, codebook: DataFrame): DataFrame =
    subVecs.join(broadcast(perSubArrays(codebook)), Seq("sub"))
      .withColumn("best",
        array_min(transform(col("cents"), c =>
          struct(sqDist(col("subvec"), c("centroid")).as("d2"),
            c("cid").as("cid")))))
      .select(col("vec_id"), col("sub"), col("subvec"),
        col("best.cid").as("cid"))

  /** Train per-subspace codebooks: deterministic hash-sampled init
    * (the ks corpus vectors with the smallest xxhash64(vec_id), each
    * contributing its m subvectors; cid = rank in that order) refined
    * by `iters` rounds of plain-L2 Lloyd. Result: (sub, cid, centroid)
    * with m·ks rows. Subspaces that lose all members in a round keep
    * their previous centroid (the [[Ivf.refineCentroids]] rule).
    *
    * The seed-id collect is ks longs — metadata, not data.
    */
  def trainCodebooks(
      embeddings: DataFrame,
      m: Int,
      ks: Int,
      iters: Int,
      dim: Int,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val spark = embeddings.sparkSession

    // ks longs — metadata-sized, the deterministic seed choice
    val seedIds = embeddings
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(ks)
      .select("vec_id").collect().map(_.getLong(0))
    val cidByVec = spark.createDataFrame(
      java.util.Arrays.asList(seedIds.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(v, i)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType))))

    val init = subVectors(
        embeddings.join(broadcast(cidByVec), Seq("vec_id")), m, dsub)
      .join(broadcast(cidByVec), Seq("vec_id"))
      .select(col("sub"), col("cid"), col("subvec").as("centroid"))

    val poolSubs = subVectors(Ivf.samplePool(embeddings, sampleFraction, seed), m, dsub)
      .localCheckpoint(false)

    var cb = init
    for (_ <- 0 until iters) {
      val avgs = (0 until dsub)
        .map(i => avg(element_at(col("subvec"), i + 1)).as(s"m$i"))
      val means = assignSub(poolSubs, cb)
        .groupBy("sub", "cid")
        .agg(avgs.head, avgs.tail: _*)
        .select(col("sub"), col("cid"),
          array((0 until dsub).map(i => col(s"m$i").cast("float")): _*)
            .as("next"))
      cb = cb.select(col("sub"), col("cid"), col("centroid").as("prev"))
        .join(means, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("next"), col("prev")).as("centroid"))
        // m·ks rows — keeping the frame flat is cheaper than carrying
        // an iters-deep broadcast-join lineage into the next round
        .localCheckpoint(true)
    }
    cb
  }

  /** Encode every vector as its m nearest-subspace-centroid ids.
    * Strictly map-side: the codebook collapses into ONE broadcast row
    * (array over subs of that subspace's sorted centroids) and the
    * codes array is ONE codegen'd [[graft.functions.PqEncode]] kernel
    * call per vector — the argmin fused into primitive loops, because
    * encode is the dominant index-build cost at 100 TB and the
    * interpreted nested-HOF twin below measured ~84 µs/vector. PqSpec
    * pins kernel ≡ HOF on clustered and adversarial (ragged / null /
    * empty-cents) fixtures, and X104/X107's certified hashes ride this
    * path unchanged.
    *
    * Every input column except `embedding` passes through (so a
    * residual frame's `list_id` rides along with its codes); the plain
    * (vec_id, embedding) corpus yields the historical (vec_id, codes).
    */
  def encode(embeddings: DataFrame, codebook: DataFrame, dsub: Int): DataFrame = {
    requireDsub(codebook, dsub)
    // the pass-through select appends the kernel output as `codes` and
    // crossJoins a broadcast column named `cb` — an input frame already
    // carrying either name would produce ambiguous references downstream
    require(!embeddings.columns.contains("codes") &&
        !embeddings.columns.contains("cb"),
      "encode input must not already have a 'codes' or 'cb' column")
    val keep = embeddings.columns.filterNot(_ == "embedding").map(col)
    embeddings
      .crossJoin(broadcast(collapsedCodebook(codebook)))
      .select(keep :+
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.PqEncode(
            org.apache.spark.sql.GraftColumnBridge.expression(col("embedding")),
            org.apache.spark.sql.GraftColumnBridge.expression(col("cb")),
            dsub)).as("codes"): _*)
  }

  /** The ONE-row broadcast side of [[encode]]: array over subs (sorted)
    * of (sub, that subspace's cid-sorted centroids).
    */
  private def collapsedCodebook(codebook: DataFrame): DataFrame =
    perSubArrays(codebook)
      .agg(sort_array(collect_list(struct(col("sub"), col("cents"))))
        .as("cb"))

  /** The certified nested-HOF twin of [[encode]]'s kernel — the
    * engine-portable spelling of the same argmin (slice → sqDist →
    * array_min with cid tie-break). Kept as the semantic reference
    * PqSpec pins the native kernel against; not on any production path.
    */
  private[graft] def encodeHof(
      embeddings: DataFrame, codebook: DataFrame, dsub: Int): DataFrame = {
    requireDsub(codebook, dsub)
    val keep = embeddings.columns.filterNot(_ == "embedding").map(col)
    embeddings
      .crossJoin(broadcast(collapsedCodebook(codebook)))
      .select(keep :+
        transform(col("cb"), sc =>
          array_min(transform(sc("cents"), c =>
            struct(
              sqDist(
                slice(col("embedding"), sc("sub") * lit(dsub) + lit(1),
                  lit(dsub)),
                c("centroid")).as("d2"),
              c("cid").as("cid"))))("cid"))
          .as("codes"): _*)
  }

  /** Per-query ADC lookup table: (query_id, sub, cid, d2) where d2 is
    * the squared-L2 between the query's subvector and that centroid.
    * Size m·ks rows per query — metadata.
    */
  def lookupTable(
      queries: DataFrame, codebook: DataFrame, dsub: Int): DataFrame = {
    requireDsub(codebook, dsub)
    queries.crossJoin(broadcast(codebook))
      .select(col("query_id"), col("sub"), col("cid"),
        sqDist(
          slice(col("qvec"), col("sub") * lit(dsub) + lit(1), lit(dsub)),
          col("centroid")).as("d2"))
  }

  /** The per-query LUT reshaped for the map-side scan: one row per
    * query, `luts` = array over subs of (array over cids of d2).
    */
  private def lutRows(lut: DataFrame): DataFrame =
    lut.groupBy("query_id", "sub")
      .agg(sort_array(collect_list(struct(col("cid"), col("d2"))))
        .as("cd"))
      .select(col("query_id"), col("sub"),
        transform(col("cd"), x => x("d2")).as("ds"))
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("sub"), col("ds"))))
        .as("sd"))
      .select(col("query_id"),
        transform(col("sd"), x => x("ds")).as("luts"))

  /** The per-query nearest-`k` window every squared-L2 top-k ends in:
    * the rounded `dist` ascending, vec_id tiebreak, partitioned by
    * query_id → (query_id, vec_id, dist), unordered.
    */
  private def nearestPerQuery(scan: DataFrame, dist: String, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col(dist), col("vec_id"))
    scan.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col(dist))
  }

  /** The rounded ADC distance of a (codes, luts) row — the score every
    * ADC scan ranks by.
    */
  private def adcD2: Column = round(adcFold(col("codes"), col("luts")), 6).as("adc_d2")

  /** The ADC top-k tail: drop each query's own vector, score the
    * (codes, luts) rows by [[adcD2]] and keep the per-query nearest `k`
    * in (query_id, adc_d2, vec_id) order.
    */
  private def adcNearest(scan: DataFrame, k: Int): DataFrame =
    nearestPerQuery(
      scan.filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), adcD2), "adc_d2", k)
      .orderBy("query_id", "adc_d2", "vec_id")

  /** ADC top-k: approximate squared distance of every coded vector to
    * every query as the left-to-right fold
    * Σ_sub lut[sub][code[sub]], then the per-query (rounded-d2,
    * vec_id) top-k. `queries` = (query_id, qvec); a query that is
    * itself a corpus member is excluded from its own result.
    *
    * The scan is codes × (broadcast nq-row LUT) — linear in N·nq with
    * no data-sized shuffle before the per-query top-k.
    */
  def adcTopK(
      codes: DataFrame,
      codebook: DataFrame,
      queries: DataFrame,
      k: Int,
      dsub: Int): DataFrame = {
    // single-row-group rescue (Scale.spreadForCompute): the per-code ADC
    // fold × nq broadcast LUTs is the scan's whole cost and runs on the
    // codes file's task count (one for a small artifact); per-row
    // deterministic, so bit-identical. No-op at scale.
    adcNearest(graft.ops.Scale.spreadForCompute(codes, col("vec_id"))
      .crossJoin(broadcast(lutRows(lookupTable(queries, codebook, dsub)))), k)
  }

  /** Exact squared-L2 top-k over the FULL vectors — the ground truth
    * the PQ recall report compares against. Same broadcast-queries
    * linear-scan shape as [[adcTopK]].
    */
  def exactL2TopK(
      embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame =
    // single-row-group rescue: nq exact distances per vector, map-side
    // over the scan — spread like adcTopK; bit-identical, no-op at scale
    nearestPerQuery(
      graft.ops.Scale.spreadForCompute(embeddings, col("vec_id"))
        .crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), exactD2),
      "d2", k)

  /** The rounded exact squared-L2 of a (qvec, embedding) row. */
  private def exactD2: Column = round(sqDist(col("qvec"), col("embedding")), 6).as("d2")

  /** Exact re-rank of ANY per-query candidate shortlist — the second
    * stage of the production two-stage serve: a compressed/approximate
    * first stage ([[adcTopK]] / [[ivfAdcTopK]] / [[ivfAdcResidualTopK]]
    * / an LSH probe) nominates R candidates per query, and this stage
    * re-scores exactly those with the RAW vectors and keeps the true
    * top-k among them. This is how a production deployment buys back
    * the compressed tier's recall: among any k-subset of the
    * shortlist, the exact re-rank's overlap with the true top-k is
    * maximal, so recall@k(rerank of R) ≥ recall@k(first stage's own
    * head) and → 1 as R grows (PqSpec pins both, plus exact
    * degeneration to [[exactL2TopK]] on an all-candidates shortlist).
    *
    * Scale shape: ONE raw-corpus scan hash-joined against the
    * BROADCAST nq×R shortlist (no corpus shuffle), queries broadcast
    * for the exact sqDist, then the per-query top-k window over nq×R
    * rows — the raw bytes touched are the shortlist's, not the
    * corpus's, which is the entire point of the pairing at 100 TB.
    */
  def rerankExact(
      shortlist: DataFrame,
      queries: DataFrame,
      embeddings: DataFrame,
      k: Int): DataFrame =
    nearestPerQuery(exactRescore(shortlist, queries, embeddings), "d2", k)
      .orderBy("query_id", "d2", "vec_id")

  /** (query_id, vec_id, d2) for the distinct (query, vector) pairs of
    * `shortlist`: ONE raw-corpus scan hash-joined against the broadcast
    * pairs, queries broadcast for the exact rounded squared-L2.
    */
  private def exactRescore(
      shortlist: DataFrame, queries: DataFrame, embeddings: DataFrame): DataFrame =
    embeddings
      .join(broadcast(shortlist.select("query_id", "vec_id").distinct()),
        Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), exactD2)

  /** Re-rank shortlist size for a probe budget — the serve-side policy
    * that keeps the two-stage recall curve MONOTONE in nProbe. A FIXED
    * shortlist quietly degrades as the probe budget grows: every extra
    * probed list adds candidates whose quantized (ADC) distance
    * UNDERESTIMATES their true distance, and past some budget those
    * flood the fixed-R ADC head and evict true neighbors before the
    * exact re-rank ever sees them — the round-12 operating curve (the
    * X113 predecessor) measured recall@5 rising 0.2 → 0.93 through
    * nProbe = 8 and then DROPPING to 0.80 at nProbe = 16 with R = 50.
    * R = max(rMin, rPerProbe · nProbe) keeps the per-probed-list
    * shortlist budget constant instead, so widening the probe can only
    * add candidates, never displace an equally-deep slice of them:
    * measured on the same corpus the curve reads 0.2 → 0.4 → 0.67 →
    * 1.0 → 1.0 (X113, oracle-checked; PqSpec pins dominance over the
    * fixed policy at every budget). Cost stays serve-shaped: the
    * shortlist is nq × R driver/broadcast rows and the exact re-rank
    * touches R raw vectors per query — both ∝ nProbe, never ∝ N.
    */
  def adaptiveShortlist(nProbe: Int, rPerProbe: Int = 16, rMin: Int = 50): Int = {
    require(nProbe > 0 && rPerProbe > 0 && rMin > 0,
      s"adaptiveShortlist arguments must be positive: nProbe=$nProbe rPerProbe=$rPerProbe rMin=$rMin")
    math.max(rMin, rPerProbe * nProbe)
  }

  /** The production two-stage IVFADC serve: residual-ADC over the
    * probed lists nominates [[adaptiveShortlist]] candidates per query
    * (compressed bytes only), then [[rerankExact]] re-scores exactly
    * those with the raw vectors and keeps the true top-k among them.
    * One call = the whole deployable read path; the adaptive R is what
    * makes "probe more" a safe knob (recall monotone non-decreasing in
    * nProbe — see [[adaptiveShortlist]]).
    */
  def ivfAdcServe(
      codes: DataFrame,
      codebook: DataFrame,
      cents: DataFrame,
      queries: DataFrame,
      embeddings: DataFrame,
      k: Int,
      nProbe: Int,
      dsub: Int,
      rPerProbe: Int = 16,
      rMin: Int = 50): DataFrame =
    rerankExact(
      ivfAdcResidualTopK(codes, codebook, cents, queries,
        adaptiveShortlist(nProbe, rPerProbe, rMin), nProbe, dsub),
      queries, embeddings, k)

  /** The serve's probe-budget operating curve MICRO-AVERAGED over a
    * labeled calibration sample — one row per budget:
    * (nprobe, shortlist, n_hit, n_exact, recall). Each budget runs the
    * full two-stage [[ivfAdcServe]] on the sample queries and scores it
    * against the exact ground truth; recall is the single integer ratio
    * Σ n_hit / Σ n_exact (micro-average), rounded once — NOT a mean of
    * per-query doubles, so the number is bit-reproducible across
    * engines and addition orders (the X120 oracle restates exactly this
    * division). Cost: |budgets| serve passes over a SAMPLE-sized query
    * set — calibration is something an operator pays once per index
    * build, and each pass is the serve's own corpus-size-independent
    * shape (probed fraction ∝ 1/N, shortlist ∝ nProbe).
    */
  def probeBudgetCurve(
      codes: DataFrame,
      codebook: DataFrame,
      cents: DataFrame,
      sample: DataFrame,
      embeddings: DataFrame,
      k: Int,
      budgets: Seq[Int],
      dsub: Int,
      rPerProbe: Int = 16,
      rMin: Int = 50): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ > 0),
      s"probeBudgetCurve needs at least one positive budget, got $budgets")
    val exact = exactL2TopK(embeddings, sample, k).localCheckpoint(false)
    // a sample with no ground truth (empty, or its only vector is also
    // the whole corpus) would propagate NULL recalls into the decision
    // table and NPE deep inside the serve — fail loudly at the source;
    // the check is one action on a sample-sized frame, paid once per
    // calibration
    require(!exact.isEmpty,
      "probeBudgetCurve calibration sample produced no exact ground-truth " +
        "rows — pass a non-empty sample with at least one other corpus " +
        "vector to rank against")
    // ONE ranked scan serves every budget (multiBudgetServe — the
    // |budgets| independent ivfAdcServe passes re-read codes AND
    // embeddings per budget for a scan whose per-(query, list) LUT
    // never depends on the budget); per-branch rows are pinned
    // identical to the per-budget composition by PqSpec, and the
    // micro-averaged sums below are order-independent integer adds
    val branches = budgets.distinct.sorted
      .map(p => ("auto", p, adaptiveShortlist(p, rPerProbe, rMin)))
    multiBudgetRecall(
      multiBudgetServe(codes, codebook, cents, sample, embeddings, k,
        branches, dsub),
      exact, branches)
      .groupBy("nprobe", "shortlist")
      .agg(coalesce(sum("n_hit"), lit(0L)).as("n_hit"),
        coalesce(sum("n_exact"), lit(0L)).as("n_exact"))
      .select(col("nprobe"), col("shortlist"), col("n_hit"), col("n_exact"),
        round(col("n_hit") / col("n_exact"), 6).as("recall"))
      .orderBy("nprobe")
  }

  /** The shared-scan multi-branch serve of a calibration sweep: every
    * `(policy, nProbe, shortlist)` branch of the sweep served from ONE
    * residual-ADC pass over `codes` at the largest budget and ONE
    * raw-vector re-rank pass over `embeddings` — row-identical per
    * branch to `rerankExact(ivfAdcResidualTopK(..., k = shortlist,
    * nProbe), queries, embeddings, k)` (PqSpec pins the equality).
    * Correct by construction: a candidate's LUT row depends only on
    * (query, list, codebook), and budget p's probed lists are exactly
    * the probe-rank ≤ p lists, so fanning each candidate (map-side,
    * broadcast) to every branch whose budget covers its rank
    * reproduces each branch's candidate set exactly; the per-branch
    * ADC head and exact re-rank then use the same (d², vec_id) total
    * order the single-branch operators use. Cost: the sweep stops
    * re-reading the codes and raw-embedding tables once per branch —
    * the guide-§1.2 "remove repeated passes" shape for X113/X120,
    * which measured ~2× on the sf0.1 bench. The two shared passes
    * stay sample-shaped (shortlists are nq-bounded per branch), so
    * the materialized intermediates are calibration-sized, never ∝ N.
    *
    * Output: (policy, nprobe, shortlist, query_id, vec_id, d2).
    */
  private[graft] def multiBudgetServe(
      codes: DataFrame,
      codebook: DataFrame,
      cents: DataFrame,
      queries: DataFrame,
      embeddings: DataFrame,
      k: Int,
      branches: Seq[(String, Int, Int)],
      dsub: Int): DataFrame = {
    require(branches.nonEmpty && branches.forall(b => b._2 > 0 && b._3 > 0),
      s"multiBudgetServe needs positive (nProbe, shortlist) branches, got $branches")
    requireDsub(codebook, dsub)
    val spark = queries.sparkSession
    import spark.implicits._
    val maxProbe = branches.map(_._2).max
    val branchDf = branches.toDF("policy", "nprobe", "shortlist")
    // same single-row-group rescue as adcTopK (per-row ADC fold)
    val cands = graft.ops.Scale.spreadForCompute(codes, col("vec_id"))
      .join(broadcast(
        residualLutRowsRanked(queries, cents, codebook, maxProbe, dsub)),
        Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("__rnk"), adcD2)
    // map-side fan-out: candidate of probe rank r belongs to every
    // branch with nprobe >= r — a broadcast theta join against the
    // |branches|-row table, no extra scan
    val wShort = Window.partitionBy("policy", "nprobe", "query_id")
      .orderBy(col("adc_d2"), col("vec_id"))
    // lazy checkpoint: the shortlist feeds the distinct pair set AND
    // the re-rank join; un-materialized, each consumer would re-run
    // the codes scan. Branch-tagged top-R rows are nq × ΣR — sample-
    // sized by construction
    val shortlists = cands
      .join(broadcast(branchDf), col("__rnk") <= col("nprobe"))
      .withColumn("__r", row_number().over(wShort))
      .filter(col("__r") <= col("shortlist"))
      .select("policy", "nprobe", "shortlist", "query_id", "vec_id")
      .localCheckpoint(false)
    // ONE raw-vector pass re-scores the distinct (query, vec) pairs of
    // every branch; d² per pair is branch-independent (rerankExact's
    // own rescore), so attaching branches back is a broadcast join
    val d2 = exactRescore(shortlists, queries, embeddings)
    val wK = Window.partitionBy("policy", "nprobe", "query_id")
      .orderBy(col("d2"), col("vec_id"))
    shortlists.join(broadcast(d2), Seq("query_id", "vec_id"))
      .withColumn("__r", row_number().over(wK))
      .filter(col("__r") <= k)
      .select("policy", "nprobe", "shortlist", "query_id", "vec_id", "d2")
  }

  /** Per-(branch, query) recall of a [[multiBudgetServe]] result —
    * [[recallAtK]]'s exact row semantics applied per branch (every
    * exact-side query gets a row per branch even when that branch
    * served it nothing; a served query with an EMPTY exact set trips
    * the same plan-embedded raise_error). Output: (policy, nprobe,
    * shortlist, query_id, n_hit, n_exact, recall).
    */
  private[graft] def multiBudgetRecall(
      served: DataFrame, exact: DataFrame,
      branches: Seq[(String, Int, Int)]): DataFrame = {
    val spark = served.sparkSession
    import spark.implicits._
    val branchDf = branches.toDF("policy", "nprobe", "shortlist")
    val keys = Seq("policy", "nprobe", "shortlist", "query_id")
    // served feeds the hit counts AND the branch-tagged query-id set;
    // it is final-top-k-sized (nq × k × |branches|), so the lazy
    // checkpoint is metadata-cheap and saves the second serve pass
    val sv = served.localCheckpoint(false)
    val hitCounts = sv
      .join(exact.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_hit"))
    branchDf
      .crossJoin(exact.groupBy("query_id").agg(count(lit(1)).as("n_exact")))
      .join(sv.select(keys.map(col): _*).distinct(), keys, "full")
      .join(hitCounts, keys, "left")
      .select(col("policy"), col("nprobe"), col("shortlist"), col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        guardedExact.as("n_exact"),
        round(coalesce(col("n_hit"), lit(0L)) / guardedExact, 6).as("recall"))
  }

  /** Pick the serve budget for each recall target off a measured
    * [[probeBudgetCurve]]: the SMALLEST nprobe whose calibrated recall
    * meets the target, falling back to the curve's largest budget when
    * no measured point reaches it (the honest answer — serve at the
    * best budget you calibrated, and the returned achieved_recall <
    * target tells the operator the index itself is the limiter). Pure
    * DataFrame algebra over the |budgets|-row curve, so the choice is
    * oracle-checkable; output one row per target:
    * (target, nprobe, shortlist, achieved_recall). Monotone by
    * construction: a higher target can only choose an equal-or-larger
    * budget, and under the adaptive-shortlist policy the curve itself
    * is monotone (X113), so "raise the target" is a safe operator knob.
    */
  def chooseProbeBudget(curve: DataFrame, targets: Seq[Double]): DataFrame = {
    require(targets.nonEmpty && targets.forall(t => t >= 0.0 && t <= 1.0),
      s"chooseProbeBudget targets must be in [0, 1], got $targets")
    // fail-loud on a NULL recall row in a caller-supplied curve:
    // NULL never satisfies recall >= target, so such a budget would be
    // silently unselectable and the fallback could pick a budget whose
    // recall was never measured. probeBudgetCurve guards its own
    // output; this mirrors it for the documented direct-DataFrame use.
    val nullRecall = curve.filter(col("recall").isNull)
    require(nullRecall.isEmpty,
      "chooseProbeBudget: the calibration curve has NULL recall at nprobe " +
        nullRecall.select("nprobe").limit(3).collect().map(_.get(0)).mkString(", ") +
        " — re-measure the curve (probeBudgetCurve fails loud on an empty " +
        "ground truth) before choosing budgets from it")
    val spark = curve.sparkSession
    import spark.implicits._
    val tg = targets.distinct.sorted.toDF("target")
    val met = tg.join(broadcast(curve), col("recall") >= col("target"), "left")
      .groupBy("target").agg(min("nprobe").as("__met"))
    val fb = curve.agg(max("nprobe").as("__fb"))
    met.crossJoin(broadcast(fb))
      .select(col("target"), coalesce(col("__met"), col("__fb")).as("nprobe"))
      .join(broadcast(curve.select(col("nprobe"), col("shortlist"),
        col("recall").as("achieved_recall"))), Seq("nprobe"))
      .select(col("target"), col("nprobe"), col("shortlist"),
        col("achieved_recall"))
      .orderBy("target")
  }

  /** Calibrated result of [[ivfAdcServeAtRecall]]: the budget the
    * calibration chose, the shortlist the adaptive policy gives it, the
    * micro-averaged recall measured on the calibration sample at that
    * budget, and the served top-k itself.
    */
  final case class CalibratedServe(
      nProbe: Int,
      shortlist: Int,
      expectedRecall: Double,
      result: DataFrame)

  /** The recall-TARGETED two-stage serve — the knob an operator
    * actually has ("give me ≥ 0.9 recall, spend as little as that
    * costs") turned into the deployable one-call read path: measure the
    * [[probeBudgetCurve]] on a labeled calibration sample, pick the
    * cheapest budget meeting `target` ([[chooseProbeBudget]] — largest
    * calibrated budget when none does), then [[ivfAdcServe]] the real
    * queries at that budget. The only driver-side transfer is the ONE
    * chosen (nprobe, shortlist, recall) row — metadata-sized by
    * construction (the curve has |budgets| rows).
    */
  def ivfAdcServeAtRecall(
      codes: DataFrame,
      codebook: DataFrame,
      cents: DataFrame,
      sample: DataFrame,
      queries: DataFrame,
      embeddings: DataFrame,
      k: Int,
      target: Double,
      budgets: Seq[Int] = Seq(1, 2, 4, 8, 16),
      dsub: Int = 8,
      rPerProbe: Int = 16,
      rMin: Int = 50): CalibratedServe = {
    val chosen = chooseProbeBudget(
      probeBudgetCurve(codes, codebook, cents, sample, embeddings, k,
        budgets, dsub, rPerProbe, rMin),
      Seq(target)).first()
    CalibratedServe(
      chosen.getInt(1), chosen.getInt(2), chosen.getDouble(3),
      ivfAdcServe(codes, codebook, cents, queries, embeddings, k,
        chosen.getInt(1), dsub, rPerProbe, rMin))
  }

  /** `n_exact`, or — for a served query whose exact ground-truth set is
    * EMPTY (null `n_exact` after the full join) — a plan-embedded
    * `raise_error` naming it: the fail-loud guard of [[recallAtK]] and
    * [[multiBudgetRecall]].
    */
  private def guardedExact: Column =
    when(col("n_exact").isNull,
      org.apache.spark.sql.functions.raise_error(concat(
        lit("recallAtK: query "), col("query_id").cast("string"),
        lit(" has an EMPTY exact ground-truth set — the exact baseline " +
          "was mis-built (empty corpus or mismatched query ids); refusing " +
          "to report recall over a vacuous denominator"))).cast("long"))
      .otherwise(col("n_exact"))

  /** Per-query recall of the ADC result against the exact-L2 ground
    * truth — the quality number a 100 TB operator reads before trusting
    * a compressed index tier. Both sides arrive as
    * (query_id, vec_id, …) top-k tables; output one row per query,
    * normalized by the EXACT side's row count (so the frames define k —
    * there is deliberately no separate k parameter to disagree with
    * them).
    *
    * Fail-loud contract: a query present in `approx` but with an EMPTY
    * exact set raises at execution (via a plan-embedded `raise_error`,
    * zero extra jobs) instead of silently vanishing from the recall
    * table — an empty ground truth means the exact baseline was
    * mis-built (empty corpus, wrong id space), and a curve aggregated
    * over the surviving rows would read as healthy. The reverse
    * direction (exact has the query, approx found nothing) is an
    * honest recall-0 row and stays one.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    // each side is consumed twice below (hit join + denominator /
    // distinct-query probe), and callers routinely hand in LIVE ANN
    // chains (a full ADC scan, an exact-L2 pass) — materialize the
    // tiny (nq·k rows) projected top-k tables once instead of
    // re-running each chain per consumer
    val a = approx.select("query_id", "vec_id").localCheckpoint(false)
    val e = exact.select("query_id", "vec_id").localCheckpoint(false)
    val hits = a
      .join(e, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      // full join against approx's DISTINCT query ids (no count — only
      // the id's presence matters): a query approx served with no
      // exact twin surfaces with null n_exact and trips the guard
      .join(a.select("query_id").distinct(), Seq("query_id"), "full")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        guardedExact.as("n_exact"),
        round(coalesce(col("n_hit"), lit(0L)) / guardedExact, 6)
          .as("recall"))
      .orderBy("query_id")
  }

  /** IVF+PQ composition — the production pairing: coarse-quantize the
    * corpus onto `cents` (the persisted IVF/k-means centroids), keep
    * only codes whose list is among the query's `nProbe` nearest
    * lists, ADC-rank the survivors. With nProbe = nLists this is
    * exactly [[adcTopK]] (the property the spec pins); below that the
    * scan cost drops to the probed fraction of N·m bytes.
    */
  def ivfAdcTopK(
      embeddings: DataFrame,
      codes: DataFrame,
      codebook: DataFrame,
      cents: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      dsub: Int): DataFrame = {
    // per-query nProbe nearest lists by centroid L2 — queries × nLists
    // rows, metadata-sized
    val probed = queries.crossJoin(broadcast(cents))
      .select(col("query_id"),
        col("centroid_id").as("list_id"),
        sqDist(col("qvec"), col("centroid")).as("cd2"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cd2"), col("list_id"))))
      .filter(col("rnk") <= nProbe)
      .select("query_id", "list_id")
    // corpus list assignment is the map-side Ivf.assign argmax
    val listed = Ivf.assign(embeddings, cents).select("vec_id", "list_id")
    adcNearest(codes.join(listed, Seq("vec_id"))
      .crossJoin(broadcast(lutRows(lookupTable(queries, codebook, dsub))))
      .join(broadcast(probed), Seq("query_id", "list_id"), "left_semi"), k)
  }

  /** Build + persist the PQ artifact: `$path/codebook` (sub, cid,
    * centroid) and `$path/codes` (vec_id, codes). The persisted bytes
    * are the index identity — training float summation order is not
    * canonical across partitionings, so (like the IVF/k-means
    * artifacts) both engines and every later run read the SAME
    * codebook rather than re-deriving it. Every other input column
    * rides into the codes ([[encode]]), so [[writeResidualIndex]] and
    * [[Opq.writeIndex]] write their codebook and codes through this
    * over the residual or rotated vectors.
    */
  def writeIndex(
      embeddings: DataFrame,
      path: String,
      m: Int,
      ks: Int,
      iters: Int,
      dim: Int): Unit = {
    val cb = trainCodebooks(embeddings, m, ks, iters, dim)
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    val stored = embeddings.sparkSession.read.parquet(s"$path/codebook")
    encode(embeddings, stored, dim / m)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  // ---- residual encoding (IVFADC proper) ----------------------------
  // Plain PQ quantizes RAW vectors, so the codebook's ks centroids must
  // cover the whole corpus envelope — on hard (near-uniform) corpora
  // that dynamic range starves per-cell resolution and recall collapses
  // (X105 honestly measured 0–0.4). Production IVFADC (Jégou, Douze &
  // Schmid 2011, "Product quantization for nearest neighbor search")
  // quantizes each vector's RESIDUAL against its coarse IVF centroid:
  // the residual cloud is centered and much tighter than the corpus, so
  // the same m·ks codebook spends its cells on the part of the signal
  // the coarse quantizer didn't already explain. Query-side distance is
  // still table-lookup ADC, but the lookup table becomes per-(query,
  // probed list): d²(q, c_L + r̂) = Σ_sub |(q − c_L)_sub − cb[sub][code]|²
  // — the same |x|² − 2x·y + |y|² expansion over the RESIDUAL QUERY
  // x = q − c_L, which is why the whole search stays engine-portable
  // double math over persisted bytes.

  /** Each vector's coarse assignment and float32 residual against its
    * L2-NEAREST of `cents`: (vec_id, list_id, embedding = v − c_list).
    * Map-side ([[Ivf.assignL2]]'s broadcast argmin + one zip_with);
    * float32 subtraction is exact IEEE and deterministic, and the
    * residual frame is generation-side only — everything declared
    * downstream reads the PERSISTED codes, not this computation.
    *
    * L2, not max-dot, deliberately: the whole residual tier (codes,
    * probe ranking, ADC tables) is squared-L2, and assigning by the
    * cosine argmax against non-unit L2-Lloyd means puts vectors in
    * lists the probe would not rank first — measured on the sf0.01
    * corpus the mixed-metric form read residual_gain 1.33 (residuals
    * WORSE than raw) where the L2-consistent form reads < 1.
    */
  def residualVectors(embeddings: DataFrame, cents: DataFrame): DataFrame =
    withAssignedCentroid(embeddings, cents)
      .select(col("vec_id"), col("list_id"),
        zip_with(col("embedding"), col("__c"),
          (x, y) => (x - y).cast("float")).as("embedding"))

  /** [[Ivf.assignL2]] plus the assigned centroid's floats as `__c` —
    * a broadcast join of the (tiny) centroid table on `list_id`.
    */
  private def withAssignedCentroid(embeddings: DataFrame, cents: DataFrame): DataFrame =
    Ivf.assignL2(embeddings, cents)
      .join(
        broadcast(cents.select(
          col("centroid_id").as("list_id"), col("centroid").as("__c"))),
        Seq("list_id"))

  /** Train per-subspace codebooks over the RESIDUALS of `embeddings`
    * against the coarse `cents` — same Lloyd discipline and knobs as
    * [[trainCodebooks]], tighter input cloud.
    */
  def trainResidualCodebooks(
      embeddings: DataFrame,
      cents: DataFrame,
      m: Int,
      ks: Int,
      iters: Int,
      dim: Int,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame =
    trainCodebooks(residualVectors(embeddings, cents), m, ks, iters, dim,
      sampleFraction, seed)

  /** The residual-query ADC lookup table reshaped for the scan: one row
    * per (query, probed list), `luts` = array over subs of (array over
    * cids of d2), where d2 = |(q − c_list)_sub|² − 2·(q − c_list)_sub ·
    * cb + |cb|² — the double expansion over the DOUBLE residual query
    * (elementwise exact subtraction), left-to-right accumulated like
    * every other portable sum in this file. nq × nProbe × m × ks
    * entries — metadata-sized.
    *
    * Each row carries the list's probe rank (`__rnk`, 1-based): rank ≤
    * p is exactly "list probed at budget p", which is what lets one
    * scan at the largest budget of a calibration sweep serve every
    * smaller budget
    * ([[multiBudgetServe]]). A LUT cell depends only on (query, list,
    * codebook) — never on the budget — so the ranked rows at maxProbe
    * restricted to rank ≤ p ARE the budget-p LUT rows.
    */
  private def residualLutRowsRanked(
      queries: DataFrame,
      cents: DataFrame,
      codebook: DataFrame,
      nProbe: Int,
      dsub: Int): DataFrame = {
    // per-query nProbe nearest lists by the SAME float-dot expansion
    // the plain composition's coarse probe uses, carrying the residual
    // query q − c_list as exact elementwise double subtraction
    val probed = queries.crossJoin(broadcast(cents))
      .select(col("query_id"),
        col("centroid_id").as("list_id"),
        sqDist(col("qvec"), col("centroid")).as("cd2"),
        zip_with(col("qvec"), col("centroid"),
          (x, y) => x.cast("double") - y.cast("double")).as("qr"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cd2"), col("list_id"))))
      .filter(col("rnk") <= nProbe)
      .select("query_id", "list_id", "qr", "rnk")
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val lut = probed.crossJoin(broadcast(codebook))
      .select(col("query_id"), col("list_id"), col("rnk"), col("sub"), col("cid"), {
        val qrs = slice(col("qr"), col("sub") * lit(dsub) + lit(1), lit(dsub))
        (dotD(qrs, qrs) - lit(2.0) * dotD(qrs, col("centroid")) +
          dot(col("centroid"), col("centroid"))).as("d2")
      })
    // rnk is functionally determined by (query_id, list_id) — riding
    // the group keys costs nothing and keeps the aggregation shape
    lut.groupBy("query_id", "list_id", "rnk", "sub")
      .agg(sort_array(collect_list(struct(col("cid"), col("d2")))).as("cd"))
      .select(col("query_id"), col("list_id"), col("rnk"), col("sub"),
        transform(col("cd"), x => x("d2")).as("ds"))
      .groupBy("query_id", "list_id", "rnk")
      .agg(sort_array(collect_list(struct(col("sub"), col("ds")))).as("sd"))
      .select(col("query_id"), col("list_id"), col("rnk").as("__rnk"),
        transform(col("sd"), x => x("ds")).as("luts"))
  }

  /** IVFADC top-k over residual codes: `codes` = (vec_id, list_id,
    * codes) from [[writeResidualIndex]], ranked by the per-(query,
    * probed-list) residual lookup table. The broadcast LUT inner join
    * on list_id IS the probe pruning — only codes in a query's probed
    * lists are ever scored, so the scan cost is the probed fraction of
    * N·m bytes and nothing data-sized shuffles before the per-query
    * top-k. With a single zero coarse centroid this degenerates to
    * exactly [[adcTopK]] (the property PqSpec pins).
    */
  def ivfAdcResidualTopK(
      codes: DataFrame,
      codebook: DataFrame,
      cents: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      dsub: Int): DataFrame = {
    // same fail-loud guard as every other ADC entry point: a wrong dsub
    // would NULL-poison every residual LUT cell and "rank" by vec_id
    requireDsub(codebook, dsub)
    // same single-row-group rescue as adcTopK (per-row ADC fold)
    adcNearest(graft.ops.Scale.spreadForCompute(codes, col("vec_id"))
      .join(broadcast(
        residualLutRowsRanked(queries, cents, codebook, nProbe, dsub).drop("__rnk")),
        Seq("list_id")), k)
  }

  /** Build + persist the RESIDUAL PQ artifact against the given coarse
    * centroids: `$path/cents` (the coarse quantizer — part of the
    * index identity, since every stored code is a residual AGAINST
    * these exact floats), `$path/codebook` (sub, cid, centroid —
    * trained on residuals) and `$path/codes` (vec_id, list_id, codes):
    * [[writeIndex]] over [[residualVectors]] against the STORED cents,
    * so downstream searches read the SAME cents/codebook bytes this
    * build wrote.
    */
  def writeResidualIndex(
      embeddings: DataFrame,
      cents: DataFrame,
      path: String,
      m: Int,
      ks: Int,
      iters: Int,
      dim: Int): Unit = {
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/cents")
    val storedCents = embeddings.sparkSession.read.parquet(s"$path/cents")
    writeIndex(residualVectors(embeddings, storedCents), path, m, ks, iters, dim)
  }

  // ---- streaming codes deltas ----------------------------------------
  // The ADC tier's twin of Ivf's vector deltas: a long-lived ingest
  // ([[graft.streaming.StreamOps.vectorIngestStream]] with a pqPath)
  // encodes each arriving micro-batch against the FROZEN persisted
  // codebook and lands it in `$path/codes_delta/b<batchId>` — encode is
  // a deterministic per-row map over frozen floats, so a streamed code
  // is bit-identical to the batch encode of the same vector, and the
  // ADC scan over base ∪ deltas equals the batch scan over the union
  // corpus (StreamingSpec pins it). Deltas fold back into the base
  // codes file via [[compactCodes]], same crash discipline as
  // [[Ivf.compactIndex]].

  /** The PQ artifact's codes — base plus every completed streaming
    * delta. Same schema as `$path/codes` (the residual artifact's rows
    * carry list_id); listing cost O(1 + nDeltas), which is why a
    * long-lived ingest runs [[compactCodes]] periodically.
    */
  def codesWithDeltas(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Store.completedDirs(spark, s"$path/codes_delta")
      .map(spark.read.parquet(_))
      .foldLeft(spark.read.parquet(s"$path/codes"))(_ unionByName _)

  /** Fold completed codes deltas into the base codes file — pure row
    * movement (codes are already encoded). Runs on the SAME
    * [[Store.compactLayout]] state machine as [[Ivf.compactIndex]]
    * (staged `codes.next` + `_FOLDED_DELTAS` manifest, checked
    * renames, both recovery passes), so the crash discipline cannot
    * drift between the two layouts. `failpoint` is test-only crash
    * injection (PqSpec exercises every window).
    */
  def compactCodes(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      failpoint: String = ""): Unit =
    Store.compactLayout(spark, s"$path/codes", s"$path/codes_delta", None,
      spark.read.parquet(_), _.write.mode("overwrite").parquet(_), failpoint)

  /** The residual-encoding GO/NO-GO diagnostic: how much of the
    * corpus's squared mass the coarse quantizer explains. One row —
    * avg |v|², avg |v − c_assigned|² (the [[sqDist]] expansion over
    * the L2-assigned centroid), and their ratio `residual_gain`.
    * Residual PQ beats plain PQ at equal m·ks exactly when the ratio
    * is well below 1 (the residual cloud is tighter than the raw
    * corpus — PqSpec's off-origin-cluster fixture); a ratio NEAR 1
    * (this near-isotropic synthetic corpus reads 0.887 — the
    * L2-consistent quantizer explains only ~11%) warns that the
    * residual tier buys little over plain PQ, and ≥ 1 would mean a
    * broken (metric-mixed or unrefined) coarse quantizer — IvfSpec
    * pins that L2-Lloyd refinement keeps it < 1. Cost: one map-side
    * assign + one global aggregate.
    */
  def residualGain(embeddings: DataFrame, cents: DataFrame): DataFrame =
    withAssignedCentroid(embeddings, cents)
      .agg(
        count(lit(1)).cast("long").as("n_vectors"),
        round(avg(dot(col("embedding"), col("embedding"))), 6)
          .as("avg_raw_d2"),
        round(avg(sqDist(col("embedding"), col("__c"))), 6)
          .as("avg_residual_d2"),
        round(avg(sqDist(col("embedding"), col("__c"))) /
          avg(dot(col("embedding"), col("embedding"))), 6)
          .as("residual_gain"))
}
