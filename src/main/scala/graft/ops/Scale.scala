package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew- and scale-handling operator utilities — the hand-tunable
  * complements to AQE for the 100 TB design point.
  *
  * AQE's skew-join splitting handles most runtime skew; these exist for
  * the cases it can't: aggregation skew (one giant group key) and
  * map-side explosion joins where the skewed side must be salted at
  * plan time.
  */
object Scale {

  /** Two-phase aggregation for skewed group keys: partial-aggregate on
    * (keys + random salt of `saltBuckets`), then final-aggregate on the
    * keys. A single hot key spreads over `saltBuckets` reducers in
    * phase 1 instead of melting one. Only algebraic aggregates
    * decompose this way — the caller supplies both phases.
    *
    * Example (count):
    *   saltedAggregate(df, Seq(col("k")), 16,
    *     partial = Seq(count(lit(1)).as("c")),
    *     fin = Seq(sum("c").as("n")))
    */
  /** Deterministic row salt: a hash of every column, NOT partition-id /
    * monotonic-id based — those are indeterminate under shuffle-fetch
    * failure and partial stage recompute, which can reassign rows to
    * different salt buckets mid-retry and double-count or drop them (the
    * classic indeterminate-shuffle hazard, at exactly the retry-heavy
    * scale these utilities target). Identical duplicate rows share a
    * salt; for that (rare) degenerate skew, add a distinct id upstream.
    */
  private def rowSalt(df: DataFrame, saltBuckets: Int): Column =
    pmod(xxhash64(df.columns.map(col): _*), lit(saltBuckets.toLong))

  def saltedAggregate(
      df: DataFrame,
      keys: Seq[Column],
      saltBuckets: Int,
      partial: Seq[Column],
      fin: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", rowSalt(df, saltBuckets))
    salted
      .groupBy(keys :+ col("__salt"): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys: _*)
      .agg(fin.head, fin.tail: _*)
  }

  /** Skewed equi-join: replicate each `right` row across `saltBuckets`
    * salts and salt each `left` row randomly, so a hot join key's rows
    * spread over `saltBuckets` tasks. Use when the hot side is too big
    * to broadcast and AQE's split is insufficient (e.g. one key is most
    * of the table). Costs `saltBuckets`× replication of `right` — keep
    * the right side the smaller one.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      saltBuckets: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt", rowSalt(left, saltBuckets))
    val saltedRight = right.withColumn(
      "__rsalt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    saltedLeft
      .join(saltedRight, leftKey === rightKey && col("__salt") === col("__rsalt"))
      .drop("__salt", "__rsalt")
  }

  /** Approximate distinct count (HyperLogLog++): the sketch-based scale
    * path for COUNT(DISTINCT) when exactness isn't required — mergeable
    * across partitions, constant memory per group. Excluded from the
    * oracle contract (engine-specific sketch); accuracy is pinned by a
    * property test against the exact count.
    */
  def approxDistinct(df: DataFrame, keys: Seq[Column], target: Column, rsd: Double = 0.05): DataFrame =
    if (keys.isEmpty) df.agg(approx_count_distinct(target, rsd).as("approx_nd"))
    else df.groupBy(keys: _*).agg(approx_count_distinct(target, rsd).as("approx_nd"))

  /** Re-establish task parallelism for a compute-heavy stream whose
    * physical plan carries FEWER partitions than the session's
    * configured parallelism — the single-row-group / small-file rescue.
    *
    * Why it exists: a parquet file is splittable only at row-group
    * granularity, so a small table (or any single-row-group file)
    * scans as ONE task, and everything narrow downstream of it —
    * tokenize/explode passes, broadcast-probe joins, per-row codecs —
    * inherits that single task no matter how many cores the session
    * has (measured: X92's 7.5 M-row bigram probe ran a 3.2 s one-task
    * stage on a 32-core box). AQE cannot help: its coalescing sizes by
    * shuffle BYTES, and these stages sit before any exchange or behind
    * a byte-light one.
    *
    * Scale-honest by the same contract as the banded-pair spread
    * (BucketedPairs): the exchange fires ONLY when the plan's current
    * partition count is below the session's shuffle parallelism. At
    * real scale a corpus scan already carries orders of magnitude more
    * splits than `spark.sql.shuffle.partitions`, so this is a plan-time
    * no-op with zero added exchange; locally it moves the tiny input
    * once and unlocks every core for the heavy map work above it.
    *
    * Determinism: hash-partitioning by `keys` sends every row of one
    * key group to one partition, and rows that originate from the same
    * input partition keep their relative order — so per-key aggregates
    * (including order-sensitive float accumulations over one key's
    * rows, e.g. a per-doc avg over its exploded bigrams) see their
    * input in the same order as without the spread.
    *
    * Probe safety: the partition count comes from `toRdd`, which under
    * AQE MATERIALIZES any exchange in the plan at compose time — and
    * that execution is NOT reused by the caller's later action, so a
    * join/aggregate-bearing input would run twice (measured +1.3 s on
    * X127 when the run-level splice chain was probed). The helper
    * therefore probes ONLY plans it can prove narrow — Project/Filter/
    * Generate/Union chains over scans, local data or checkpointed RDDs,
    * with no subquery expressions — and returns every other input
    * unchanged. Callers never need to audit their argument.
    */
  def spreadForCompute(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty,
      "spreadForCompute needs hash keys (keyless round-robin repartition " +
        "pays a per-partition sort and breaks per-key order preservation)")
    if (!narrowProbeSafe(df)) return df
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.queryExecution.toRdd.getNumPartitions >= n) df
    else df.repartition(n, keys: _*)
  }

  /** True iff `df`'s analyzed plan is a narrow chain whose `toRdd` is
    * pure RDD construction: whitelisted narrow operators over leaf
    * relations, and no plan-expression (subquery) anywhere. Anything
    * unrecognized is conservatively unsafe.
    */
  private def narrowProbeSafe(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    val plan = df.queryExecution.analyzed
    val allNarrow = plan.collectFirst {
      case p if !(p.isInstanceOf[Project] || p.isInstanceOf[Filter] ||
        p.isInstanceOf[Generate] || p.isInstanceOf[Union] ||
        p.isInstanceOf[SubqueryAlias] || p.isInstanceOf[LeafNode]) => p
    }.isEmpty
    allNarrow && !plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[PlanExpression[_]])))
  }

  /** Range-partitioned write-side sort: cluster output by `keys` so
    * downstream range predicates prune files (the parquet min/max
    * footer statistics line up with the data order).
    */
  def clusterBy(df: DataFrame, numPartitions: Int, keys: Column*): DataFrame =
    df.repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)

  /** Stratified sample: per-stratum Bernoulli sampling with the given
    * per-key fractions (keys absent from `fractions` are dropped).
    * The coin is a CONTENT hash of the row (+ seed), not `rand()` —
    * rand() is seeded per partition position, so a repartition or a
    * partial stage recompute would re-sample rows differently (the same
    * indeterminate-shuffle hazard [[saltedAggregate]] guards against).
    * Deterministic for fixed data + seed under any partition layout.
    */
  /** Shared deterministic content-hash bucket in [0, 10^6): the one
    * idiom behind [[stratifiedSample]] and [[hashSplit]] — change the
    * granularity or the hash here, in one place, or the sample and
    * split semantics silently diverge.
    */
  private val HashBuckets = 1000000L
  private def hashBucket(cols: Seq[Column], seed: Long): Column =
    pmod(xxhash64(cols :+ lit(seed): _*), lit(HashBuckets))

  def stratifiedSample(
      df: DataFrame,
      key: String,
      fractions: Map[Any, Double],
      seed: Long = 42L): DataFrame = {
    val bucket = hashBucket(df.columns.map(col).toSeq, seed)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (k, f)) =>
      acc || (col(key) === lit(k) && bucket < lit(math.round(f * HashBuckets)))
    }
    df.filter(keep)
  }

  /** Deterministic train/val/test split on a key column: bucket =
    * pmod(xxhash64(key, seed), 10^6) compared against cumulative weight
    * cutoffs. A pure function of (key, seed) — stable across runs,
    * partition layouts and engines, and a given key always lands in the
    * same split even as the corpus grows (the property that matters for
    * leakage-free incremental training sets). Returns the input plus a
    * `split` column with the given names.
    */
  def hashSplit(
      df: DataFrame,
      key: String,
      weights: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), s"bad weights: $weights")
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => math.round(f * HashBuckets))
    val bucket = hashBucket(Seq(col(key)), seed)
    val expr = weights.map(_._1).zip(cuts).reverse
      .foldLeft(lit(weights.last._1)) { case (acc, (name, cut)) =>
        when(bucket < cut, lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Exact heavy hitters with bounded memory: values of `target`
    * occurring in MORE than `support` fraction of rows. Two phases —
    * `freqItems` (a distributed Misra–Gries sketch: ≤ 1/support
    * candidate values per partition, merged; no false negatives) prunes
    * to a metadata-sized candidate list, then one exact count over just
    * those candidates removes the sketch's false positives. The full
    * value domain is never aggregated, so a high-cardinality column
    * (vocab building over tokens) costs a candidate-filtered count, not
    * a domain-wide shuffle.
    */
  def heavyHitters(df: DataFrame, target: String, support: Double = 0.01): DataFrame = {
    require(support > 0 && support < 1, s"support=$support must be in (0, 1)")
    val cands = df.stat.freqItems(Array(target), support)
      .collect()(0).getSeq[Any](0)
    val n = df.count()
    df.filter(col(target).isin(cands: _*))
      .groupBy(target)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > support * n)
      .orderBy(col("cnt").desc, col(target))
  }

  /** Distributed approximate percentiles via the percentile_approx
    * sketch: mergeable across partitions, bounded memory per group —
    * the scale path where an exact percentile would need a full sort.
    * `accuracy` trades memory for error (guarantee: rank error ≤
    * n/accuracy). Excluded from the oracle contract (sketch output);
    * accuracy is pinned by a property test against exact percentiles.
    */
  def approxPercentiles(
      df: DataFrame,
      target: Column,
      probs: Seq[Double],
      accuracy: Int = 10000): DataFrame =
    df.agg(percentile_approx(
      target, array(probs.map(lit): _*), lit(accuracy)).as("pcts"))

  // --- oracle-portable deterministic coin (md5 twin of hashBucket) ---

  /** 8-hex-digit cutoff for fraction `f` of the 2^32 coin space —
    * `md5Coin < hexCutoff(f)` keeps an `f`-fraction of keys. Hex digits
    * sort lexicographically in numeric order, so the comparison is a
    * plain string compare in ANY engine with md5 — that portability is
    * the whole point of this variant.
    */
  def hexCutoff(f: Double): String = {
    require(f >= 0 && f <= 1, s"fraction $f outside [0, 1]")
    // f = 1.0 must admit the ENTIRE coin space: "g" sorts after every
    // 8-hex-digit coin, so `coin < "g"` is true for all 2^32 values.
    // Clamping to "ffffffff" instead would exclude the max coin — a
    // "100%" stratum silently missing 2^-32 of its rows.
    if (f >= 1.0) "g"
    // f one ulp below 1.0: f·2³² can ROUND UP to exactly 2³², whose
    // hex is the 9-char "100000000" — lexicographically smaller than
    // most coins, silently keeping ~1/16 of the stratum. Clamp to the
    // 8-hex maximum (mixtureResample carries the same guard).
    else f"${math.min((f * 4294967296.0).toLong, 4294967295L)}%08x"
  }

  /** First 8 hex chars of md5(key ':' seed): a uniform 32-bit coin that
    * any md5-bearing engine reproduces byte-for-byte. The cross-engine
    * twin of [[hashBucket]] — xxhash64 stays the production default
    * (8-byte math vs a 32-byte hex string per row); this form exists so
    * split/sample semantics are oracle-checkable end to end, and as the
    * stable interchange definition when several engines must agree on
    * one split.
    */
  private[graft] def md5Coin(key: Column, seed: Long): Column =
    substring(md5(concat_ws(":", key.cast("string"), lit(seed.toString))
      .cast("binary")), 1, 8)

  /** [[hashSplit]] with the portable md5 coin: deterministic
    * train/val/test assignment reproducible in any engine. Same
    * growth-stability contract — a key's split never changes as the
    * corpus grows.
    */
  def md5Split(
      df: DataFrame,
      key: String,
      weights: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), s"bad weights: $weights")
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(hexCutoff)
    val coin = md5Coin(col(key), seed)
    val expr = weights.map(_._1).zip(cuts).reverse
      .foldLeft(lit(weights.last._1)) { case (acc, (name, cut)) =>
        when(coin < lit(cut), lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Deterministic global training order ("corpus shuffle"): adds
    * `out` = the row's 1-based position in a pseudo-random total order
    * (md5 coin of `key`, then `key` as tiebreaker). A pure function of
    * (key, seed) — stable across runs, engines and partition layouts,
    * so a training job can resume mid-epoch and data loaders on
    * different machines agree on the order with no coordination.
    *
    * Scale shape: the order materializes through the two-pass bucketed
    * global row number ([[ScalableWindows.withGlobalRowNumber]]) — no
    * single-partition window anywhere; coin-range buckets, per-bucket
    * local numbering, metadata-sized bucket offsets. Shuffling 100 TB
    * into training order is ONE range exchange.
    */
  def shuffleOrder(
      df: DataFrame,
      key: String,
      seed: Long = 42L,
      out: String = "shuffle_pos"): DataFrame = {
    val coined = df.withColumn("__coin", md5Coin(col(key), seed))
    ScalableWindows.withGlobalRowNumber(coined, Seq("__coin", key), out)
      .drop("__coin")
  }

  /** Weighted sample WITHOUT replacement of `k` rows — the
    * Efraimidis–Spirakis A-ES one-pass reduction (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir",
    * public): each row draws a uniform coin u and the k LARGEST values
    * of ln(u)/w win, which is distributed exactly as sequential
    * weighted draws without replacement. The pipeline use is sampling
    * a fixed-size training subset proportional to per-document
    * importance (DSIR weights, quality scores, token counts) in one
    * scan with no sequential state.
    *
    * Deterministic per (key, seed) and engine-portable: u derives from
    * the md5 coin's 32-bit integer value (u = (c + 0.5) / 2^32, never
    * 0 or 1), and ln(u)/w is one fixed-order scalar expression — any
    * md5-bearing SQL engine reproduces the sample. Ranking uses the
    * 6-dp rounded ES key with the row key as tiebreaker, so a
    * last-ulp ln divergence between engines cannot reorder.
    *
    * Scale shape: map-side key computation + TakeOrdered(k) — no
    * shuffle of the corpus, no window. Weights must be strictly
    * positive (fail-loud: a zero/negative/null weight is a caller bug,
    * not a row to silently drop).
    */
  def weightedSample(
      df: DataFrame,
      key: String,
      weight: Column,
      k: Int,
      seed: Long = 42L): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    require(!df.columns.contains("es_key"),
      "weightedSample adds an `es_key` column; input already has one")
    val u = (conv(md5Coin(col(key), seed), 16, 10).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    val esKey = log(u) / assertPositiveWeight(weight.cast("double"))
    df.withColumn("es_key", round(esKey, 6))
      .orderBy(desc("es_key"), asc(key))
      .limit(k)
  }

  /** `w` with the strictly-positive precondition enforced per row —
    * raise_error (not filter): a non-positive weight makes ln(u)/w
    * meaningless, and silently dropping rows would skew the sample.
    */
  private def assertPositiveWeight(w: Column): Column =
    when(w.isNull || w <= 0.0,
      raise_error(concat(lit("weightedSample: non-positive weight "), w.cast("string"))))
      .otherwise(w)

  /** Resample a corpus to a TARGET mixture over `strata` — the domain/
    * language-balancing step of a training-data pipeline: find the
    * largest total size admitting the mixture WITHOUT upsampling
    * (T = min over target strata of n_g / t_g), then keep each stratum
    * at fraction f_g = T·t_g / n_g via the portable md5 coin. The
    * binding stratum keeps every row (its cutoff is the full-coin-space
    * sentinel); strata absent from `targets` are dropped. `targets`
    * needs only RATIOS, not normalized fractions — scaling every t_g by
    * a constant cancels out of f_g exactly, so no driver-side float
    * normalization can diverge from an external re-computation.
    *
    * Deterministic per (key, seed) and engine-portable (every
    * arithmetic step is plain IEEE double + md5, reproducible in any
    * SQL engine). Cost shape: one metadata-sized count aggregation, a
    * broadcast of one cutoff row per stratum, one map-side filter — the
    * corpus is scanned once and never shuffled.
    */
  def mixtureResample(
      df: DataFrame,
      key: String,
      strata: String,
      targets: Map[String, Double],
      seed: Long = 42L): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0), s"bad targets: $targets")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toSeq.sorted.toDF(strata, "__t")
    // ONE metadata-sized aggregation (a row per target stratum),
    // collected once; the presence check, binding stratum, and cutoffs
    // all derive driver-side from those few rows, so the corpus is
    // scanned exactly once more — by the final filter join below.
    // Every arithmetic step is the same IEEE double op in the same
    // order as the X48 oracle SQL / PipelineSqlSpec twin; only the
    // evaluation site moved to the driver.
    val counts = df.groupBy(strata).agg(count(lit(1)).as("__n")).join(tgt, strata)
      .select(col(strata), col("__n"), col("__t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // fail loudly on target strata ABSENT from the corpus (the join
    // above silently drops them and the returned mixture would violate
    // the requested ratios) — same posture as readSignatures /
    // readBandedIndex refusing mismatched artifacts. Strata present in
    // the corpus but absent from `targets` are dropped BY CONTRACT (the
    // mixture defines the output composition); absence in the corpus is
    // an impossibility, not a choice.
    val absent = targets.keySet -- counts.map(_._1)
    require(absent.isEmpty,
      s"mixtureResample: target strata absent from the corpus: " +
        s"${absent.toSeq.sorted.mkString(", ")} — no subset can meet the requested " +
        "ratios; remove them from targets or fix the corpus")
    val tmax = counts.map { case (_, n, t) => n.toDouble / t }.min
    // binding-stratum and rounding guards, in order of subtlety:
    //  1. the binding stratum is detected by VALUE (its n/t equals the
    //     min of the same computed doubles — exact), not by f >= 1.0:
    //     f = (n/t)·t/n re-rounds and can land at 1 − 2⁻⁵³, which would
    //     demote the "keep everything" sentinel to an 'ffffffff' cutoff
    //     that drops coin = ffffffff rows;
    //  2. f·2³² for f just below 1.0 can ROUND UP to exactly 2³²,
    //     whose hex is the 9-char "100000000" — lexicographically that
    //     keeps only coins starting with '0' (1/16 of the space), so
    //     the floored value is capped at the 8-hex maximum.
    // The X48 oracle SQL and the PipelineSqlSpec twin mirror all three
    // branches verbatim.
    val cuts = counts.toSeq.map { case (g, n, t) =>
      val f = tmax * t / n.toDouble
      val cut =
        if (n.toDouble / t == tmax) "g"
        else if (f >= 1.0) "g"
        else "%08x".format(
          math.min(math.floor(f * 4294967296.0).toLong, 4294967295L))
      (g, cut)
    }.toDF(strata, "__cut")
    df.join(broadcast(cuts), Seq(strata))
      .filter(md5Coin(col(key), seed) < col("__cut"))
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Temperature-flattened mixture resample — the standard multi-
    * domain/multilingual data-recipe move (exponentially smoothed
    * sampling, e.g. Conneau & Lample 2019 XLM, arXiv:1901.07291; Xue
    * et al. 2020 mT5, arXiv:2010.11934 — both public): resample to
    * target ratios t_g = n_g^alpha over the NATURAL stratum counts.
    * alpha = 1 keeps the natural mixture (identity — every stratum is
    * binding, nothing is dropped); alpha → 0 approaches the uniform
    * mixture; intermediate alpha up-weights small strata relative to
    * large ones, all under [[mixtureResample]]'s no-upsampling
    * contract (the largest feasible subset admitting the ratios).
    *
    * Since mixtureResample needs only RATIOS, the n^alpha values feed
    * it unnormalized; pow is the single float op added on top of the
    * X48 arithmetic (the same libm call in either engine — the X74
    * oracle recomputes it from the same integer counts). One extra
    * metadata-sized count aggregate; the corpus scan/filter shape is
    * unchanged.
    */
  def temperatureResample(
      df: DataFrame,
      key: String,
      strata: String,
      alpha: Double,
      seed: Long = 42L): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha=$alpha must be in (0, 1]")
    val counts = df.groupBy(strata).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // the temperature mixture of NOTHING is nothing, not an error: an
    // upstream gate may legitimately drop every row (the curation
    // pipeline's contract), and every composer would otherwise have to
    // pre-test emptiness with an extra action
    if (counts.isEmpty) df.filter(lit(false))
    else mixtureResample(df, key, strata,
      counts.map { case (g, n) => g -> math.pow(n.toDouble, alpha) }.toMap, seed)
  }

  /** Fixed-SIZE deterministic per-stratum sample: the `k` rows of each
    * stratum with the smallest md5 coins (ties broken by key) — the
    * eval/holdout-set construction step ("25 docs per language").
    * Exact, engine-portable, and a pure function of (key, seed): the
    * result equals `ROW_NUMBER() OVER (PARTITION BY strata ORDER BY
    * coin, key) <= k` computed over the full corpus.
    *
    * Scale shape: the naive window sorts WHOLE strata (one task per
    * language ≈ terabytes — the straggler this module's utilities
    * exist to avoid). Instead, the coin's uniformity admits a
    * per-stratum cutoff keeping ~k + 6√k + 16 expected survivors; one
    * metadata-sized aggregate confirms every stratum admitted at least
    * min(k, n_g) rows (doubling the slack on the astronomically
    * unlikely shortfall), and the EXACT window then runs on the tiny
    * survivor set. The corpus pays one map-side broadcast-join filter;
    * the sort touches ~k rows per stratum.
    */
  def stratifiedTopK(
      df: DataFrame,
      key: String,
      strata: String,
      k: Int,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    import org.apache.spark.sql.expressions.Window
    val coin = md5Coin(col(key), seed)
    val countsDf = df.groupBy(strata).agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // metadata-sized: one row per stratum
    var slack = 6.0 * math.sqrt(k.toDouble) + 16.0
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 16, "stratifiedTopK cutoff search did not converge — impossible " +
        "unless the coin is non-uniform; check the key column for degenerate values")
      val cutsDf = countsDf
        .withColumn("__f", least(lit(1.0), (lit(k.toDouble) + lit(slack)) / col("__n")))
        // the least(..., 2^32−1) clamp mirrors hexCutoff/mixtureResample:
        // for __f one ulp below 1.0 the product can round to exactly 2^32,
        // whose hex is the 9-char '100000000' — lexicographically that
        // admits only coins starting with '0' (1/16 of the stratum) and
        // costs a redundant completeness-retry pass
        .withColumn("__cut", when(col("__f") >= 1.0, lit("g"))
          .otherwise(format_string("%08x",
            least(floor(col("__f") * lit(4294967296.0)), lit(4294967295L)))))
        .select(col(strata), col("__n"), col("__cut"))
      val survivors = df.join(broadcast(cutsDf), Seq(strata))
        .filter(coin < col("__cut"))
        // one corpus scan per attempt, consumed twice (the completeness
        // aggregate and, on success, the exact window): materialize the
        // ~(k+slack)-per-stratum survivor set so neither consumer
        // re-scans the full input. This bounds the convergence loop at
        // ONE scan per attempt (≤16 total by the require above, ≤1 in
        // practice) instead of two — and is why the INPUT itself is
        // never checkpointed: at 100 TB that write costs more than any
        // plausible number of re-scans, while the survivor set is tiny
        .localCheckpoint(true)
      val admitted = survivors.groupBy(strata)
        .agg(count(lit(1)).as("__a"), first("__n").as("__n"))
        .collect()
      val complete = countsDf.count() == admitted.length &&
        admitted.forall(r => r.getLong(1) >= math.min(k.toLong, r.getLong(2)))
      if (complete) {
        val w = Window.partitionBy(strata).orderBy(coin, col(key))
        return survivors
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
          .select(df.columns.map(col).toSeq: _*)
      }
      slack *= 2
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[stratifiedSample]] with the portable md5 coin, keyed on an id
    * column (content-stable: a row's fate depends only on its key +
    * seed, not on partition layout or corpus size).
    */
  def md5StratifiedSample(
      df: DataFrame,
      key: String,
      strata: String,
      fractions: Map[String, Double],
      seed: Long = 42L): DataFrame = {
    val coin = md5Coin(col(key), seed)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (k, f)) =>
      acc || (col(strata) === lit(k) && coin < lit(hexCutoff(f)))
    }
    df.filter(keep)
  }

  // --- runtime pre-filters and sketches ---

  /** Bloom-prefiltered left-semi join: build a bloom filter over the
    * right side's keys (one pass, mergeable partial sketches), ship it
    * to every scan task, and drop non-matching `big` rows BEFORE the
    * shuffle; the surviving (few) rows then run the exact semi join.
    * Bloom filters have no false negatives, so the result is EXACTLY
    * `big SEMI JOIN small` — the filter only cuts shuffle volume. The
    * manual form of Spark's runtime row-level filtering, for when the
    * selective side is too big to broadcast as a hash relation but its
    * ~1.2 bytes/key bloom image still fits: at 100 TB a 1% matching
    * fraction means ~99% of the shuffle never leaves the scan stage.
    *
    * Keys MUST be integral, and this is enforced up front: the bloom
    * prefilter hashes `cast(key as long)`, and with ANSI off a
    * non-integral key would cast to NULL and silently drop matching
    * rows — violating the exactness contract — so a non-integral key
    * type fails fast here instead. (The one non-test `.collect()`-class
    * step is `small.count()` + `stat.bloomFilter`, both metadata-sized:
    * the bloom image, not the data, comes to the driver.)
    */
  def bloomSemiJoin(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def requireIntegral(df: DataFrame, key: String, side: String): Unit = {
      val dt = df.schema(key).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"bloomSemiJoin $side key '$key' must be integral (byte/short/int/long), " +
          s"got ${dt.simpleString}: a lossy cast to long would turn the exact " +
          "semi join into a silent row-dropper")
    }
    requireIntegral(big, bigKey, "big")
    requireIntegral(small, smallKey, "small")
    // Build with the sketch library directly (`stat.bloomFilter` →
    // BloomFilterImpl.create(n, fpp), a distributed treeAggregate over
    // the build side), probe with Catalyst's native codegen'd
    // BloomFilterMightContain — the same expression Spark's runtime
    // row-level filtering injects. The probe is codegen'd, so the
    // scan-side prefilter (the one place a 100 TB prefilter lives)
    // stays inside WholeStageCodegen; a UDF there broke the codegen
    // span for the whole scan stage. The library build is chosen over
    // BloomFilterAggregate deliberately: the aggregate SILENTLY clamps
    // its size to the session's runtime.bloomFilter.maxNumItems /
    // maxNumBits confs (defaults 4M items / 67M bits — sized for
    // Spark's own injected filters, not an explicit prefilter), so an
    // honest fpp required mutating shared session conf around the build
    // action — a cross-query race. BloomFilterImpl takes (n, fpp)
    // directly, no conf read, no mutation. Both sides operate on
    // `cast(key as long)`: the build putLong()s each key, the probe
    // mightContainLong()s it through the same BloomFilterImpl hashing,
    // so no-false-negatives holds and the exact semi join below makes
    // the result EXACTLY the semi join.
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.GraftColumnBridge.{column => ccol, expression => cexpr}
    val n = math.max(small.count(), 1L)
    // one binary bloom image to the driver (metadata-sized, ~1.2 B/key) —
    // shipped back out as a foldable literal the probe expression embeds
    val bf = small.select(col(smallKey).cast("long").as("__k"))
      .stat.bloomFilter("__k", n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bloomBytes = bos.toByteArray
    val probe = ccol(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      cexpr(col(bigKey).cast("long"))))
    big.filter(probe)
      .join(small, big(bigKey) === small(smallKey), "left_semi")
  }

  /** Per-group HyperLogLog sketches (Apache DataSketches HLL): the
    * persistable, MERGEABLE distinct-count surface — sketch each
    * partition/group once, store the binary images, union them later
    * for any rollup without rescanning the data. Union is lossless
    * (estimate of the union == estimate over the combined input), so a
    * 100 TB corpus pays one sketch pass and every subsequent
    * cross-group distinct query is metadata-sized.
    */
  def hllSketches(df: DataFrame, groupKey: String, target: Column): DataFrame =
    df.groupBy(groupKey).agg(hll_sketch_agg(target).as("sketch"))

  /** Estimates from a sketch table: one row per group plus an `ALL` row
    * from the union of the group sketches — the rollup that never
    * touches the raw data again.
    *
    * The ALL union folds the group sketches in SORTED-KEY order over a
    * collected array rather than via `hll_union_agg`: DataSketches'
    * union estimate is (slightly) merge-order-dependent, and the agg
    * form merges in partition order — the one place partitioning could
    * leak into this query's VALUES (observed ±2 counts across shuffle
    * widths). The sketch table is one row per GROUP (metadata-sized —
    * the raw data was already reduced), so collecting it into a single
    * sorted array costs nothing at any corpus scale, and the fold makes
    * the rollup a pure function of the group sketches — hash-gateable
    * and partition-invariant like every other declared query.
    */
  def hllEstimates(sketches: DataFrame, groupKey: String): DataFrame = {
    val per = sketches.select(col(groupKey).cast("string").as(groupKey),
      hll_sketch_estimate(col("sketch")).as("n_distinct_est"))
    val all = sketches
      .agg(sort_array(collect_list(struct(
        col(groupKey).cast("string").as("k"), col("sketch")))).as("arr"))
      .select(lit("ALL").as(groupKey),
        when(size(col("arr")) > 0,
          hll_sketch_estimate(
            aggregate(
              expr("slice(arr, 2, greatest(size(arr) - 1, 0))"),
              element_at(col("arr"), 1).getField("sketch"),
              (acc, x) => hll_union(acc, x.getField("sketch")))))
          .as("n_distinct_est"))
    per.unionByName(all).orderBy(groupKey)
  }

  /** Z-order clustered layout: repartition by range of the interleaved
    * [[graft.functions.ZOrderValue]] key and sort within partitions, so
    * BOTH dimensions' parquet min/max footers are tight and range
    * predicates on either key prune files. Write-side only (the range
    * boundaries are sampled, so partition contents are not bit-stable
    * across jobs — fine for a layout, never for hash-gated output; see
    * [[clusterBy]]).
    */
  def zorderCluster(
      df: DataFrame,
      xKey: String,
      yKey: String,
      numPartitions: Int): DataFrame = {
    val z = graft.functions.ZOrderValue(
      col(xKey).cast("long"), col(yKey).cast("long"))
    df.withColumn("__z", z)
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
