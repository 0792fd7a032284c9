package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Scale
import graft.text.{MinHashConfig, MinHashDedup, TextAnalysis}

/** Knobs for the end-to-end corpus → training-set pipeline. Every
  * threshold mirrors the underlying operator's default; `mixture` and
  * `benchmark`-based decontamination are opt-in stages.
  */
final case class TrainingSetConfig(
    minWords: Long = 10L,
    maxWords: Long = 100000L,
    maxDupWordFrac: Double = 0.9,
    maxTopWordFrac: Double = 0.3,
    dedup: MinHashConfig = MinHashConfig(),
    contaminationNgram: Int = 5,
    maxOverlapFrac: Double = 0.2,
    mixtureStrata: String = "lang",
    mixture: Option[Map[String, Double]] = None,
    seed: Long = 42L)

/** The filtered/deduped corpus plus the per-stage row accounting. */
final case class TrainingSetResult(docs: DataFrame, audit: Seq[(String, Long)])

/** [[TrainingSet.curateCorpus]]'s output: the per-doc stage manifest
  * (materialized) plus the surviving docs in training order with the
  * audit counts — ready for [[TrainingSet.writeChunks]].
  */
final case class CurationResult(manifest: DataFrame, result: TrainingSetResult)

/** The end-to-end training-set workflow — the composition proof that
  * the engine's pipeline operators chain into the shape a real 100 TB
  * data build runs, in the canonical order (cheap map-side filters
  * first, the expensive near-dup pass on the already-shrunk corpus):
  *
  *   1. quality gate    — Gopher-style repetition/length verdicts
  *   2. exact dedup     — min-doc_id winner per content fingerprint
  *   3. near dedup      — MinHash LSH + exact Jaccard verification
  *   4. decontaminate   — n-gram overlap vs a held-out benchmark (opt)
  *   5. mixture         — language/domain re-balancing (opt)
  *   6. ordering        — deterministic pseudo-random training order
  *
  * Every stage is doc_id-set algebra over the one corpus table
  * (left-semi joins against checkpointed id sets, so no stage
  * re-executes an earlier stage's work), and the whole build is a pure
  * function of (corpus, benchmark, config) — re-running it reproduces
  * the same set in the same order on any partition layout.
  */
object TrainingSet {

  /** Run stages 1–6 (plus the opt-in 1b/2b/5b below); `audit` holds
    * surviving-doc counts per stage (the id sets are
    * localCheckpoint'ed, so the counts are metadata reads, not
    * pipeline re-runs).
    *
    * Opt-in stages composing the learned/substring operators into the
    * canonical flow:
    *   1b. model quality gate  — keep docs the trained hashed-BoW
    *       classifier scores ≥ threshold (the fastText/CCNet filter,
    *       after the cheap rule gate so the model scores fewer docs)
    *   2b. shared-span removal — REWRITES text cutting cross-doc
    *       verbatim spans (exact-substring dedup), then re-applies the
    *       min-length floor: every later stage (near-dup shingling,
    *       decontamination, ordering) sees the cleaned text
    *   5b. importance sampling — fixed-size weighted sample without
    *       replacement, weight = exp(DSIR log-ratio vs `target`) —
    *       the "select like the seed corpus" step, after mixture so
    *       quotas bind before sampling
    */
  def build(
      documents: DataFrame,
      benchmark: Option[DataFrame] = None,
      cfg: TrainingSetConfig = TrainingSetConfig(),
      qualityModel: Option[(graft.text.QualityClassifier.Model, Double)] = None,
      spanRemovalN: Option[Int] = None,
      importanceSample: Option[(DataFrame, Int)] = None): TrainingSetResult = {

    def ids(df: DataFrame): DataFrame =
      df.select("doc_id").localCheckpoint(true)
    def keep(stage: DataFrame, keptIds: DataFrame): DataFrame =
      stage.join(keptIds, Seq("doc_id"), "left_semi")

    // 1. quality verdicts (map-side + two-phase aggregates)
    val qualityIds = ids(
      TextAnalysis.filterVerdicts(
        documents, cfg.minWords, cfg.maxWords, cfg.maxDupWordFrac, cfg.maxTopWordFrac)
        .filter(col("keep")))
    val quality = keep(documents, qualityIds)

    // 1b. optional learned quality gate on the rule-gated survivors
    val (modelGated, modelIds) = qualityModel match {
      case Some((m, thr)) =>
        val kept = ids(
          graft.text.QualityClassifier.score(quality, m)
            .filter(col("p_target") >= thr))
        (keep(quality, kept), kept)
      case None => (quality, qualityIds)
    }

    // 2. exact dedup: one 8-byte-key aggregation
    val exactIds = ids(
      modelGated.select(col("doc_id"), xxhash64(col("text")).as("__fp"))
        .groupBy("__fp").agg(min("doc_id").as("doc_id")))
    val exact = keep(modelGated, exactIds)

    // 2b. optional exact-substring dedup: REWRITE text (not id algebra
    // — downstream shingling must see the cleaned text), re-apply the
    // min-length floor, and checkpoint the rewritten corpus so later
    // stages don't re-run the shingle shuffle
    val (spanned, spanIds) = spanRemovalN match {
      case Some(n) =>
        val rewritten = TextAnalysis.removeSharedSpans(exact, n)
          .filter(size(TextAnalysis.tokens(col("text"))) >= cfg.minWords)
          .localCheckpoint(true)
        // carry every non-text column through from the exact stage
        val restored = exact.drop("text")
          .join(rewritten, Seq("doc_id"))
        (restored, ids(rewritten))
      case None => (exact, exactIds)
    }

    // 3. near dedup on the shrunk corpus (LSH candidates + exact verify)
    val nearIds = ids(MinHashDedup.dedupWinners(spanned, cfg.dedup))
    val near = keep(spanned, nearIds)

    // 4. benchmark decontamination (exact n-gram overlap)
    val cleanIds = benchmark match {
      case Some(b) => ids(
        TextAnalysis.contaminationScores(near, b, cfg.contaminationNgram)
          .filter(col("overlap_frac") <= cfg.maxOverlapFrac))
      case None => nearIds
    }
    val clean = keep(near, cleanIds)

    // 5. optional mixture re-balancing
    val mixedIds = cfg.mixture match {
      case Some(t) => ids(
        Scale.mixtureResample(clean, "doc_id", cfg.mixtureStrata, t, cfg.seed))
      case None => cleanIds
    }
    val mixed = keep(clean, mixedIds)

    // 5b. optional importance sampling toward a target seed corpus:
    // DSIR log-ratio per doc, A-ES weighted sample with w = exp(ratio)
    // (strictly positive by construction)
    val (sampled, sampledIds) = importanceSample match {
      case Some((target, k)) =>
        val weights = graft.text.Dsir.importanceWeights(mixed, target)
          .select(col("doc_id"), exp(col("dsir_weight")).as("__w"))
        val kept = ids(
          Scale.weightedSample(
            mixed.select("doc_id").join(weights, Seq("doc_id")),
            "doc_id", col("__w"), k, cfg.seed))
        (keep(mixed, kept), kept)
      case None => (mixed, mixedIds)
    }

    // 6. deterministic training order
    val ordered = Scale.shuffleOrder(sampled, "doc_id", cfg.seed)

    // audit counts read the CHECKPOINTED id sets (no stage re-runs its
    // pipeline for its count); ordering only adds a column, so its
    // membership count is stage 5b's by construction
    val sampledCount = sampledIds.count()
    val audit = Seq(
      "0_input" -> documents.count(),
      "1_quality" -> qualityIds.count()) ++
      (if (qualityModel.isDefined) Seq("1b_model_quality" -> modelIds.count()) else Nil) ++
      Seq("2_exact_dedup" -> exactIds.count()) ++
      (if (spanRemovalN.isDefined) Seq("2b_span_removal" -> spanIds.count()) else Nil) ++
      Seq(
        "3_near_dedup" -> nearIds.count(),
        "4_decontaminated" -> cleanIds.count(),
        "5_mixture" -> mixedIds.count()) ++
      (if (importanceSample.isDefined) Seq("5b_importance_sample" -> sampledCount) else Nil) ++
      Seq("6_ordered" -> sampledCount)
    TrainingSetResult(ordered, audit)
  }

  /** Padding-efficient BATCH construction over a chunk table — the
    * dynamic-batching staple: sequences padded to their batch maximum
    * waste compute proportional to the within-batch length spread, so
    * chunks are grouped into `n_tokens / bucketWidth` length buckets,
    * pseudo-randomly shuffled WITHIN their bucket (portable md5 coin),
    * and cut into batches of `batchSize` — every batch draws from one
    * bucket, bounding its length spread (and padding waste) below
    * `bucketWidth`. Batch ids are flat and contiguous (0..), assigned
    * bucket-by-bucket. Deterministic per seed; oracle-checked as X56.
    *
    * Scale shape: the per-bucket shuffle order comes from ONE global
    * two-pass row number over (bucket, coin) — per-bucket positions
    * derive by subtracting each bucket's cumulative row offset
    * (metadata-sized, like the batch-count offsets) — so no window
    * ever partitions by the HANDFUL of coarse bucket keys (the
    * straggler a naive PARTITION BY bucket would plan). The row number
    * orders by a composite (bucket-hex ++ coin) STRING key so the
    * boundary bucketing can split inside a length bucket: bucketing on
    * the raw bucket id would glue each length bucket to one window
    * partition and quietly rebuild the same straggler.
    */
  def lengthBucketedBatches(
      chunks: DataFrame,
      bucketWidth: Int,
      batchSize: Int,
      seed: Long = 42L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth=$bucketWidth")
    require(batchSize >= 1, s"batchSize=$batchSize")
    val spark = chunks.sparkSession
    import spark.implicits._
    val keyed = chunks
      .withColumn("__bucket", floor(col("n_tokens") / bucketWidth).cast("long"))
      .withColumn("__coin", substring(md5(concat_ws(":",
        concat_ws("_", col("doc_id"), col("chunk_idx")),
        lit(seed.toString)).cast("binary")), 1, 8))
      // bucket-major composite ORDER key that still varies WITHIN a
      // length bucket: boundary bucketing can never split equal
      // first-key values, so ordering by the raw __bucket (a handful of
      // distinct values) would degenerate the local window to one
      // partition per length bucket — exactly the coarse-key straggler
      // this two-pass shape exists to avoid. The fixed-width hex prefix
      // makes the string order identical to (__bucket ASC, __coin ASC),
      // so the global row number (and every batch id) is unchanged.
      .withColumn("__key",
        concat(format_string("%016x", col("__bucket")), col("__coin")))
    val ranked = graft.ops.ScalableWindows.withGlobalRowNumber(
      keyed, Seq("__key", "doc_id", "chunk_idx"), "__rn")
    // per-bucket row and batch offsets — one row per length bucket
    val counts = keyed.groupBy("__bucket").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var rowOff = 0L
    var batchOff = 0L
    val offs = counts.map { case (b, n) =>
      val row = (b, rowOff, batchOff)
      rowOff += n
      batchOff += (n + batchSize - 1) / batchSize
      row
    }
    val offsDf = broadcast(offs.toSeq.toDF("__bucket", "__roff", "__boff"))
    ranked.join(offsDf, Seq("__bucket"))
      .withColumn("batch_id",
        (col("__boff") +
          floor((col("__rn") - 1 - col("__roff")) / batchSize)).cast("long"))
      .select(chunks.columns.map(col).toSeq :+ col("batch_id"): _*)
  }

  /** The training-order chunk stream with MODEL-BATCH bin ids: the
    * chunks, ordered by (shuffle_pos, chunk_idx), are cut into bins of
    * `binTokens` via the distributed prefix sum — a chunk belongs to
    * the bin where it STARTS (the same packing contract as the X18
    * sequence packer, at chunk granularity), so a data loader pulling
    * bin b reads a contiguous training-order slice totalling at most
    * binTokens + maxTokens − 1 tokens. No single-partition window
    * anywhere ([[graft.ops.ScalableWindows.withGlobalRunningSum]]).
    */
  def binnedChunks(
      result: TrainingSetResult,
      maxTokens: Int = 2048,
      stride: Int = 2048,
      binTokens: Long = 1 << 20): DataFrame = {
    require(binTokens >= maxTokens,
      s"binTokens=$binTokens must be at least maxTokens=$maxTokens")
    graft.ops.ScalableWindows
      .withGlobalRunningSum(trainingChunks(result, maxTokens, stride),
        Seq("shuffle_pos", "chunk_idx"), "n_tokens", "__run")
      .withColumn("bin", floor((col("__run") - col("n_tokens")) / binTokens).cast("long"))
      .drop("__run")
  }

  /** Token-budget packing of a training-order chunk stream — the
    * X50 + X18 composition: consecutive chunks (in `order`, normally
    * the deterministic training order (shuffle_pos, chunk_idx)) are
    * grouped into packs of `packTokens`, each chunk assigned the pack
    * where its token run STARTS (the X18 prefix-sum contract at chunk
    * granularity), plus `pack_off` — the token offset of the chunk's
    * start inside its pack (∈ [0, packTokens) by construction).
    *
    * This is the sequence-packing step of an LLM pretraining loader: a
    * reader materializing pack p concatenates its chunks in order at
    * their offsets; a pack totals at most packTokens + maxChunk − 1
    * tokens (only the chunk that starts inside the budget may overflow
    * it), so fixed-size training sequences cut from the pack stream
    * waste no padding between documents. Deterministic, integer-only
    * (oracle-checked as X73), and computed with the distributed prefix
    * sum — no single-partition window, no per-pack shuffle: pack ids
    * are monotone in the training order, so downstream range-clustered
    * writes keep packs contiguous for free.
    */
  def packChunks(
      chunks: DataFrame,
      packTokens: Long,
      order: Seq[String] = Seq("shuffle_pos", "chunk_idx")): DataFrame = {
    require(packTokens >= 1, s"packTokens=$packTokens must be positive")
    graft.ops.ScalableWindows
      .withGlobalRunningSum(chunks, order, "n_tokens", "__run")
      .withColumn("pack_id",
        floor((col("__run") - col("n_tokens")) / packTokens).cast("long"))
      .withColumn("pack_off",
        (col("__run") - col("n_tokens") - col("pack_id") * packTokens).cast("long"))
      .drop("__run")
  }

  /** EXACT token-budget packing — [[packChunks]]'s contract with the
    * straddling chunk SPLIT at the pack boundary instead of
    * overflowing: the training-order token stream is tiled into packs
    * of EXACTLY `packTokens` tokens (only the final pack may be
    * partial), which is the shape a model loader actually feeds —
    * fixed-size sequences with zero padding and zero overflow, no
    * post-hoc trimming.
    *
    * Input = a chunk stream carrying (`order` columns, n_tokens,
    * chunk); output = one row per PIECE: the chunk's pass-through
    * columns plus
    *   - pack_id   — the pack this piece lands in,
    *   - piece_idx — 0-based index of the piece within its chunk (a
    *     chunk spans ⌈n_tokens / packTokens⌉ ≤ pieces, consecutive
    *     packs by construction),
    *   - pack_off  — token offset of the piece inside its pack,
    *   - piece_tokens / piece — the piece's token count and text
    *     (whitespace re-split of the chunk, the X50 token discipline).
    * Pieces of one chunk partition its tokens exactly (count
    * conservation) and per-pack piece_tokens sum to packTokens for
    * every non-final pack (TrainingSetSpec pins both).
    *
    * Scale shape: the distributed prefix sum (no single-partition
    * window), then strictly map-side piece arithmetic — the explode
    * emits ⌈n_tokens/packTokens⌉ + 1 rows per chunk at most, and no
    * data-sized shuffle happens at all (pack ids stay monotone in the
    * training order, so downstream range-clustered writes keep packs
    * contiguous for free, like [[packChunks]]).
    */
  def packExactChunks(
      chunks: DataFrame,
      packTokens: Long,
      order: Seq[String] = Seq("shuffle_pos", "chunk_idx")): DataFrame = {
    require(packTokens >= 1, s"packTokens=$packTokens must be positive")
    val passThrough = chunks.columns.filterNot(_ == "chunk")
    val run = graft.ops.ScalableWindows
      .withGlobalRunningSum(chunks, order, "n_tokens", "__run")
      .withColumn("__start", col("__run") - col("n_tokens"))
    // a chunk's token span [__start, __run) touches packs
    // floor(__start/B) .. floor((__run−1)/B); a zero-token chunk has an
    // empty span and lands (as an empty piece) in the pack where it
    // starts — the packChunks "starts-at" contract
    val b0 = floor(col("__start") / packTokens).cast("long")
    val b1 = when(col("n_tokens") === 0, floor(col("__start") / packTokens))
      .otherwise(floor((col("__run") - 1) / packTokens)).cast("long")
    run
      .withColumn("__b0", b0)
      .select(col("*"),
        posexplode(sequence(col("__b0"), b1)).as(Seq("piece_idx", "pack_id")))
      .withColumn("__from",
        greatest(lit(0L), col("pack_id") * packTokens - col("__start")))
      .withColumn("__to",
        least(col("n_tokens"), (col("pack_id") + 1) * packTokens - col("__start")))
      .withColumn("pack_off",
        col("__start") + col("__from") - col("pack_id") * packTokens)
      .withColumn("piece_tokens", col("__to") - col("__from"))
      .withColumn("piece",
        concat_ws(" ", slice(TextAnalysis.tokens(col("chunk")),
          (col("__from") + 1).cast("int"), (col("__to") - col("__from")).cast("int"))))
      .select((passThrough.map(col) ++ Seq(
        col("piece_idx").cast("long").as("piece_idx"), col("pack_id"),
        col("pack_off"), col("piece_tokens"), col("piece"))): _*)
  }

  /** Per-pack manifest of an exact-packed piece stream — the table a
    * loader (or a release gate) reads to trust the layout without
    * scanning pieces: piece/doc counts, the token total (= packTokens
    * for every non-final pack — `exact` says so per row), and the
    * training-order span the pack covers.
    */
  def packManifest(pieces: DataFrame, packTokens: Long): DataFrame =
    pieces.groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_pieces"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("piece_tokens")).as("n_tokens"),
        min(col("shuffle_pos")).as("first_pos"),
        max(col("shuffle_pos")).as("last_pos"))
      .withColumn("exact", col("n_tokens") === packTokens)
      .orderBy("pack_id")

  /** The model-ready packed SINK: chunk the curated corpus (X50),
    * split the training-order token stream into EXACT `packTokens`
    * packs ([[packExactChunks]]), and persist
    *   - `$outDir/pieces`   — the piece stream, range-clustered by
    *     (pack_id, pack_off) so each pack's pieces are contiguous
    *     within (and across) part files in feed order;
    *   - `$outDir/manifest` — the [[packManifest]] audit table.
    * A loader reads manifest to plan, then streams pieces by pack
    * range; every non-final pack is exactly `packTokens` tokens, so
    * fixed-size training sequences map 1:1 onto packs with zero
    * padding. Same exact-content-size file sizing as [[writeChunks]].
    */
  def writeExactPacks(
      result: TrainingSetResult,
      outDir: String,
      maxTokens: Int = 2048,
      stride: Int = 2048,
      packTokens: Long = 1 << 20,
      targetFileBytes: Long = 128L << 20): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // LAZY checkpoint: the prefix-sum machinery drives its input
    // through three jobs — without it the explode-heavy chunker re-runs
    // per job
    val raw = trainingChunks(result, maxTokens, stride).localCheckpoint(false)
    val pieces = packExactChunks(raw, packTokens).localCheckpoint(true)
    val nFiles = fileCount(pieces, "piece", targetFileBytes)
    Scale.clusterBy(pieces, nFiles, col("pack_id"), col("pack_off"))
      .write.mode("overwrite").parquet(s"$outDir/pieces")
    packManifest(pieces, packTokens)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
  }

  /** Budget-cut corpus snapshot — "take documents in the deterministic
    * shuffle order until the token budget is spent": the corpus-freeze
    * step of a data build that fixes WHICH documents a `budgetTokens`
    * run will see, before packing/batching shape them. A document is
    * kept iff its token run STARTS inside the budget (the X18/X73
    * prefix-sum contract at document granularity — only the last kept
    * document may overflow, exactly how a loader cuts sequences), so
    * the selection is a pure function of (doc_id, seed, budget):
    * growing the corpus reshuffles nothing retroactively and any
    * engine reproduces the same snapshot.
    *
    * Scale shape: one map-side token count, the [[graft.ops.Scale
    * .shuffleOrder]] coin ranking, and the distributed prefix sum —
    * no single-partition window anywhere; the filter is map-side on
    * the summed column.
    */
  def budgetCut(
      documents: DataFrame,
      budgetTokens: Long,
      seed: Long = 42L): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens=$budgetTokens must be positive")
    val toks = documents.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    // LAZY checkpoint: three narrow columns per doc, consumed by the
    // prefix-sum machinery's three jobs — without it the token count +
    // coin order re-run per job
    val ordered = Scale.shuffleOrder(toks, "doc_id", seed).localCheckpoint(false)
    graft.ops.ScalableWindows
      .withGlobalRunningSum(ordered, Seq("shuffle_pos"), "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .select("doc_id", "shuffle_pos", "n_tokens", "cum_tokens")
      .orderBy("shuffle_pos")
  }

  /** Token-budget epoch plan — the data-planning table every training
    * run starts from: given a total token budget and a temperature
    * exponent `alpha` (the n^α smoothing of the X74 mixture, Conneau &
    * Lample 2019 / Xue et al. 2020), compute per-stratum available
    * tokens, the flattened budget share w_g = n_g^α / Σ n^α, and the
    * EPOCH COUNT each stratum must repeat to fill its share:
    * epochs_g = budget·w_g / n_g. alpha = 1 gives the natural mixture
    * (every stratum runs the same epoch count = budget / Σn); smaller
    * alpha up-weights small strata into multi-epoch repetition — this
    * table is exactly where a data recipe reads "src3 repeats 4.2×"
    * and decides whether that exceeds its repetition tolerance.
    *
    * Scale shape: one corpus scan for the per-stratum token sums
    * (map-side size(tokens)), then all arithmetic happens on the
    * stratum-count-sized aggregate; the 1-row normalizer joins back by
    * broadcast. Nothing corpus-sized shuffles.
    */
  def epochPlan(
      documents: DataFrame,
      strata: String,
      budgetTokens: Long,
      alpha: Double): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha=$alpha must be in (0, 1]")
    val counts = documents.groupBy(strata)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"))
      // a stratum with zero tokens has nothing to repeat: it carries
      // zero temperature weight anyway, but its epochs column would be
      // 0/0 = NaN — drop it from the plan instead of shipping NaN rows
      // (mirrored in the X79 oracle SQL)
      .filter(col("n_tokens") > 0)
    val z = counts.agg(
      sum(pow(col("n_tokens").cast("double"), alpha)).as("__z"))
    counts.crossJoin(broadcast(z))
      .select(col(strata), col("n_docs"), col("n_tokens"),
        round(pow(col("n_tokens").cast("double"), alpha) / col("__z"), 6)
          .as("weight"),
        round(lit(budgetTokens.toDouble) *
          pow(col("n_tokens").cast("double"), alpha) / col("__z") /
          col("n_tokens").cast("double"), 4).as("epochs"))
      .orderBy(strata)
  }

  /** Materialize the [[epochPlan]] as the REPEATED training stream a
    * data loader actually consumes — the missing half of the plan
    * table: stratum g's documents each appear ⌊epochs_g⌋ times in
    * full, plus one more time for the deterministic
    * (epochs_g − ⌊epochs_g⌋)-fraction of the stratum selected by the
    * portable md5 coin — so the stream's expected token mass per
    * stratum equals its temperature-flattened budget share exactly,
    * and any engine reproduces the same repetitions row for row.
    * Output: (doc_id, strata, epoch) with epoch ∈ [0, ⌈epochs_g⌉);
    * feed it to [[graft.ops.Scale.shuffleOrder]] keyed on
    * (doc_id, epoch) for the shuffled multi-epoch order.
    *
    * Scale shape: the plan is a stratum-count-sized broadcast carrying
    * each stratum's (⌊epochs⌋, residual-fraction hex cutoff — the
    * [[graft.ops.Scale.hexCutoff]] arithmetic); the expansion is one
    * map-side explode of a per-row integer sequence. Output rows ≈
    * budget / mean-doc-tokens, bounded by the budget regardless of
    * corpus size. Zero-token strata drop with the plan's own contract.
    */
  def epochExpand(
      documents: DataFrame,
      strata: String,
      budgetTokens: Long,
      alpha: Double,
      seed: Long = 42L): DataFrame = {
    val cuts = epochPlan(documents, strata, budgetTokens, alpha)
      .select(col(strata), col("epochs"))
      .collect().map { r =>
        val e = r.getDouble(1)
        val full = math.floor(e).toLong
        (r.getString(0), full, Scale.hexCutoff(e - full))
      }
    val spark = documents.sparkSession
    import spark.implicits._
    val cutsDf = broadcast(cuts.toSeq.toDF(strata, "__full", "__cut"))
    documents
      .join(cutsDf, Seq(strata))
      .withColumn("__reps",
        concat(
          when(col("__full") >= 1, sequence(lit(0L), col("__full") - 1))
            .otherwise(array().cast("array<bigint>")),
          when(Scale.md5Coin(col("doc_id"), seed) < col("__cut"),
            array(col("__full"))).otherwise(array().cast("array<bigint>"))))
      .select(col("doc_id"), col(strata), explode(col("__reps")).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Leak-free train/val/test assignment — the FIX for what
    * [[splitLeakage]] audits: a random per-document split sends
    * ~(1−Σw²) of every near-dup pair across the boundary by
    * construction, so the split key must be the duplicate GROUP, not
    * the document. Every document is assigned its near-dup cluster id
    * (connected components over the verified pairs; its own id when
    * unclustered), and the portable md5 split runs on that group id —
    * all members of a cluster land in the same split, so
    * [[splitLeakage]] over the result is empty by construction.
    * Output: (doc_id, group_id, split).
    *
    * Scale shape: clusters come from the O(log n) label propagation
    * over the (tiny) verified-pair edge set — normally the dedup run's
    * persisted pair artifact; the assignment is one left join + a
    * map-side coin. The corpus never shuffles on anything but doc_id.
    */
  def leakFreeSplit(
      documents: DataFrame,
      pairs: DataFrame,
      weights: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    val clusters = MinHashDedup.duplicateClusters(pairs)
    val grouped = documents.select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    Scale.md5Split(grouped, "group_id", weights, seed)
      .select("doc_id", "group_id", "split")
      .orderBy("doc_id")
  }

  /** Curriculum ordering: the corpus ranked easiest-first by the
    * corpus-unigram fluency score ([[graft.text.TextAnalysis
    * .unigramLogProb]] — common-word documents score high, rare-vocab
    * documents low) and cut into `nStages` contiguous stages
    * (curriculum-learning schedules feed stage 1 before stage 2, …).
    * Output: (doc_id, mean_logp, ord, stage) in training order; docs
    * with no tokens carry no score and are excluded, matching the
    * scorer. The rank key is (mean_logp DESC, doc_id) — mean_logp is
    * 6-dp rounded, so the total order is engine-portable.
    *
    * Scale shape: the score is one broadcast-model join (X45's shape);
    * the global rank is [[graft.ops.ScalableWindows
    * .withGlobalRowNumber]]'s two-pass literal-boundary bucket rank —
    * no SinglePartition window at any size; the stage cut is Spark's
    * exact NTILE arithmetic over (rank, total), computed map-side from
    * a 1-row broadcast total.
    */
  def curriculumOrder(documents: DataFrame, nStages: Int = 4): DataFrame = {
    require(nStages >= 1, s"nStages must be >= 1: $nStages")
    // checkpoint the score table: the rank needs it three times
    // (boundary quantiles, bucket counts, the ranked join) plus the
    // total below — without this the corpus-scale scoring chain
    // (explode + model join) re-executes per consumer
    val scored = TextAnalysis.unigramLogProb(documents)
      .select(col("doc_id"), col("mean_logp"))
      .withColumn("__k", -col("mean_logp"))
      .localCheckpoint(true)
    val ranked = graft.ops.ScalableWindows
      .withGlobalRowNumber(scored, Seq("__k", "doc_id"), out = "ord")
    // one driver-side count (metadata-sized, reads the checkpoint) —
    // the NTILE cut needs the exact total as a literal
    val total = scored.count()
    ranked
      .select(col("doc_id"), col("mean_logp"), col("ord"),
        graft.ops.ScalableWindows.ntileCol(col("ord"), lit(total), nStages)
          .as("stage"))
      .orderBy("ord")
  }

  /** Split-leakage report — the classic eval-contamination bug: a
    * val/test document that near-duplicates a train document leaks the
    * answer across the split boundary, and a random (hash) split sends
    * ~(1−Σw²) of every near-dup pair's mass across boundaries by
    * construction. Returns the verified near-duplicate pairs (from the
    * persisted banded index — the same candidates + exact-Jaccard
    * machinery as the dedup paths) whose members landed in DIFFERENT
    * splits of the deterministic md5 split: (i, j, jac, split_i,
    * split_j), i < j, cross-split only. Empty output = the split is
    * leak-free; the standard fix is splitting AFTER dedup (the
    * [[build]] ordering) or group-splitting by dup-cluster id
    * ([[graft.ops.ConnectedComponents]] over the same pairs).
    */
  def splitLeakage(
      documents: DataFrame,
      banded: DataFrame,
      weights: Seq[(String, Double)],
      cfg: MinHashConfig = MinHashConfig(),
      seed: Long = 42L): DataFrame = {
    val split = Scale.md5Split(documents.select("doc_id"), "doc_id", weights, seed)
    MinHashDedup.verifiedPairsFromBanded(documents, banded, cfg)
      .join(split.select(col("doc_id").as("i"), col("split").as("split_i")), Seq("i"))
      .join(split.select(col("doc_id").as("j"), col("split").as("split_j")), Seq("j"))
      .filter(col("split_i") =!= col("split_j"))
      .select("i", "j", "jac", "split_i", "split_j")
      .orderBy("i", "j")
  }

  /** Per-pack audit of a [[packChunks]] stream — the padding-efficiency
    * measurement that motivates packing: chunk count, fill tokens, and
    * pad tokens (budget − fill, floored at 0 — an overflowing pack pads
    * nothing). One nPacks-sized aggregate; oracle-checked as X75.
    */
  def packStats(packed: DataFrame, packTokens: Long): DataFrame =
    packed.groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("fill_tokens"),
        greatest(lit(0L), lit(packTokens) - sum("n_tokens")).cast("long").as("pad_tokens"))
      .orderBy("pack_id")

  /** Materialize a built training set as size-targeted parquet of
    * sliding-window chunks in TRAINING ORDER: chunk the surviving docs
    * ([[TextAnalysis.chunkDocuments]]), attach each doc's shuffle
    * position, and range-cluster by (shuffle_pos, chunk_idx) into
    * ~`targetFileBytes` files — ascending range partitions map to
    * ascending part-file names, so a reader streaming files in name
    * order replays the deterministic shuffle, and `shuffle_pos` rides
    * along for mid-epoch resume. [[graft.sources.Sinks.parquetCompacted]]
    * is NOT reused here: its round-robin repartition balances sizes but
    * would destroy the order this writer exists to preserve.
    */
  def writeChunks(
      result: TrainingSetResult,
      outDir: String,
      maxTokens: Int = 2048,
      stride: Int = 2048,
      targetFileBytes: Long = 128L << 20,
      packTokens: Option[Long] = None): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val raw = trainingChunks(result, maxTokens, stride)
    // opt-in token-budget packing: pack ids are monotone in the
    // training order, so the range-cluster below keeps every pack's
    // chunks contiguous within (and across) part files — the written
    // stream is directly consumable as packed training sequences
    val chunks = packTokens.fold(raw)(packChunks(raw, _)).localCheckpoint(true)
    val nFiles = fileCount(chunks, "chunk", targetFileBytes)
    Scale.clusterBy(chunks, nFiles, col("shuffle_pos"), col("chunk_idx"))
      .write.mode("overwrite").parquet(outDir)
  }

  /** The surviving docs of `result` as sliding-window chunks
    * ([[TextAnalysis.chunkDocuments]]), each carrying its doc's
    * training-order `shuffle_pos`.
    */
  private def trainingChunks(result: TrainingSetResult, maxTokens: Int, stride: Int): DataFrame =
    TextAnalysis
      .chunkDocuments(result.docs.select("doc_id", "text"), maxTokens, stride)
      .join(result.docs.select("doc_id", "shuffle_pos"), Seq("doc_id"))

  /** How many ~`targetFileBytes` files to write `rows` into, from the
    * EXACT content size of its `textCol` (plus 64 bytes per row for the
    * id/position columns): one aggregate over the materialized rows.
    * Catalyst's estimate for a join is the PRODUCT of its children's
    * sizes, which would peg the count at the cap and write a million
    * near-empty files regardless of the byte target.
    */
  private def fileCount(rows: DataFrame, textCol: String, targetFileBytes: Long): Int = {
    val stats = rows
      .agg(count(lit(1)).as("rows"),
        coalesce(sum(length(col(textCol))), lit(0L)).as("bytes"))
      .first()
    val est = stats.getLong(1) + stats.getLong(0) * 64L
    ((est + targetFileBytes - 1) / targetFileBytes).max(1L).min(1L << 20).toInt
  }

  /** Unified per-document eval-contamination verdict combining the
    * engine's three decontamination channels against one benchmark —
    * the audit a release gate actually reads, instead of three
    * separate reports:
    *
    *  1. verbatim: fraction of the doc's distinct n-grams appearing in
    *     the benchmark ([[graft.text.TextAnalysis.contaminationScores]],
    *     the X30 channel);
    *  2. near-duplicate: a MinHash-verified benchmark near-dup exists
    *     ([[graft.text.MinHashDedup.crossNearDupsFromBanded]] off the
    *     persisted banded index, the X46 channel);
    *  3. semantic: max cosine to any benchmark embedding clears
    *     `cosThreshold` ([[graft.vector.SemDedup.assignWithScore]] with
    *     the benchmark vectors as the broadcast "centroids", the X88
    *     channel — catches paraphrases that share no shingle).
    *
    * Output: (doc_id, ngram_frac, near_dup, semantic_cos, verdict),
    * verdict = 'drop' iff ANY channel fires; `semantic_cos` is null
    * for docs without an embedding row and a null channel never fires
    * (SQL three-valued OR — identical in any engine, so the whole
    * report is oracle-checkable).
    *
    * Scale shape: channel 1 is one corpus shingle pass against the
    * deduped broadcast-sized benchmark set; channel 2 touches only
    * banded-candidate docs (index-bounded); channel 3 is a map-side
    * broadcast-argmax (benchmarks are tiny — the X60 assignment
    * idiom); the final assembly is three left joins on doc_id.
    */
  def decontaminationReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      banded: DataFrame,
      embeddings: DataFrame,
      decon: DeconConfig = DeconConfig(),
      nearDupPairs: Option[DataFrame] = None,
      ngramScores: Option[DataFrame] = None,
      // a composing caller (curationManifest) that has ALREADY paid the
      // banded-coverage pass for this (corpus, banded, shingleSize)
      // sets this so the same full-corpus guard scan is not re-run —
      // the check itself is unchanged, it just runs once per
      // composition instead of once per stage
      assumeBandedCoversCorpus: Boolean = false): DataFrame = {
    // channel 1 likewise accepts a persisted contaminationScores table
    // (the X30 report) — one corpus shingle pass feeds both audits
    val n = decon.n
    val ngram = ngramScores
      .getOrElse(TextAnalysis.contaminationScores(corpus, benchmark, n))
      .select(col("doc_id"), col("overlap_frac"))
    // channel 2 accepts the already-verified (i, j) pair table when the
    // caller persisted it (the X46 report IS this artifact — a release
    // gate runs both, so recomputing the banded verify here would pay
    // the same candidate chain twice). The default path semi-joins
    // `banded` against BOTH sides' ids, so the index must cover
    // corpus ∪ benchmark: a benchmark-only index (the streaming gate's
    // artifact shape) would silently empty the corpus side and report
    // near_dup = false everywhere. Guard: if the corpus has any doc
    // with a shingle-bearing text, its banded rows must be non-empty —
    // callers holding a benchmark-only index should pass
    // nearDupPairs = Some(crossNearDupsAgainstBanded(...)) instead
    // (the sign-in-place probe; see the streaming gate).
    val nd = nearDupPairs
      .getOrElse {
        if (!assumeBandedCoversCorpus)
          requireBandedCoversCorpus(corpus, banded, decon.dedup.shingleSize,
            "decontaminationReport",
            "For a benchmark-only index, pass nearDupPairs = " +
              "Some(MinHashDedup.crossNearDupsAgainstBanded(corpus, benchmark, " +
              "benchBanded, decon.dedup)) (the sign-in-place probe) instead.")
        MinHashDedup.crossNearDupsFromBanded(corpus, benchmark, banded, decon.dedup)
      }
      .select(col("i").as("doc_id")).distinct()
      .withColumn("__nd", lit(true))
    val cemb = embeddings.join(
      corpus.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val bemb = embeddings.join(
      benchmark.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val sem = graft.vector.SemDedup.assignWithScore(cemb, bemb)
      .select(col("vec_id").as("doc_id"),
        round(col("ccos"), 6).as("semantic_cos"))
    // channel 4 (opt-in): the X96 span rule — pays its own positional
    // shingle pass only when a threshold is requested
    val joined = corpus.select("doc_id")
      .join(ngram, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
    val withSpan = decon.maxSpanTokens.fold(joined)(_ => joined.join(
      TextAnalysis.maxBenchmarkOverlapSpan(corpus, benchmark, n)
        .select(col("doc_id"), col("max_span_tokens").as("span_tokens")),
      Seq("doc_id"), "left"))
    assembleDecontaminationVerdict(withSpan, decon).orderBy("doc_id")
  }

  /** Materialize a built training set as MODEL-READY batch files: the
    * [[binnedChunks]] stream (training-order chunks cut into
    * `binTokens` token-budget bins by the distributed prefix sum)
    * written `partitionBy("bin")` — the layout a data loader actually
    * consumes: pulling model batch b is ONE directory read
    * (`bin=b/`), containing a contiguous training-order slice of at
    * most binTokens + maxTokens − 1 tokens, with `shuffle_pos`
    * /`chunk_idx` riding along for in-bin ordering and mid-epoch
    * resume.
    *
    * Write fan-out: the chunk stream is range-clustered on
    * (shuffle_pos, chunk_idx) into ~`targetFileBytes` tasks BEFORE the
    * partitionBy, and bin ids are MONOTONE in that order, so each task
    * covers a contiguous bin run and each bin dir receives its rows
    * from at most two tasks — total files ≤ nBins + nTasks (every task
    * boundary splits one bin), never the nBins × nTasks shuffle-spray
    * a hash layout would produce. File NAME order inside a bin dir is
    * task order = training order, so a name-order reader replays the
    * deterministic shuffle without sorting.
    */
  def writeBinnedChunks(
      result: TrainingSetResult,
      outDir: String,
      maxTokens: Int = 2048,
      stride: Int = 2048,
      binTokens: Long = 1 << 20,
      targetFileBytes: Long = 128L << 20): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val chunks = binnedChunks(result, maxTokens, stride, binTokens)
      .localCheckpoint(true)
    val nFiles = fileCount(chunks, "chunk", targetFileBytes)
    Scale.clusterBy(chunks, nFiles, col("shuffle_pos"), col("chunk_idx"))
      .write.mode("overwrite").partitionBy("bin").parquet(outDir)
  }

  /** Per-document manifest of the COMPOSED batch curation pipeline —
    * the one table a real corpus-release run reads to answer "why is
    * doc X in (or out of) the training set". `plan` names the stages
    * and their configs. The stages chain in the canonical release
    * order, each computed over the SURVIVORS of the previous one
    * (quotas and buckets bind on what actually remains, exactly like
    * [[build]]):
    *
    *   0. (opt, `plan.spanCut`) span cut — exact substring-level dedup
    *      ([[graft.text.SubstringDedup]], Lee et al. ACL 2022) CUTS
    *      duplicated token spans from the corpus text first, and every
    *      later stage runs over the span-cleaned text (substring dedup
    *      drops tokens, never documents, so it must precede the per-doc
    *      verdicts or their scores describe text that won't ship);
    *   1. decontaminate — the unified three-channel X90 verdict
    *      against the benchmark ([[decontaminationReport]], accepting
    *      the same persisted artifacts so the release gate never pays
    *      a channel twice);
    *   1b. (opt) frozen learned quality gate — keep docs the trained
    *      hashed-BoW classifier scores ≥ threshold (the X65 model);
    *   2. near-dup starring — X78 quality-aware winners over the
    *      banded-index clusters of the surviving corpus: a doc keeps
    *      iff it is not in any verified near-dup cluster or is its
    *      cluster's most-informative member;
    *   3. perplexity gate — X81 CCNet buckets over the deduped
    *      survivors; the TAIL bucket drops. Docs the bigram LM cannot
    *      score (< 2 tokens) are unscored (null bucket) and DROP — a
    *      doc with no bigram is degenerate by the gate's own measure;
    *   4. mixture — X74 temperature-flattened resample (n^alpha over
    *      `mixtureStrata`) of everything still standing.
    *
    * Output, one row per corpus doc: the X90 channel columns +
    * decon_verdict, then three-valued per-stage verdicts —
    * `dedup_verdict`, `ppl_bucket`/`ppl_verdict`, `mixture_verdict`
    * ('keep' / 'drop' / null = the doc never reached that stage),
    * optional `quality_p` when a model is passed — and the final
    * `keep` boolean (true iff every stage kept it; equals mixture
    * survival with nulls as false, since only full survivors reach
    * the mixture). Fully deterministic, every stage is an
    * oracle-checked operator, so the whole manifest is
    * oracle-checkable (X93; X121 and X128 with a span cut).
    *
    * With a span cut the manifest gains stage-0 accounting columns
    * after doc_id: `n_tokens` (pre-clean) and `sub_dup_tokens` (tokens
    * the cut removed), plus `run_dup_chars` under `runLevel`. A doc the
    * cut empties stays in the manifest as a 0-token doc (no shingles →
    * no channel fires; the LM gate cannot score it → ppl drop), so
    * there is one row per input corpus doc, always. Contracts the
    * caller owns under a span cut:
    *  - `banded` must be built over the CLEANED corpus ∪ the benchmark
    *    (normalized first under `normalizeFirst`), under the same
    *    MinHash configs — a one-doc provenance probe fails loud on an
    *    index over other text;
    *  - embeddings are an input artifact, unchanged by the cut;
    *  - `charTokens`/`runLevel` want `charK`/`runLevel`-enabled
    *    `decon.dedup`/`corpusDedup` so the MinHash tiers see the same
    *    scripts the cut does.
    *
    * Persisted artifacts replace channel computations: `nearDupPairs`
    * (the X46 cross near-dup pairs), `ngramScores` (the X30 report) and
    * `corpusPairs` (the full-corpus verified pair table, restricted to
    * survivors — spec-pinned equal to re-verifying).
    *
    * Scale shape: each stage is its operator's own audited shape (the
    * stage-0 shuffle keyed by the window fingerprint, X90 channels,
    * banded candidates + exact verify, LM score + two-pass global rank,
    * metadata-sized mixture cutoffs); the composition adds only
    * doc_id-keyed semi/left joins, and survivor id sets ride lazy
    * checkpoints so no stage re-runs an earlier stage's heavy chain.
    */
  def curationManifest(
      corpus: DataFrame,
      benchmark: DataFrame,
      banded: DataFrame,
      embeddings: DataFrame,
      plan: CurationPlan = CurationPlan(),
      nearDupPairs: Option[DataFrame] = None,
      ngramScores: Option[DataFrame] = None,
      corpusPairs: Option[DataFrame] = None): DataFrame = plan.spanCut match {
    case Some(cut) =>
      val (cor, bench, cleaned) = spanCutStage(corpus, benchmark, cut)
      manifestV2FromCleaned(cleaned, cor, bench, banded, embeddings, plan,
        nearDupPairs, ngramScores, corpusPairs)
    case None =>
      // ONE banded-coverage guard pass for the whole composition: the
      // decon channel and the near-dup stage each guard the same
      // (corpus, banded) pair against the silent-empty hazard, and when
      // their configs agree on shingleSize (the production defaults do)
      // the two full-corpus scans are byte-identical — pay the pass once
      // per distinct shingleSize instead of once per stage
      val coverageSizes =
        (if (nearDupPairs.isEmpty) Seq(plan.decon.dedup.shingleSize) else Nil) ++
          (if (corpusPairs.isEmpty) Seq(plan.corpusDedup.shingleSize) else Nil)
      coverageSizes.distinct.foreach { s =>
        requireBandedCoversCorpus(corpus, banded, s, "curationManifest",
          "Pass nearDupPairs = Some(<the persisted cross near-dup pair " +
            "table>) / corpusPairs = Some(<the persisted full-corpus " +
            "verified pair table>) when the banded index does not cover " +
            "the corpus.")
      }
      // stage 1 — release-gate decontamination over EVERY corpus doc.
      // Lazy checkpoint: the three channels feed both the survivor
      // filter and the final assembly.
      val decon = decontaminationReport(corpus, benchmark, banded, embeddings,
          plan.decon, nearDupPairs, ngramScores, assumeBandedCoversCorpus = true)
        .withColumnRenamed("verdict", "decon_verdict")
        .localCheckpoint(false)
      val s1 = corpus.join(
        decon.filter(col("decon_verdict") === "keep").select("doc_id"),
        Seq("doc_id"), "left_semi")

      // stage 1b — optional frozen learned quality gate (X65 model)
      val qualityScores = plan.qualityModel.map { case (m, _) =>
        graft.text.QualityClassifier.score(s1, m)
          .select(col("doc_id"), col("p_target").as("quality_p"))
          .localCheckpoint(false)
      }
      val s2 = plan.qualityModel match {
        case Some((_, thr)) => s1.join(
          qualityScores.get.filter(col("quality_p") >= thr).select("doc_id"),
          Seq("doc_id"), "left_semi")
        case None => s1
      }

      // stage 2 — near-dup starring among the survivors: verified pairs
      // off the persisted banded index (pairs touching a dropped doc
      // vanish in verification — only survivor texts are shingled), X16
      // clusters, X78 most-informative winner per cluster.
      // `corpusPairs` accepts the FULL-corpus verified pair table (the
      // dedup run's persisted artifact) instead: restricting it to
      // survivor pairs is EXACTLY the from-scratch computation, because
      // banded candidates restricted to survivor ids are the survivor
      // candidates and a pair's Jaccard depends only on its two texts —
      // so the release gate reads the stored rows instead of re-paying
      // the verify chain (spec-pinned equal).
      val pairs = corpusPairs match {
        case Some(p) =>
          val ids = s2.select("doc_id")
          p.join(ids.select(col("doc_id").as("i")), Seq("i"), "left_semi")
            .join(ids.select(col("doc_id").as("j")), Seq("j"), "left_semi")
        case None =>
          // same silent-empty hazard as the decon channel: a benchmark-
          // only index yields zero corpus pairs and every near-dup copy
          // would ship with dedup_verdict = 'keep'. Guarded by the ONE
          // up-front coverage pass above.
          MinHashDedup.verifiedPairsFromBanded(s2, banded, plan.corpusDedup)
      }
      val dedupVerdict = (if (plan.minIdDedupWinners) {
        // pairwise min-id rule: a doc loses iff it is the j of some
        // verified pair (dedupWinners/winnersFrom semantics — the rule
        // the incremental streaming ingest realizes)
        s2.select("doc_id")
          .join(pairs.select(col("j").as("doc_id"), lit(true).as("__lose"))
            .distinct(), Seq("doc_id"), "left")
          .select(col("doc_id"), col("__lose").isNull.as("dedup_keep"))
      } else {
        val clusters = MinHashDedup.duplicateClusters(pairs)
          .localCheckpoint(false)
        val winners = MinHashDedup.qualityAwareWinners(s2, clusters)
        s2.select("doc_id")
          .join(clusters.select(col("doc_id"), lit(true).as("__cl")), Seq("doc_id"), "left")
          .join(winners.select(col("keep_id").as("doc_id"), lit(true).as("__win")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("__win"), col("__cl").isNull).as("dedup_keep"))
      }).localCheckpoint(false)
      val s3 = s2.join(dedupVerdict.filter(col("dedup_keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")

      // stage 3 — CCNet perplexity gate over the deduped survivors: the
      // bucket boundaries are computed on exactly what remains
      val ppl = TextAnalysis.perplexityBuckets(s3, plan.pplBuckets)
        .select(col("doc_id"), col("bucket").as("ppl_bucket"))
      val pplVerdict = s3.select("doc_id")
        .join(ppl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ppl_bucket"),
          coalesce(col("ppl_bucket") < (plan.pplBuckets - 1), lit(false)).as("ppl_keep"))
        .localCheckpoint(false)
      val s4 = s3.join(pplVerdict.filter(col("ppl_keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")

      // stage 4 — temperature-flattened mixture of everything standing
      // (an earlier stage may legitimately drop EVERYTHING — a fully
      // contaminated slice; temperatureResample of nothing is nothing,
      // so the manifest then reports keep = false everywhere)
      // lazy checkpoint of the 2-column mixture input: the temperature
      // resample pays two driver-side count collects plus the final
      // filter scan, and the final assembly reads the verdict once more —
      // without this the whole s4 survivor chain re-derives per action
      val s4m = s4.select(col("doc_id"), col(plan.mixtureStrata))
        .localCheckpoint(false)
      val mixtureVerdict = s4m.select("doc_id")
        .join(Scale.temperatureResample(s4m, "doc_id", plan.mixtureStrata,
            plan.mixtureAlpha, plan.seed)
          .select(col("doc_id"), lit(true).as("__mx")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__mx"), lit(false)).as("mixture_keep"))

      // assembly — left joins on doc_id; a null stage verdict means the
      // doc never reached that stage. Stage verdicts are three-valued
      // STRINGS ('keep' / 'drop' / null), not nullable booleans: null
      // booleans render as None vs NaN across engines/dataframe bridges
      // (a representation hazard, not a value difference), while null
      // strings are null everywhere. keep = mixture survival with
      // null→false: only a doc that survived every earlier stage has a
      // mixture verdict at all.
      def verdictOf(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(b === true, "keep").when(b === false, "drop")
      val withQuality = qualityScores.fold(decon)(qs => decon.join(qs, Seq("doc_id"), "left"))
      // explicit positional schema, matching the X93 oracle column for
      // column (quality_p slots after decon_verdict when a model ran)
      val cols =
        Seq(col("doc_id"), col("ngram_frac"), col("near_dup"),
          col("semantic_cos")) ++
        plan.decon.maxSpanTokens.map(_ => col("span_tokens")).toSeq ++
        Seq(col("decon_verdict")) ++
        (if (qualityScores.isDefined) Seq(col("quality_p")) else Nil) ++
        Seq(verdictOf(col("dedup_keep")).as("dedup_verdict"),
          col("ppl_bucket"),
          verdictOf(col("ppl_keep")).as("ppl_verdict"),
          verdictOf(col("mixture_keep")).as("mixture_verdict"),
          coalesce(col("mixture_keep"), lit(false)).as("keep"))
      withQuality
        .join(dedupVerdict, Seq("doc_id"), "left")
        .join(pplVerdict, Seq("doc_id"), "left")
        .join(mixtureVerdict, Seq("doc_id"), "left")
        .select(cols: _*)
        .orderBy("doc_id")
  }

  /** The composed batch curation DRIVER — [[curationManifest]] plus
    * everything a release run does with it: the manifest is
    * materialized once (eager checkpoint — the audit, the survivor
    * selection and any writer all read it without re-running the stage
    * chains), the per-stage audit counts come from ONE aggregate over
    * the manifest (never a stage re-run), and the surviving docs get
    * the deterministic X47 training order, returned as a
    * [[TrainingSetResult]] so [[writeChunks]] / [[binnedChunks]] /
    * [[packChunks]] compose unchanged — curate → order → chunk → pack
    * → write in one call chain. Under a span cut the survivors carry
    * the CLEANED text: that is the text the release ships, so it is
    * the text the chunk/pack/write tail must see.
    */
  def curateCorpus(
      corpus: DataFrame,
      benchmark: DataFrame,
      banded: DataFrame,
      embeddings: DataFrame,
      plan: CurationPlan = CurationPlan(),
      nearDupPairs: Option[DataFrame] = None,
      ngramScores: Option[DataFrame] = None,
      corpusPairs: Option[DataFrame] = None): CurationResult = {
    // stages −1/0 run once: the manifest and the shipped survivor text
    // read the same lazily checkpointed cut
    val cut = plan.spanCut.map(spanCutStage(corpus, benchmark, _))
    val manifest = cut.fold(curationManifest(corpus, benchmark, banded,
        embeddings, plan, nearDupPairs, ngramScores, corpusPairs)) {
      case (cor, bench, cleaned) => manifestV2FromCleaned(cleaned, cor, bench,
        banded, embeddings, plan, nearDupPairs, ngramScores, corpusPairs)
    }.localCheckpoint(true)
    // the audit is one pass over the (already materialized) manifest:
    // conditional counts, not stage re-runs. Docs with a non-null
    // dedup verdict are exactly the docs that reached stage 2 — i.e.
    // the model gate's survivors when a model ran (the [[build]]
    // audit's 1b row; without it the model's drops would read as
    // near-dup losers). The run-level char-tier count (0c) overlaps 0b
    // by design on doc-level spaceless docs, whose one cut is counted
    // in their own units: it answers "how much did the run tier
    // remove", not "how much extra".
    def total(c: String) = coalesce(sum(c), lit(0L))
    val counted = Seq("0_input" -> count(lit(1))) ++
      plan.spanCut.toSeq.flatMap(cut => Seq(
        "0a_input_tokens" -> total("n_tokens"),
        "0b_substring_cut_tokens" -> total("sub_dup_tokens")) ++
        (if (cut.runLevel) Seq("0c_runlevel_cut_chars" -> total("run_dup_chars"))
         else Nil)) ++
      Seq("1_decontaminated" -> count(when(col("decon_verdict") === "keep", 1))) ++
      plan.qualityModel.map(_ => "1b_model_quality" -> count(col("dedup_verdict"))) ++
      Seq(
        "2_near_dedup" -> count(when(col("dedup_verdict") === "keep", 1)),
        "3_perplexity_gate" -> count(when(col("ppl_verdict") === "keep", 1)),
        "4_mixture" -> count(when(col("keep"), 1)))
    val a = manifest.agg(counted.head._2, counted.tail.map(_._2): _*).first()
    // index capped-bucket exposure (VERDICT r10 item 3): the X84
    // report's recall-degradation columns, mirrored into the release
    // audit so the manifest summary carries them too — one 8-byte-key
    // aggregate over the banded index, zero when pair generation was
    // fully exhaustive
    val cap = plan.corpusDedup.maxBucket
    val bs = banded.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(sum(when(col("__n") > cap, col("__n"))), lit(0L)),
        coalesce(sum(col("__n")), lit(0L)))
      .first()
    val audit = counted.map(_._1).zipWithIndex.map { case (k, i) => k -> a.getLong(i) } ++
      Seq(
        "idx_capped_member_rows" -> bs.getLong(0),
        "idx_member_rows" -> bs.getLong(1))
    val shipped = cut.fold(corpus) { case (cor, _, cleaned) =>
      graft.text.SubstringDedup.withCleanText(cor, cleaned) }
    val survivors = shipped.join(
      manifest.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    CurationResult(manifest,
      TrainingSetResult(Scale.shuffleOrder(survivors, "doc_id", plan.seed), audit))
  }

  /** Stages −1 and 0 of a span cut: the corpus and benchmark as the
    * later stages read them, and the lazily checkpointed stage-0 table
    * ([[graft.text.SubstringDedup.cleanCorpus]]'s output) over that
    * corpus. Optional stage −1 is CCNet text normalization (NFC,
    * case/digit/punctuation folds) of corpus AND benchmark, so every
    * downstream fingerprint (substring windows, MinHash shingles, decon
    * n-grams) sees one canonical form and composition-/case-only
    * near-dups stop escaping the tiers; normalizing the corpus but not
    * the benchmark would silently blind decontamination — both or
    * neither. The accounting and the shipped text are then NORMALIZED.
    */
  private def spanCutStage(corpus: DataFrame, benchmark: DataFrame,
      cut: SpanCut): (DataFrame, DataFrame, DataFrame) = {
    val (cor, bench) =
      if (cut.normalizeFirst)
        (TextAnalysis.withNormalizedText(corpus),
          TextAnalysis.withNormalizedText(benchmark))
      else (corpus, benchmark)
    // lazy checkpoint: the clean text feeds every downstream stage AND
    // the accounting columns
    val cleaned =
      if (cut.runLevel)
        graft.text.SubstringDedup
          .cleanCorpusRunLevel(cor, cut.windowTokens, cut.hashWindowKeys)
      else graft.text.SubstringDedup
        .cleanCorpus(cor, cut.windowTokens, cut.hashWindowKeys, cut.charTokens)
    (cor, bench, cleaned.localCheckpoint(false))
  }

  /** The span-cut manifest over an already-materialized stage-0 table
    * ([[graft.text.SubstringDedup.cleanCorpus]]'s output for exactly
    * `corpus`): the stage-0 accounting columns joined to the verdict
    * stages over the cleaned text, under `plan`'s stage 1–4 configs
    * (`plan.spanCut` is not read — `cleaned` already is the cut). For
    * a caller that already holds the cleaned table, e.g. because it
    * also built the span-cut banded index from it.
    */
  private[graft] def manifestV2FromCleaned(
      cleaned: DataFrame,
      corpus: DataFrame,
      benchmark: DataFrame,
      banded: DataFrame,
      embeddings: DataFrame,
      plan: CurationPlan = CurationPlan(),
      nearDupPairs: Option[DataFrame] = None,
      ngramScores: Option[DataFrame] = None,
      corpusPairs: Option[DataFrame] = None): DataFrame = {
    // the provenance spot check runs for every config the index is
    // ACTUALLY consumed under: the dedup stage reads it with
    // corpusDedup unless corpusPairs short-circuits that stage, and
    // the decon near-dup channel reads it with the decon config unless
    // nearDupPairs does — a stale index must fail loud on whichever
    // path still touches it. Configs agreeing on every member-row
    // parameter (shingleSize, numHashes, bands) are checked once.
    val consumedUnder =
      (if (corpusPairs.isEmpty) Seq(plan.corpusDedup) else Nil) ++
        (if (nearDupPairs.isEmpty) Seq(plan.decon.dedup) else Nil)
    consumedUnder
      .groupBy(c => (c.shingleSize, c.numHashes, c.bands, c.charK, c.runLevel))
      .values.map(_.head)
      .foreach(requireBandedOverCleanedText(cleaned, banded, _))
    // lazy checkpoint: every downstream consumer of the cleaned corpus
    // (the decon channels, each stage chain's semi-join re-derivation,
    // the perplexity scorer's three scans, the final assembly) would
    // otherwise re-pay the corpus ⨝ cleaned text-swap join per scan —
    // the same corpus-sized-text class the `cleaned` table above
    // already checkpoints
    val corpusClean =
      graft.text.SubstringDedup.withCleanText(corpus, cleaned)
        .localCheckpoint(false)
    // a run-level stage-0 table carries its char-tier accounting too —
    // ride it into the manifest right after sub_dup_tokens (the one
    // shared projection the streaming manifest also uses)
    cleaned
      .select(graft.text.SubstringDedup.stage0AccountingCols(cleaned): _*)
      .join(
        curationManifest(corpusClean, benchmark, banded, embeddings,
          plan.copy(spanCut = None), nearDupPairs, ngramScores, corpusPairs),
        Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** The v2 banded contract ([[manifestV2FromCleaned]]: the index was
    * built over THIS run's CLEANED corpus text) enforced at runtime by
    * a one-doc spot check: an index built over raw pre-clean text
    * carries the same doc_ids, so [[requireBandedCoversCorpus]] passes
    * while every near-dup candidate comes from stale signatures —
    * silent verdict drift. Recomputing ONE sampled doc's member rows
    * from its clean_text and requiring the index to carry exactly them
    * catches that with near-certainty (one changed token moves the
    * whole signature, hence every band bucket). Cost: one
    * TakeOrdered(1) over the (checkpointed) cleaned table, one pushed-
    * predicate scan of the index, one 1-row signature job — metadata-
    * sized against the stages this guards.
    */
  private def requireBandedOverCleanedText(
      cleaned: DataFrame,
      banded: DataFrame,
      cfg: MinHashConfig): Unit = {
    // under a charK config a spaceless doc signs through the char-gram
    // fallback even with < shingleSize tokens, so "has signature rows"
    // must follow the same dispatch the signer uses
    val shingleable =
      if (cfg.charK > 0)
        size(TextAnalysis.shinglesAuto(
          col("clean_text"), cfg.shingleSize, cfg.charK, cfg.runLevel)) > 0
      else size(TextAnalysis.tokens(col("clean_text"))) >= cfg.shingleSize
    // prefer a doc the span cut actually CHANGED (dup_tokens > 0 — or,
    // on a run-level table, a char-tier run cut): an unchanged doc
    // signs identically under raw and cleaned text, so it can validate
    // the config/scheme but never the text version. When no changed
    // doc shingles, cleaned ≡ raw on every probeable doc and the
    // fallback still pins config/scheme drift.
    val changed =
      if (cleaned.columns.contains("run_dup_chars"))
        col("dup_tokens") > 0 || col("run_dup_chars") > 0
      else col("dup_tokens") > 0
    val probe = cleaned
      .filter(changed && shingleable)
      .orderBy("doc_id")
      .select("doc_id", "clean_text")
      .limit(1).collect() match {
        case found if found.nonEmpty => found
        case _ => cleaned.filter(shingleable).orderBy("doc_id")
          .select("doc_id", "clean_text").limit(1).collect()
      }
    if (probe.isEmpty) return // nothing shingles — nothing the index could index
    val id = probe.head.getLong(0)
    val spark = cleaned.sparkSession
    val one = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(id, probe.head.getString(1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    // both metadata-sized row sets in ONE action (a tagged union) —
    // two separate collects pay the driver round trip twice
    val sides = MinHashDedup.expectedMemberRows(one, cfg)
      .select(lit(0).as("side"), col("sigh"), col("band"), col("bucket"))
      .unionByName(banded.filter(col("id") === id)
        .select(lit(1).as("side"), col("sigh"), col("band"), col("bucket")))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getInt(2), r.getLong(3))))
    val want = sides.collect { case (0, row) => row }.toSet
    val got = sides.collect { case (1, row) => row }.toSet
    require(got == want,
      s"v2 banded contract violated: the index's rows for sampled doc_id $id " +
        s"do not match the signature of its CLEANED text (AlgorithmVersion " +
        s"${graft.text.SubstringDedup.AlgorithmVersion}). The index was built " +
        "over a different text version (likely the raw pre-clean corpus) or a " +
        "different MinHash config — near-dup candidates would come from stale " +
        "signatures. Rebuild the banded index over cleanCorpus output.")
  }

  /** Fail-loud coverage check shared by every consumer that semi-joins
    * a banded index against corpus ids: a benchmark-only index (the
    * streaming gate's artifact shape) — or a STALE index built from a
    * partial corpus snapshot — silently empties the corpus side for
    * the uncovered docs, which then all read as pair-free (near_dup =
    * false / dedup keep) with no error. This is a real COVERAGE check:
    * every shingle-bearing corpus doc (≥ shingleSize tokens — exactly
    * the docs the signing pass gives banded rows to) must appear in
    * the index. Cost: one token-length pass over the corpus plus an
    * anti-join against the index's 8-byte id column — a small constant
    * factor on top of the full shingle-verify chain this guard sits in
    * front of, and the anti-join's isEmpty action terminates on the
    * first uncovered doc. `remedy` tells the caller the artifact-param
    * escape hatch for their entry point.
    */
  private def requireBandedCoversCorpus(
      corpus: DataFrame,
      banded: DataFrame,
      shingleSize: Int,
      context: String,
      remedy: String): Unit = {
    val uncovered = corpus
      .filter(size(TextAnalysis.tokens(col("text"))) >= shingleSize)
      .select("doc_id")
      .join(banded.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    if (!uncovered.isEmpty) {
      val ex = uncovered.orderBy("doc_id").limit(3)
        .collect().map(_.getLong(0)).mkString(", ")
      throw new IllegalArgumentException(
        s"$context: the banded index does not cover the corpus — " +
          s"shingle-bearing documents (e.g. doc_id $ex) have no index rows, " +
          s"so they would silently read as pair-free (near_dup = false / " +
          s"dedup keep). Rebuild the index over the current corpus, or: $remedy")
    }
  }

  /** THE five-column assembly + three-valued-OR verdict of the unified
    * decontamination report — shared by the batch report above and the
    * streaming gate ([[graft.streaming.StreamOps
    * .decontaminationGateStream]]), so a threshold or column change
    * lands in both at once (they are pinned hash-equal by
    * StreamingSpec; this helper makes the equality true by
    * construction, not by discipline). Input: doc_id plus the three
    * nullable channel columns `overlap_frac`, `__nd`, `semantic_cos`;
    * a null channel never fires (SQL three-valued OR), so docs a
    * channel never saw stay 'keep'-able — identical in any engine.
    */
  private[graft] def assembleDecontaminationVerdict(
      joined: DataFrame,
      decon: DeconConfig): DataFrame = {
    // channel 4 (opt-in): longest verbatim benchmark run — GPT-3's
    // span rule. A false literal when disabled, so the three-channel
    // three-valued-OR semantics (and the X90 oracle) are untouched.
    val spanFires = decon.maxSpanTokens
      .map(t => coalesce(col("span_tokens"), lit(0L)) >= t)
      .getOrElse(lit(false))
    val cols = Seq(col("doc_id"),
      coalesce(col("overlap_frac"), lit(0.0)).as("ngram_frac"),
      coalesce(col("__nd"), lit(false)).as("near_dup"),
      col("semantic_cos")) ++
      decon.maxSpanTokens.map(_ =>
        coalesce(col("span_tokens"), lit(0L)).as("span_tokens")).toSeq :+
      when(coalesce(col("overlap_frac"), lit(0.0)) >= decon.ngramThreshold ||
          coalesce(col("__nd"), lit(false)) ||
          col("semantic_cos") >= decon.cosThreshold || spanFires, "drop")
        .otherwise("keep").as("verdict")
    joined.select(cols: _*)
  }
}
