package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.{MinHashDedup, TextAnalysis}

/** Two-point scale-GROWTH probe (VERDICT r8 items 1 and 6): measure the
  * costliest text chains and the one super-linear-by-semantics spine
  * query at 10× AND 30× the sf0.1 corpus and fit wall ∝ N^k, so the
  * single-point "sub-linear at 10×" evidence becomes an extrapolation
  * that covers the 100 TB design point.
  *
  * Fixture shape matters: the flood fixture ([[Scale10TextBench]],
  * every text duplicated r×) makes DUP-PAIR OUTPUT inherently quadratic
  * in r — the right adversarial stress, the wrong growth model (a real
  * 10× corpus is not the same corpus 10 times). Growth fitting uses a
  * BLOCK-DIAGONAL replica instead: replica i appends a fixed-width
  * `rNN` tag to every token, so replicas share no shingles, no
  * fingerprints and no vocabulary — the corpus grows by adding NEW
  * content whose internal duplication rate is constant, which is how a
  * real corpus grows. Every path's output then scales EXACTLY linearly
  * (required below, per factor), and wall ∝ N^k is meaningful to fit.
  *
  * J08 (theta join, brand groups unshifted) is the exception documented
  * rather than bounded: its pair mass grows ∝ r² BY SEMANTICS, so the
  * probe fits wall against the measured pair mass, not against N — the
  * expected-growth formula a reader needs to not misread 17.9× wall at
  * 10× as a plan regression.
  *
  * Run: sbt "Test/runMain graft.ScaleGrowthBench [factors...]"
  */
object ScaleGrowthBench {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = f
    (r, (System.nanoTime - t0) / 1e9)
  }

  /** Run `run` under a per-task-duration listener; returns (result,
    * wall seconds, stages as (stageId, sorted task durations ms)
    * largest-total first).
    */
  private def collectTaskTimes[T](
      spark: org.apache.spark.sql.SparkSession)(run: => T): (T, Double, Seq[(Int, Vector[Long])]) = {
    val stageTasks = scala.collection.concurrent.TrieMap[
      Int, scala.collection.mutable.ArrayBuffer[Long]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null && e.taskInfo.successful)
          stageTasks.getOrElseUpdate(e.stageId,
            scala.collection.mutable.ArrayBuffer()) += e.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)
    val (r, t) = timed(run)
    Thread.sleep(2000) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    val stages = stageTasks.toSeq
      .map { case (sid, ds) => (sid, ds.toVector.sorted) }
      .sortBy { case (_, ds) => -ds.sum }
    (r, t, stages)
  }

  /** Straggler gate over every MATERIAL stage (≥ 8 tasks, ≥ 2 s total
    * task time — below that, constant per-task overhead dominates and
    * the ratio measures the scheduler, not the plan): max task within
    * 4× of the stage median, unless the breaching task is immaterial:
    * under 1 s AND under 5 % of the stage's total task time. The bound separates plans, not noise: a genuine
    * hot-key pile-up puts ~all N occurrences in one task (measured
    * 10×+ median and multi-second absolute under the old
    * window-over-key plan), while the skew-proof plans' sub-second-
    * median tail stages jitter up to ~3× on a 32-thread box from
    * GC/scheduler interference alone (observed 2.3–3.0 across quiet
    * reruns of the SAME build). The absolute floor exists because the
    * round-18 small-input spread parallelized the NON-hot slice of
    * these stages: the median dropped to ~100 ms while the planted
    * hot bucket's task stayed ~0.5 s of a 13 s stage — a ratio-only
    * gate then flags a 4 % task as a "straggler", which is exactly the
    * scheduler-measuring failure mode this paragraph promises to
    * avoid. The share bound keeps the floor from exempting a small
    * stage's genuine hot key (a 0.9 s task beside 40 ms peers is most
    * of its stage), and a real pile-up cannot hide under the floor at
    * scale: one task carrying a 10⁶-occurrence key is seconds of work
    * at any parallelism of the rest.
    */
  private def assertNoStraggler(
      tag: String, stages: Seq[(Int, Vector[Long])]): Unit = {
    val material = stages.filter { case (_, ds) => ds.size >= 8 && ds.sum >= 2000L }
    require(material.nonEmpty,
      s"$tag produced no material stage — fixture too small to measure")
    material.foreach { case (sid, ds) =>
      val med = ds(ds.size / 2).toDouble
      val ratio = ds.last / med
      println(f"SCALEGROWTH $tag stage=$sid%4d tasks=${ds.size}%3d " +
        f"total=${ds.sum / 1000.0}%7.1f s  median=${med / 1000.0}%6.2f s  " +
        f"max=${ds.last / 1000.0}%6.2f s  max/median=$ratio%.2f")
      require(ratio <= 4.0 || (ds.last < 1000L && ds.last * 20 < ds.sum),
        s"$tag straggler in stage $sid: max ${ds.last} ms vs median $med ms " +
          s"(${ds.size} tasks)")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Engine.session(
      master = "local[32]", shufflePartitions = 32, appName = "scalegrowth")
    spark.sparkContext.setLogLevel("ERROR")
    // scale the AQE skew-join thresholds down with the fixtures, but
    // ONLY around the hot-key probes that need them: their deliberately
    // skewed shuffle partitions are tens of MB where 100 TB partitions
    // would be tens of GB — far past the 256 MB default that engages
    // the split automatically there. The probes demonstrate the
    // MECHANISM; every growth measurement runs on production defaults
    // (set/restore scoped, so altered coalescing can neither mask nor
    // fabricate a growth regression).
    def withProbeSkewConfs[T](body: => T): T = {
      val keys = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")
      val prior = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val factors = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 30)

    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text", "n_chars", "lang")
    val emb = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")

    // block-diagonal replica i: disjoint doc_ids and a fixed-width
    // per-token tag (all tags 3 chars, so per-replica char counts are
    // identical and char-sum invariants stay exact); lang rides along
    // for the curation path's mixture stage (per-replica proportions
    // identical by construction)
    // explode-form replication (identical strings to the historical
    // union form — format_string("%02d", r) == f"$r%02d" at every
    // replica count): a per-factor union builds an O(factor)-node plan
    // that stops compiling in reasonable time at the 1000× point
    def corpus(factor: Int): DataFrame =
      base.select(col("doc_id"), col("text"), col("n_chars"), col("lang"),
          explode(sequence(lit(0), lit(factor - 1))).as("__r"))
        .select(
          (col("doc_id") + col("__r").cast("long") * 1000000L).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), format_string("%02d", col("__r")))).as("text"),
          col("n_chars"), col("lang"))
        .repartition(32).localCheckpoint(true)

    // X05's wall is candidate-mass bound, not N-bound: record the
    // capped candidate mass (Σ C(df,2) over shingles with df ≤ maxDf —
    // exactly the join's row count) per factor so the fit section can
    // PREDICT the top-factor wall from mass growth and compare with
    // the measurement (the cap-certification evidence: per-candidate
    // cost flat ⇒ the maxDf cap, not the corpus size, governs cost)
    val x05Mass = scala.collection.mutable.Map[Int, Long]()
    // (deconDrops, dedupDrops) per factor for the curation invariants
    val x93Stats = scala.collection.mutable.Map[Int, (Long, Long)]()
    // (deconDrops, dedupDrops, subCutTokens) per factor for the v2
    // composed-pipeline invariants
    val x121Stats = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
    // same stats for the NORMALIZED v2 chain (X121n)
    val x121nStats = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
    // run-level signing mass (distinct shingles per doc, summed) per
    // factor for the X126g linearity invariant
    val x126Mass = scala.collection.mutable.Map[Int, Long]()
    var curFactor = 0

    /** The mixed-script replica fixture shared by X127g and X126g:
      * each replica doc is its per-token-tagged English text (every
      * 10-token word window carries 10 replica tags, so word windows —
      * and word shingles — never match across replicas) followed by
      * ONE spaceless run: the doc's letters-only text transliterated
      * a–z into a DISTINCT 26-char CJK block per replica (no code
      * point — hence no char window or char gram — is shared across
      * replicas). Within a replica both parts are bijective images of
      * the base, so both span mass and shingle mass are EXACTLY
      * factor-linear. Blocks are STRING literals — Spark's chr()
      * wraps mod 256, so arithmetic code-point construction would
      * land back in ASCII and destroy block-diagonality.
      */
    def mixedScriptReplicas(factor: Int): DataFrame = {
      val letters = "abcdefghijklmnopqstuvwxyz" // 25 tags, no 'r'
      require(factor <= letters.length,
        s"mixed-script growth fixture supports factors <= ${letters.length}")
      val tags = typedLit(letters.map(_.toString))
      val blocks = typedLit((0 until 25).map(r =>
        (0 until 26).map(i => (0x4e00 + 26 * r + i).toChar).mkString))
      base.select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(factor - 1))).as("__r"))
        .select(
          (col("doc_id") + col("__r").cast("long") * 1000000L).as("doc_id"),
          concat(
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1r"), element_at(tags, col("__r") + 1))),
            lit(" "),
            array_join(transform(
              graft.text.TextAnalysis.charUnits(
                regexp_replace(lower(col("text")), "[^a-z]", "")),
              ch => element_at(blocks, col("__r") + 1)
                .substr(ascii(ch) - 96, lit(1))), ""))
            .as("text"))
        .repartition(32).localCheckpoint(true)
    }

    // each path returns (outputMeasure, linearInFactor): the measure of
    // the r-factor run must equal r × the 1-factor run when linear
    val paths: Seq[(String, DataFrame => Long, Boolean)] = Seq(
      ("X05_jaccard_capped",
        d => {
          val sh = d.select(col("doc_id"),
              explode(array_distinct(TextAnalysis.shingles(col("text"), 3))).as("s"))
            .distinct()
          x05Mass(curFactor) = sh.groupBy("s").agg(count(lit(1)).as("df"))
            .filter(col("df") <= 50)
            .agg(coalesce(sum((col("df") * (col("df") - 1) / 2).cast("long")), lit(0L)))
            .first().getLong(0)
          TextAnalysis.ngramJaccardPairs(d, n = 3, threshold = 0.6, maxDf = 50).count()
        },
        true),
      ("X07_minhash_dedup", d => MinHashDedup.dedupWinners(d).count(), true),
      ("X67_dup_coverage",
        d => TextAnalysis.crossDocDupCoverage(d, n = 5)
          .agg(sum("covered_tokens")).first().getLong(0),
        true),
      ("X68_remove_spans",
        d => TextAnalysis.removeSharedSpans(d, n = 5)
          .agg(sum(length(col("text")))).first().getLong(0),
        true),
      // X118 substring dedup, hashed scale path: replicas share no
      // windows (the per-token replica tag), so each contributes
      // replica 0's internal duplicated-span mass — removed tokens
      // exactly linear. Wall = ONE shuffle of (xxhash64, doc_id, pos)
      // (~a row per corpus token) + the per-doc islands window
      ("X118_substring_dedup",
        d => graft.text.SubstringDedup
          .duplicatedSpans(d, minTokens = 10, hashKeys = true)
          .agg(coalesce(sum("span_tokens"), lit(0L))).first().getLong(0),
        true),
      // X125c — the substring tier's CHAR-UNIT path at growth: a
      // spaceless replica fixture built for EXACT block-diagonality.
      // Each replica transliterates the base words a–z → CJK
      // (translate: a per-char BIJECTION, so within-replica window
      // equality structure is isomorphic to the base), appends a
      // per-token tag "r"+ℓ_i (ℓ_i a unique letter per replica, 'r'
      // excluded from the alphabet so tag chars never collide), then
      // strips spaces. The longest base word is ≤ 8 chars (required
      // in-closure), so consecutive distinguishing ℓ chars sit ≤ 9
      // apart and EVERY 10-char window contains one — windows never
      // match across replicas, and within-replica masses are equal by
      // the bijection, so total span mass is EXACTLY factor-linear.
      // What the point measures: the char path emits one window per
      // CODE POINT (~5× the word path's row density per byte) — its
      // wall must stay factor-linear through the same groupBy+join
      // hot-key-safe marking shape.
      ("X125c_char_substring",
        _ => {
          val letters = "abcdefghijklmnopqstuvwxyz" // 25 tags, no 'r'
          require(curFactor <= letters.length,
            s"char growth fixture supports factors <= ${letters.length}")
          require(base
            .select(max(array_max(transform(
              graft.text.TextAnalysis.tokens(col("text")), t => length(t)))))
            .first().getInt(0) <= 8,
            "block-diagonality proof needs base words <= 8 chars")
          val tags = typedLit(letters.map(_.toString))
          val cjk26 = (0 until 26).map(i => (0x4e00 + i).toChar).mkString
          val d2 = base.select(col("doc_id"), col("text"),
              explode(sequence(lit(0), lit(curFactor - 1))).as("__r"))
            .select(
              (col("doc_id") + col("__r").cast("long") * 1000000L).as("doc_id"),
              regexp_replace(
                regexp_replace(
                  translate(col("text"), "abcdefghijklmnopqrstuvwxyz", cjk26),
                  lit("(\\S+)"),
                  concat(lit("$1r"), element_at(tags, col("__r") + 1))),
                lit(" "), lit("")).as("text"))
            .repartition(32).localCheckpoint(true)
          graft.text.SubstringDedup
            .duplicatedSpans(d2, minTokens = 10, hashKeys = true, charTokens = true)
            .agg(coalesce(sum("span_tokens"), lit(0L))).first().getLong(0)
        },
        true),
      // X127g — RUN-LEVEL substring dedup at growth: a mixed-script
      // replica fixture with exact block-diagonality. Each replica doc
      // is its per-token-tagged English text (every 10-token word
      // window carries 10 replica tags, so word windows never match
      // across replicas) followed by ONE spaceless run: the doc's
      // letters-only text transliterated a–z into a DISTINCT 26-char
      // CJK block per replica (all chars stay inside one 26-wide band,
      // so no code point — hence no char window — is shared across
      // replicas). Within a replica both parts are bijective images of
      // the base, so span mass (char tier + word tier together) is
      // EXACTLY factor-linear. What the point measures: the two-stage
      // run-level composition (char virtual docs → splice → word
      // stage) must stay wall-linear through the same hot-key-safe
      // marking shape as the single-stage tiers.
      ("X127g_runlevel_substring",
        _ => {
          val d2 = mixedScriptReplicas(curFactor)
          val mass = graft.text.SubstringDedup
            .duplicatedSpansRunLevel(d2, minTokens = 10, hashKeys = true)
            .agg(coalesce(sum("span_tokens"), lit(0L))).first().getLong(0)
          d2.unpersist()
          mass
        },
        true),
      // X126g — RUN-LEVEL MinHash dedup at growth (VERDICT r16 item
      // 4): the same mixed-script fixture through the FULL runLevel
      // near-dup chain — one-pass ShingleHash signing (word shingles
      // of the run-replaced remainder ∪ char 5-grams of each ≥16-cp
      // run), banding, bucket join, exact run-level-Jaccard verify,
      // min-id winners. Replica r's shingle universe is an injective
      // image of replica 0's (word tags are per-replica suffixes; run
      // grams live in a disjoint CJK block), so per-replica signing
      // mass AND verified-pair structure are identical: winners (the
      // returned measure) are exactly factor-linear, and the signing
      // mass (stashed per factor, required exactly linear after the
      // sweep) pins that the one-pass signer emits replica-
      // proportional rows — no cross-replica gram leaks, no dispatch
      // drift at scale. What the point measures: the runLevel signing
      // path's wall must stay factor-linear through the same map-side
      // combine + fixed-size signature shuffle as the doc-level X07.
      ("X126g_runlevel_minhash",
        _ => {
          val d2 = mixedScriptReplicas(curFactor)
          val cfg = graft.text.MinHashConfig(charK = 5, runLevel = true)
          x126Mass(curFactor) = d2.agg(
            coalesce(sum(size(array_distinct(
              graft.text.TextAnalysis.shinglesAuto(
                col("text"), cfg.shingleSize, cfg.charK, runLevel = true)))
              .cast("long")), lit(0L)))
            .first().getLong(0)
          val winners = MinHashDedup.dedupWinners(d2, cfg).count()
          d2.unpersist()
          winners
        },
        true),
      ("X84_dedup_report",
        d => {
          val clusters = MinHashDedup
            .duplicateClusters(MinHashDedup.verifiedPairs(d))
            .localCheckpoint(true)
          val report = MinHashDedup.dedupReport(d, clusters).collect()
          val removed = report.map(_.getLong(2)).sum
          val nClusters = clusters.select("cluster_id").distinct().count()
          require(removed == clusters.count() - nClusters,
            s"X84 removed ($removed) must reconcile with members-clusters")
          nClusters
        },
        true),
      // X90 against a FIXED benchmark (the realistic model: the corpus
      // grows, the eval set does not): benchmark = replica 0's first
      // 250 docs, corpus = the rest. Report rows cover every corpus
      // doc (required in-closure); the drop count is required CONSTANT
      // across growth below — replicas ≥ 1 share no shingles or
      // embeddings with the benchmark, so only replica 0 can fire.
      ("X90_decontamination",
        d => {
          val bench = d.filter(col("doc_id") < 250).select("doc_id", "text")
          val cor = d.filter(col("doc_id") >= 250).select("doc_id", "text")
          val cfg = graft.text.MinHashConfig(threshold = 0.5)
          val bdir = java.nio.file.Files
            .createTempDirectory("growth-x90-bench").toString
          MinHashDedup.writeBandedIndex(
            MinHashDedup.signatures(bench, cfg), bdir, cfg)
          // the benchmark-only index pairs with the sign-in-place probe
          // (crossNearDupsAgainstBanded) — passing it to the default
          // from-banded channel would semi-join it against CORPUS ids
          // and silently empty the near-dup channel
          val benchBanded = MinHashDedup.readBandedIndex(spark, bdir, cfg)
          val rep = graft.pipeline.TrainingSet.decontaminationReport(
            cor, bench, benchBanded, emb, graft.pipeline.DeconConfig(dedup = cfg),
            nearDupPairs = Some(MinHashDedup
              .crossNearDupsAgainstBanded(cor, bench, benchBanded, cfg)))
            .localCheckpoint(true)
          require(rep.count() == d.count() - 250,
            "X90 report must cover every corpus doc")
          rep.filter(col("verdict") === "drop").count()
        },
        false),
      // X93 composed curation against a FIXED benchmark (X90's growth
      // model): the full release pipeline — decontaminate → near-dup
      // star → perplexity gate → mixture — over the grown corpus, with
      // the banded index built fresh per factor (the dedup run's own
      // linear indexing pass; a production deployment amortizes it).
      // Measure = manifest rows (exactly linear); stage invariants
      // checked after the sweep: decon drops CONSTANT (replicas ≥ 1
      // share nothing with the benchmark), dedup drops AFFINE in the
      // factor (each added replica contributes replica 0's internal
      // near-dup mass), ppl keeps equal the exact tertile formula.
      ("X93_curation",
        d => {
          val cfg = graft.text.MinHashConfig()
          val bench = d.filter(col("doc_id") < 250).select("doc_id", "text")
          val cor = d.filter(col("doc_id") >= 250)
            .select("doc_id", "text", "lang")
          val bdir = java.nio.file.Files
            .createTempDirectory("growth-x93-banded").toString
          MinHashDedup.writeBandedIndex(
            MinHashDedup.signatures(d.select("doc_id", "text"), cfg), bdir, cfg)
          val banded = MinHashDedup.readBandedIndex(spark, bdir, cfg)
          val m = graft.pipeline.TrainingSet
            .curationManifest(cor, bench, banded, emb)
            .localCheckpoint(true)
          val rows = m.count()
          require(rows == d.count() - 250, "manifest must cover every corpus doc")
          val deconDrops = m.filter(col("decon_verdict") === "drop").count()
          val dedupDrops = m.filter(col("dedup_verdict") === "drop").count()
          val s2n = m.filter(col("dedup_verdict") === "keep").count()
          val pplKeeps = m.filter(col("ppl_verdict") === "keep").count()
          val wantPpl = (1L to s2n).count(r => (r - 1) * 3 < 2 * s2n).toLong
          require(pplKeeps == wantPpl,
            s"ppl gate must keep the exact head+middle tertiles: $pplKeeps vs $wantPpl")
          val kept = m.filter(col("keep")).count()
          x93Stats(curFactor) = (deconDrops, dedupDrops)
          println(f"SCALEGROWTH X93 stages factor=$curFactor%2d  decon_drops=$deconDrops " +
            f"dedup_drops=$dedupDrops ppl_keeps=$pplKeeps kept=$kept")
          rows
        },
        // rows = corpus − the fixed 250-doc benchmark: AFFINE in the
        // factor, not proportional — the in-closure cover-every-doc
        // require plus the post-sweep stage invariants carry exactness
        false),
      // X121 composed curation V2 (X93's growth model + substring
      // stage 0): span-cut the corpus FIRST, then the full release
      // chain over the cleaned text against a banded index built over
      // that same cleaned text (fresh per factor — the run's own
      // linear indexing pass). Windows never cross replicas (the
      // per-token tag), so the cut mass is AFFINE in the factor
      // (replica 0's corpus slice ≠ a full replica, exactly like X93's
      // dedup drops); decon drops stay CONSTANT (replica 0's cleaning
      // is factor-independent — no cross-replica window exists to
      // change its spans); ppl keeps equal the exact tertile formula.
      ("X121_curation_v2",
        d => {
          val cfg = graft.text.MinHashConfig()
          val bench = d.filter(col("doc_id") < 250).select("doc_id", "text")
          val cor = d.filter(col("doc_id") >= 250)
            .select("doc_id", "text", "lang")
          // the v2 banded contract: signatures of the CLEANED corpus
          // text (∪ the untouched benchmark). ONE stage-0 pass feeds
          // both the index build and the manifest (the public
          // precleaned entry — the bench must not double-pay the
          // dominant window shuffle)
          val cleaned = graft.text.SubstringDedup
            .cleanCorpus(cor, 10, hashKeys = true).localCheckpoint(true)
          val corClean = graft.text.SubstringDedup.withCleanText(cor, cleaned)
          val bdir = java.nio.file.Files
            .createTempDirectory("growth-x121-banded").toString
          MinHashDedup.writeBandedIndex(
            MinHashDedup.signatures(
              corClean.select("doc_id", "text").unionByName(bench), cfg),
            bdir, cfg)
          val banded = MinHashDedup.readBandedIndex(spark, bdir, cfg)
          val m = graft.pipeline.TrainingSet
            .manifestV2FromCleaned(cleaned, cor, bench, banded, emb)
            .localCheckpoint(true)
          val rows = m.count()
          require(rows == d.count() - 250, "v2 manifest must cover every corpus doc")
          val deconDrops = m.filter(col("decon_verdict") === "drop").count()
          val dedupDrops = m.filter(col("dedup_verdict") === "drop").count()
          // the tertile formula binds on the SCORED survivors: a doc
          // whose span cut leaves < 2 tokens has no bigram, the LM
          // cannot score it, and the gate drops it (null bucket) — the
          // v2-specific population X93's raw-text chain never has
          val scoredN = m.filter(col("dedup_verdict") === "keep" &&
            col("ppl_bucket").isNotNull).count()
          val pplKeeps = m.filter(col("ppl_verdict") === "keep").count()
          val wantPpl = (1L to scoredN).count(r => (r - 1) * 3 < 2 * scoredN).toLong
          require(pplKeeps == wantPpl,
            s"v2 ppl gate must keep the exact head+middle tertiles of the " +
              s"scored survivors: $pplKeeps vs $wantPpl (scored $scoredN)")
          val subCut = m.agg(coalesce(sum("sub_dup_tokens"), lit(0L)))
            .first().getLong(0)
          val kept = m.filter(col("keep")).count()
          x121Stats(curFactor) = (deconDrops, dedupDrops, subCut)
          println(f"SCALEGROWTH X121 stages factor=$curFactor%2d  decon_drops=$deconDrops " +
            f"dedup_drops=$dedupDrops sub_cut=$subCut ppl_keeps=$pplKeeps kept=$kept")
          rows
        },
        false),
      // X121n — the v2 chain with CCNet normalization as stage −1
      // (the span-cut curationManifest normalizeFirst pipeline, decomposed
      // exactly like X121 so the index build is paid once). Replica
      // tags are remapped to LETTERS first: the digit fold would
      // otherwise collapse "r00"/"r05"... into one tag, the replicas
      // would become byte-identical and stage 0 would cut all of them
      // — a degenerate corpus measuring duplicate-mass handling, not
      // normalization cost. translate is a per-char bijection on the
      // tag alphabet, so token equality structure is ISOMORPHIC to
      // X121's corpus, and on this already-canonical text (lowercase
      // ASCII words, no digits/punct) normalization is semantically a
      // no-op: every X121 stage invariant must hold EXACTLY, and when
      // both paths run in one sweep their per-factor stats must be
      // EQUAL. What the point measures is the normalization pass's
      // wall growth — the NFC expression plus three regex folds over
      // every doc, which must stay factor-linear.
      ("X121n_curation_v2_norm",
        d0 => {
          val d = d0.select(col("doc_id"),
            translate(col("text"), "0123456789", "abcdefghij").as("text"),
            col("n_chars"), col("lang")).localCheckpoint(true)
          val cfg = graft.text.MinHashConfig()
          val bench = TextAnalysis.withNormalizedText(
            d.filter(col("doc_id") < 250).select("doc_id", "text"))
          val corRaw = d.filter(col("doc_id") >= 250)
            .select("doc_id", "text", "lang")
          val cor = TextAnalysis.withNormalizedText(corRaw)
          val cleaned = graft.text.SubstringDedup
            .cleanCorpus(cor, 10, hashKeys = true).localCheckpoint(true)
          val corClean = graft.text.SubstringDedup.withCleanText(cor, cleaned)
          val bdir = java.nio.file.Files
            .createTempDirectory("growth-x121n-banded").toString
          MinHashDedup.writeBandedIndex(
            MinHashDedup.signatures(
              corClean.select("doc_id", "text").unionByName(bench), cfg),
            bdir, cfg)
          val banded = MinHashDedup.readBandedIndex(spark, bdir, cfg)
          val m = graft.pipeline.TrainingSet
            .manifestV2FromCleaned(cleaned, cor, bench, banded, emb)
            .localCheckpoint(true)
          val rows = m.count()
          require(rows == d.count() - 250, "normalized v2 manifest must cover every corpus doc")
          val deconDrops = m.filter(col("decon_verdict") === "drop").count()
          val dedupDrops = m.filter(col("dedup_verdict") === "drop").count()
          val scoredN = m.filter(col("dedup_verdict") === "keep" &&
            col("ppl_bucket").isNotNull).count()
          val pplKeeps = m.filter(col("ppl_verdict") === "keep").count()
          val wantPpl = (1L to scoredN).count(r => (r - 1) * 3 < 2 * scoredN).toLong
          require(pplKeeps == wantPpl,
            s"normalized v2 ppl gate must keep the exact tertiles: $pplKeeps vs $wantPpl")
          val subCut = m.agg(coalesce(sum("sub_dup_tokens"), lit(0L)))
            .first().getLong(0)
          val kept = m.filter(col("keep")).count()
          x121nStats(curFactor) = (deconDrops, dedupDrops, subCut)
          println(f"SCALEGROWTH X121n stages factor=$curFactor%2d  decon_drops=$deconDrops " +
            f"dedup_drops=$dedupDrops sub_cut=$subCut ppl_keeps=$pplKeeps kept=$kept")
          rows
        },
        false),
      // X91 held-out LM: train on the md5 train slice of the grown
      // corpus, score everything — bigram totals are a per-doc pure
      // function, so the measure is exactly linear
      ("X91_heldout_lm",
        d => {
          val sp = graft.ops.Scale.md5Split(d, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          TextAnalysis.bigramLogProbFrom(
              sp.filter(col("split") === "train"), d)
            .agg(sum("n_bigrams")).first().getLong(0)
        },
        true),
      // X96 span report against the FIXED benchmark (X90's growth
      // model): replicas ≥ 1 share no shingles with the benchmark, so
      // the total contaminated-span mass is CONSTANT across growth
      // (required post-sweep) while the report covers every corpus doc
      ("X96_overlap_span",
        d => {
          val bench = d.filter(col("doc_id") < 250).select("doc_id", "text")
          val cor = d.filter(col("doc_id") >= 250).select("doc_id", "text")
          val rep = TextAnalysis.maxBenchmarkOverlapSpan(cor, bench)
            .localCheckpoint(true)
          require(rep.count() == d.count() - 250,
            "X96 report must cover every corpus doc")
          rep.agg(sum("max_span_tokens")).first().getLong(0)
        },
        false),
      // X98 curriculum: the two-pass global rank over the grown corpus —
      // rows exactly linear, and ord must stay a 1..N permutation
      ("X98_curriculum",
        d => {
          val cur = graft.pipeline.TrainingSet.curriculumOrder(d, nStages = 4)
            .localCheckpoint(true)
          val rows = cur.count()
          val mm = cur.agg(min("ord"), max("ord"),
            countDistinct("ord")).first()
          require(mm.getLong(0) == 1L && mm.getLong(1) == rows &&
            mm.getLong(2) == rows,
            s"ord must be a 1..N permutation: $mm vs $rows")
          rows
        },
        true))

    // SCALEGROWTH_ONLY=name,name limits the sweep — the way to push the
    // sub-linear chains to 100× without paying the quadratic-by-
    // semantics paths (X05 candidate mass, J08 pair mass) at that scale
    val only = sys.env.get("SCALEGROWTH_ONLY").map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))

    // results(path) = Seq((factor, wallSec, measure))
    val results = scala.collection.mutable.Map[String, Vector[(Int, Double, Long)]]()
      .withDefaultValue(Vector.empty)
    factors.foreach { f =>
      curFactor = f
      val docs = corpus(f)
      println(s"SCALEGROWTH corpus factor=$f rows=${docs.count()}")
      // blocks pinned at this point are load-bearing (this factor's
      // checkpointed fixture, the shared base) — everything that
      // APPEARS during a probe is that probe's residue and is dropped
      // after it finishes
      val pinnedRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      paths.filter(p => keep(p._1)).foreach { case (name, run, _) =>
        val (m, t) = timed(run(docs))
        results(name) :+= ((f, t, m))
        println(f"SCALEGROWTH $name%-20s factor=$f%2d  $t%8.2f s  measure=$m%,d")
        // release the finished probe's localCheckpoint block residue
        // before the next one plans a broadcast: checkpointed RDD
        // blocks free only when the ContextCleaner sees the RDD
        // unreachable, and at the 25x fixtures the substring probes'
        // materialized intermediates otherwise squeeze the next
        // probe's broadcast build out of this JVM's 4 GB heap (probe
        // ISOLATION, not measurement: the cleanup runs outside the
        // timed block, and each probe's own work is unaffected).
        // gc alone stopped sufficing once the round-18 spread split
        // those checkpoints into parallelism-many blocks (the r17
        // single-gc left enough unreclaimed residue that X126g's
        // broadcast build OOMed in-sweep while passing solo) — drop
        // the blocks DETERMINISTICALLY: everything persisted at this
        // point belongs to finished probes (each probe fully collects
        // before returning, and the shared `docs` fixture is re-cached
        // by its own persist call), so unpersisting is safe.
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => pinnedRdds.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
        System.gc()
      }
      x05Mass.get(f).foreach(mass =>
        println(f"SCALEGROWTH X05 candidate mass  factor=$f%2d  $mass%,d"))
      docs.unpersist()
    }

    // exact linearity of every output measure + fitted growth exponent
    // between the two largest factors
    println("SCALEGROWTH ===== fitted exponents (wall ∝ N^k) =====")
    paths.filter(p => keep(p._1)).foreach { case (name, _, linear) =>
      val rs = results(name).sortBy(_._1)
      val (f1, _, m1) = rs.head
      if (linear) rs.tail.foreach { case (f, _, m) =>
        require(m.toDouble * f1 == m1.toDouble * f,
          s"$name output must scale exactly linearly: factor $f1→$m1, factor $f→$m")
      }
      if (rs.size >= 2) {
        val (fa, ta, _) = rs(rs.size - 2)
        val (fb, tb, _) = rs.last
        val k = math.log(tb / ta) / math.log(fb.toDouble / fa)
        println(f"SCALEGROWTH $name%-20s k=${k}%.2f  (${fa}x ${ta}%.2f s → ${fb}x ${tb}%.2f s)")
      }
    }

    // X05 cap certification: per-candidate cost must be flat — the
    // wall predicted from candidate-mass growth alone should land on
    // the measured wall (the cap, not N, governs cost at scale)
    if (keep("X05_jaccard_capped") && results("X05_jaccard_capped").size >= 2) {
      val rs = results("X05_jaccard_capped").sortBy(_._1)
      val (fa, ta, _) = rs(rs.size - 2)
      val (fb, tb, _) = rs.last
      val predicted = ta * x05Mass(fb).toDouble / x05Mass(fa)
      println(f"SCALEGROWTH X05 cap certification: mass ${x05Mass(fa)}%,d → " +
        f"${x05Mass(fb)}%,d (${fa}x→${fb}x), predicted wall $predicted%.2f s, " +
        f"measured $tb%.2f s, ratio ${tb / predicted}%.2f " +
        "(≈1 ⇒ candidate-mass bound — the maxDf cap governs cost)")
    }

    // X126g signing-mass invariant: the one-pass run-level signer must
    // emit exactly replica-proportional shingle rows (a cross-replica
    // gram leak or a dispatch drift at scale would break exactness)
    if (keep("X126g_runlevel_minhash") && x126Mass.size >= 2) {
      val fs = x126Mass.keys.toSeq.sorted
      val (f1, m1) = (fs.head, x126Mass(fs.head))
      fs.tail.foreach { f =>
        require(x126Mass(f).toDouble * f1 == m1.toDouble * f,
          s"X126g signing mass must scale exactly linearly: " +
            s"factor $f1→$m1, factor $f→${x126Mass(f)}")
      }
      println(s"SCALEGROWTH X126g signing mass exactly linear: " +
        fs.map(f => s"${f}x=${x126Mass(f)}").mkString(", "))
    }

    // X93 composed-pipeline invariants: the benchmark is fixed, so the
    // decon drop count cannot move; every added replica contributes
    // exactly replica 0's internal near-dup mass, so dedup drops are
    // AFFINE in the factor (checked exactly across all three points)
    if (keep("X93_curation") && x93Stats.size >= 2) {
      val fs = x93Stats.keys.toSeq.sorted
      val decons = fs.map(f => x93Stats(f)._1)
      require(decons.distinct.size == 1,
        s"fixed-benchmark decon drops must be constant: ${fs.zip(decons)}")
      println(s"SCALEGROWTH X93 decon drops constant at ${decons.head} across factors $fs")
      if (fs.size >= 3) {
        val d = fs.map(f => f.toLong -> x93Stats(f)._2)
        val (f1, d1) = d.head
        val slopes = d.tail.map { case (f, dd) =>
          // exact rational slope comparison: (dd-d1)/(f-f1) equal for all
          (dd - d1, f - f1)
        }
        val (num0, den0) = slopes.head
        slopes.tail.foreach { case (num, den) =>
          require(num * den0 == num0 * den,
            s"dedup drops must be affine in the factor: $d")
        }
        println(s"SCALEGROWTH X93 dedup drops affine: $d (slope ${num0.toDouble / den0}/replica)")
      }
    }

    // X121 v2 composed-pipeline invariants: X93's (constant decon,
    // affine dedup) plus the stage-0 cut mass AFFINE in the factor
    // (replica 0's corpus slice vs a full replica — the X93 shape)
    if (keep("X121_curation_v2") && x121Stats.size >= 2) {
      val fs = x121Stats.keys.toSeq.sorted
      val decons = fs.map(f => x121Stats(f)._1)
      require(decons.distinct.size == 1,
        s"v2 fixed-benchmark decon drops must be constant: ${fs.zip(decons)}")
      println(s"SCALEGROWTH X121 decon drops constant at ${decons.head} across factors $fs")
      if (fs.size >= 3) {
        def affine(tag: String, pick: ((Long, Long, Long)) => Long): Unit = {
          val d = fs.map(f => f.toLong -> pick(x121Stats(f)))
          val (f1, d1) = d.head
          val slopes = d.tail.map { case (f, dd) => (dd - d1, f - f1) }
          val (num0, den0) = slopes.head
          slopes.tail.foreach { case (num, den) =>
            require(num * den0 == num0 * den,
              s"v2 $tag must be affine in the factor: $d")
          }
          println(s"SCALEGROWTH X121 $tag affine: $d (slope ${num0.toDouble / den0}/replica)")
        }
        affine("dedup drops", _._2)
        affine("sub-cut tokens", _._3)
      }
    }

    // X121n invariants: the normalized chain on the letter-tag corpus
    // must reproduce X121's shape exactly (constant decon, affine
    // dedup/sub-cut) — and when both chains ran in this sweep, their
    // per-factor stats must be EQUAL (tag remap is a bijection and the
    // corpus is already canonical, so normalization changes nothing
    // semantically; only the wall may differ, by the folds' linear cost)
    if (keep("X121n_curation_v2_norm") && x121nStats.size >= 2) {
      val fs = x121nStats.keys.toSeq.sorted
      val decons = fs.map(f => x121nStats(f)._1)
      require(decons.distinct.size == 1,
        s"normalized v2 decon drops must be constant: ${fs.zip(decons)}")
      println(s"SCALEGROWTH X121n decon drops constant at ${decons.head} across factors $fs")
      if (fs.size >= 3) {
        def affine(tag: String, pick: ((Long, Long, Long)) => Long): Unit = {
          val d = fs.map(f => f.toLong -> pick(x121nStats(f)))
          val (f1, d1) = d.head
          val slopes = d.tail.map { case (f, dd) => (dd - d1, f - f1) }
          val (num0, den0) = slopes.head
          slopes.tail.foreach { case (num, den) =>
            require(num * den0 == num0 * den,
              s"normalized v2 $tag must be affine in the factor: $d")
          }
          println(s"SCALEGROWTH X121n $tag affine: $d (slope ${num0.toDouble / den0}/replica)")
        }
        affine("dedup drops", _._2)
        affine("sub-cut tokens", _._3)
      }
      fs.filter(x121Stats.contains).foreach { f =>
        require(x121nStats(f) == x121Stats(f),
          s"normalization must be a semantic no-op on the canonical corpus: " +
            s"factor $f ${x121nStats(f)} vs ${x121Stats(f)}")
      }
      if (fs.exists(x121Stats.contains))
        println(s"SCALEGROWTH X121n stats EQUAL X121 at factors ${fs.filter(x121Stats.contains)}")
    }

    // X96's fixed-benchmark invariant: replicas ≥ 1 cannot hit the
    // benchmark, so the total contaminated-span mass must not move
    if (keep("X96_overlap_span")) {
      val spanMass = results("X96_overlap_span").map(_._3)
      require(spanMass.distinct.size == 1,
        s"fixed-benchmark span mass must be constant across growth: $spanMass")
      println(s"SCALEGROWTH X96 span mass constant at ${spanMass.head} across factors $factors")
    }

    // X90's fixed-benchmark invariant: growth adds content that cannot
    // be contaminated, so the drop count must not move at all
    if (keep("X90_decontamination")) {
      val x90Drops = results("X90_decontamination").map(_._3)
      require(x90Drops.distinct.size == 1,
        s"fixed-benchmark drop count must be constant across growth: $x90Drops")
      println(s"SCALEGROWTH X90 drop count constant at ${x90Drops.head} across factors $factors")
    }

    // J08: pair mass is quadratic by semantics — replicate part with
    // p_partkey shifted and p_brand UNSHIFTED (the rel10 growth model:
    // 10× more parts per brand), measure wall vs pair mass, and check
    // the predicted-growth formula pairMass(r) = r² × pairMass(1)
    if (keep("J08_theta")) {
    val part = Tables.load(spark, "/root/testdata/sf0.1", "part")
    def part10(factor: Int): DataFrame =
      (0 until factor).map(i =>
        part.withColumn("p_partkey", col("p_partkey") + lit(i * 100000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
    val j08 = factors.map { f =>
      val p = part10(f)
      def run(): (Long, Long) = {
        val p1 = p.as("p1"); val p2 = p.as("p2")
        val out = p1.join(p2,
            col("p1.p_brand") === col("p2.p_brand") &&
              col("p1.p_size") < col("p2.p_size"))
          .groupBy(col("p1.p_brand").as("p_brand"))
          .agg(count(lit(1)).as("n"))
        (out.count(), out.agg(sum("n")).first().getLong(0))
      }
      val ((groups, mass), t) = timed(run())
      println(f"SCALEGROWTH J08_theta factor=$f%2d  $t%8.2f s  pair_mass=$mass%,d groups=$groups")
      p.unpersist()
      (f, t, mass)
    }
    val (f1, _, m1) = j08.head
    j08.tail.foreach { case (f, _, m) =>
      require(m.toDouble * f1 * f1 == m1.toDouble * f * f,
        s"J08 pair mass must scale exactly quadratically: $f1→$m1, $f→$m")
    }
    if (j08.size >= 2) {
      val (fa, ta, ma) = j08(j08.size - 2)
      val (fb, tb, mb) = j08.last
      val costRatio = (tb / mb) / (ta / ma)
      println(f"SCALEGROWTH J08_theta wall ratio ${tb / ta}%.1fx for pair-mass ratio " +
        f"${mb.toDouble / ma}%.1fx (${fa}x→${fb}x): per-pair cost ratio $costRatio%.2fx " +
        "— wall is join-output bound when this stays near 1")
    }
    }

    // X118 HOT-KEY straggler probe (VERDICT r13 item 1): one window key
    // repeated ~10⁶× — the license-boilerplate shape the block-diagonal
    // growth fixture cannot exhibit (its replica tags make every window
    // unique to its replica). Every doc carries the SAME 10-token
    // boilerplate plus doc-unique tokens, so exactly one window key has
    // n occurrences while every other key is doc-unique. Under the old
    // count/row_number-over-__key plan all n occurrences landed in ONE
    // WindowExec partition (AQE cannot split window partitions); under
    // the groupBy+join plan the hot key collapses in the map-side
    // partial aggregate and the join back is broadcast/skew-splittable,
    // so no task dominates. Evidence: per-task durations from a
    // listener — in every material stage of the job, max task time must
    // stay within ~2× of the stage median (4× required — the
    // assertNoStraggler bound, headroom for local[32] scheduling noise
    // on ms-scale tasks; measured max/median here was ≤ 2.44).
    if (keep("X118_hotkey")) {
      val nHot = 1000000L
      val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
      val hotDocs = spark.range(1L, nHot + 1L).select(
        col("id").as("doc_id"),
        concat(lit("u"), col("id"), lit("a u"), col("id"), lit("b "),
          lit(boiler), lit(" u"), col("id"), lit("c")).as("text"))
        .repartition(32).localCheckpoint(true)
      // the probe must exercise the SCALE join strategy (merge-hinted
      // shuffle join + AQE runtime adaptation), not the small-corpus
      // explicit broadcast — require the fixture actually crosses the
      // gate, or the no-straggler evidence proves the wrong plan
      require(hotDocs.queryExecution.optimizedPlan.stats.sizeInBytes >
        graft.text.SubstringDedup.BroadcastDupStatsMaxInputBytes,
        "hot-key fixture too small to engage the merge-join path — grow nHot")
      val (mass, tHot, stages) = withProbeSkewConfs(collectTaskTimes(spark)(
        graft.text.SubstringDedup
          .duplicatedSpans(hotDocs, minTokens = 10, hashKeys = true)
          .agg(coalesce(sum("span_tokens"), lit(0L))).first().getLong(0)))
      // 13 tokens/doc, boilerplate at positions 3..12: every doc except
      // the canonical first occurrence loses exactly that 10-token span
      require(mass == 10L * (nHot - 1),
        s"hot-key fixture span mass must be 10*(n-1): got $mass")
      assertNoStraggler("X118_hotkey", stages)
      println(f"SCALEGROWTH X118_hotkey wall $tHot%.2f s  n=$nHot%,d  " +
        f"hot-key occurrences=$nHot%,d  span_tokens=$mass%,d  — no straggler")
      hotDocs.unpersist()
    }

    // X07 HOT-BUCKET probe (VERDICT r13 item 7): a NEAR-CONSTANT corpus
    // — one text mirrored 50,000× (the license-file pile) among 5,000
    // unique docs — sends 50k identical signatures into ONE (band,
    // bucket) key per band, far past maxBucket = 4096. The capped
    // generation must (a) actually engage, (b) keep the identical-
    // signature pile fully connected (its star to the min id is the
    // cap's EXACT tier — recall floor 1.0 for identical signatures, the
    // only mass a constant pile has), and (c) produce no straggler
    // task: the pile's pairs are linear (m−1 per band), not m², and the
    // star fan-out is bounded by the cap chunking.
    if (keep("X07_hotbucket")) {
      val nPile = 50000L
      val nUnique = 5000L
      val pileText = (1 to 40).map(i => s"lic$i").mkString(" ")
      val hotCorpus = spark.range(0L, nPile + nUnique).select(
        col("id").as("doc_id"),
        when(col("id") < nPile, lit(pileText))
          .otherwise(concat_ws(" ",
            (1 to 40).map(i => concat(lit(s"u${i}_"), col("id"))): _*)).as("text"))
        .repartition(32).localCheckpoint(true)
      val cfg = graft.text.MinHashConfig()
      // cap engagement is observed, not assumed: the banded member
      // table must carry buckets larger than maxBucket
      val maxBucket = graft.text.MinHashDedup
        .bandedSignatures(hotCorpus, cfg)
        .groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
        .agg(max("n")).first().getLong(0)
      require(maxBucket > cfg.maxBucket,
        s"fixture must overflow the bucket cap: max bucket $maxBucket vs cap ${cfg.maxBucket}")
      val (winners, tHot, stages) = withProbeSkewConfs(collectTaskTimes(spark)(
        graft.text.MinHashDedup.dedupWinners(hotCorpus).count()))
      // recall floor on the pile: identical signatures stay connected
      // through the cap's exact tier, so the 50k-doc pile collapses to
      // exactly ONE winner; unique docs pair with nothing
      require(winners == 1L + nUnique,
        s"capped dedup must keep the identical pile fully connected: " +
          s"$winners winners vs ${1L + nUnique} expected")
      assertNoStraggler("X07_hotbucket", stages)
      println(f"SCALEGROWTH X07_hotbucket wall $tHot%.2f s  pile=$nPile%,d  " +
        f"max_bucket=$maxBucket%,d (cap ${cfg.maxBucket})  winners=$winners%,d  — " +
        "cap engaged, recall floor held, no straggler")
      hotCorpus.unpersist()
    }

    spark.stop()
  }
}
