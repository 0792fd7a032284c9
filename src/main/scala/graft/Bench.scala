package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every contract query against
  * SPARK_GRAFT_SF_DIR, best-of-3 warm wall time per query with results
  * fully collected (the BASELINE.md protocol), re-times
  * contention-suspect queries (warm spread > 3×) solo after the sweep
  * so the committed record is the quiet-box number, and prints one
  * JSON line.
  *
  * Artifact attribution (round 16): several queries read stamped
  * per-corpus artifacts under java.io.tmpdir (graft_*), built on first
  * touch inside whichever timed run hits them first — a build inside a
  * timed window is indistinguishable from a regression in a bare
  * seconds record. Every timed run therefore diffs the tmpdir artifact
  * dirs before/after, the record carries per-query `artifact_builds`
  * (only runs that BUILT something), and budget retests PRE-WARM the
  * query once untimed so their timed runs are reuse-only by
  * construction. A breach that still reproduces gets a final
  * arbitration pass in a FRESH SparkSession (after the 180-query sweep
  * session is discarded): budgets measure engine time, and a breach
  * that vanishes in a fresh session is session-state residue (broadcast
  * /checkpoint block pressure), recorded as such — only a breach
  * confirmed in the fresh session counts in `n_over_budget`.
  */
object Bench {

  /** One successful timed run: its 1-based index within the query's
    * attempt sequence, wall seconds, and the stamped artifact dirs
    * that appeared or were rebuilt into during it (empty = pure
    * reuse).
    */
  final case class Run(idx: Int, secs: Double, built: Seq[String]) {
    def builtArtifacts: Boolean = built.nonEmpty
  }

  /** Stamped-artifact dirs currently under java.io.tmpdir, with a
    * RECURSIVE modification signature (max mtime ⊕ file count ⊕ total
    * bytes over the whole subtree). A dir that merely APPEARS is not
    * the only build shape: a crashed first run can leave a partial dir
    * that the next run rebuilds INTO — existence alone would report
    * that timed rebuild as reuse, recreating the build-vs-regression
    * ambiguity this instrumentation exists to remove. The signature is
    * recursive (not depth-1) because a rebuild of a PARTITIONED layout
    * can rewrite only files two+ levels deep (partition subdirs keep
    * their names and the parent's child list is unchanged) — ADVICE
    * r16; count+bytes ride along so a same-second rewrite still moves
    * the signature.
    */
  private[graft] def dirSig(d: java.io.File): Long = {
    def walk(f: java.io.File): (Long, Long, Long) = {
      val kids =
        if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        else Nil
      kids.map(walk).foldLeft(
        (f.lastModified(), 1L, if (f.isFile) f.length() else 0L)) {
        case ((m, c, b), (m2, c2, b2)) => (math.max(m, m2), c + c2, b + b2)
      }
    }
    val (m, c, b) = walk(d)
    m ^ java.lang.Long.rotateLeft(c, 21) ^ java.lang.Long.rotateLeft(b, 42)
  }

  private def artifactSigs(): Map[String, Long] = {
    val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    Option(tmp.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith(Extras.ArtifactPrefix) &&
        // the stable DuckDB-oracle mirrors are refreshed (last-writer-
        // wins) as a side channel whenever a query's stamped artifact
        // is touched — they are correctness plumbing, not a timed
        // build, and flagging them would mark half the artifact-backed
        // queries as "built" on every sweep
        f.getName != Extras.OracleIdxDir)
      .map(d => d.getName -> dirSig(d)).toMap
  }

  /** Warm-spread contention witness over a query's successful runs.
    * The EARLIEST successful run is excluded (first-touch artifact
    * builds legitimately dominate it). Single-warm-sample fallback
    * (a run failed), gated on BUILD EVIDENCE (the round-15 direction-
    * of-bias note, closed):
    *  - warm FASTER than first-touch: benign only if the first run
    *    actually BUILT artifacts; an unexplained slow first run
    *    re-enters the spread so a contended fast-fail sweep can't
    *    read as quiet;
    *  - warm SLOWER than a first-touch that built artifacts: the
    *    build-inflated first is useless as a denominator (35 s warm /
    *    30 s build-run reads as 1.17), and a warm run slower than a
    *    run that PAID A BUILD is contention by construction — the
    *    spread is unquantifiable, so report infinity and let the solo
    *    retime measure it;
    *  - warm slower, no build: both runs are comparable — plain ratio.
    */
  private[graft] def warmSpread(ts: Seq[Run]): Double = {
    val all = ts.sortBy(_.idx)
    val warm = all.drop(1)
    if (warm.size >= 2) {
      val u = warm.map(_.secs)
      if (u.min <= 0) 1.0 else u.max / u.min
    } else if (warm.size == 1) {
      val first = all.head
      val w = warm.head.secs
      if (w >= first.secs) {
        if (first.builtArtifacts) Double.PositiveInfinity
        else if (first.secs <= 0) 1.0
        else w / first.secs
      } else if (first.builtArtifacts) 1.0
      else if (w <= 0) 1.0
      else first.secs / w
    } else 1.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def newSession(cores: String): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val spark = newSession(cpus)
    // Stable iteration order: contract IDs first, then extras. An optional
    // comma-separated SPARK_GRAFT_ONLY narrows the run for solo re-benching
    // a suspect block with nothing else sharing the machine.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered =
      (Contract.all.map(_.id).filter(SparkEntry.queries.contains) ++
        SparkEntry.queries.keys.filterNot(Contract.byId.contains).toSeq.sorted)
        .filter(n => only.forall(_.contains(n)))
    val qmap = SparkEntry.queries
    // best-of-3 over SUCCESSFUL runs only; a failed query is reported
    // explicitly (None → "failed" list + nonzero count), never silently
    // dropped from the headline total. Each run carries the artifact
    // dirs it BUILT (tmpdir diff around the timed window).
    def timesOf(s: SparkSession, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        runs: Int): Seq[Run] =
      (1 to runs).flatMap { i =>
        val before = artifactSigs()
        val t0 = System.nanoTime()
        try {
          fn(s, sfDir).collect()
          val secs = (System.nanoTime() - t0) / 1e9
          val built = artifactSigs().collect {
            case (name, sig) if !before.get(name).contains(sig) => name
          }.toSeq.sorted
          Some(Run(i, secs, built))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] run failed: ${String.valueOf(e.getMessage).take(120)}")
          None
        }
      }
    // Pre-warmed best-of-3 for budget arbitration: one UNTIMED run
    // first (artifacts exist afterwards by construction), then the
    // timed runs. If a timed run still BUILT something (the untimed
    // warm run failed, or the query builds per-invocation artifacts),
    // a second timed best-of-3 runs so the verdict's min can never be
    // paying a build; the reported builds are TIMED-window builds only
    // — the benign untimed run's builds would otherwise mask whether
    // the verdict itself was build-polluted.
    def prewarmedBest(s: SparkSession,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Option[Double], Seq[String]) = {
      timesOf(s, fn, runs = 1) // untimed warm; a failure here is tolerated
      val first = timesOf(s, fn, runs = 3)
      val timed =
        if (first.exists(_.builtArtifacts)) first ++ timesOf(s, fn, runs = 3)
        else first
      (timed.map(_.secs).minOption, timed.flatMap(_.built).distinct.sorted)
    }
    val sweep = ordered.map(name => name -> timesOf(spark, qmap(name), runs = 3))
    // Quiet protocol: the committed artifact must BE the quiet-box
    // number, not a contention-polluted record a later round chases as
    // a phantom regression (round-12 committed extras ran 150 s where
    // the quiet band is 85–90 s). A query whose warm spread exceeds 3×
    // was timed under contention: re-run it best-of-3 AFTER the sweep
    // (the machine has moved on) and keep the overall min. Contended
    // names are carried in the output JSON so the record says which
    // values needed the second pass.
    val contended = sweep.collect {
      case (k, ts) if ts.nonEmpty && warmSpread(ts) > 3.0 => k
    }
    val retimed: Map[String, Double] =
      contended.map(k => k -> timesOf(spark, qmap(k), runs = 3)).collect {
        case (k, ts) if ts.nonEmpty => k -> ts.map(_.secs).min
      }.toMap
    val results: Seq[(String, Option[Double])] = sweep.map { case (k, ts) =>
      k -> (ts.map(_.secs).minOption.toSeq ++ retimed.get(k).toSeq).minOption
    }
    val failed = results.collect { case (k, None) => k }
    // per-query artifact builds observed during the sweep (only
    // non-empty entries land in the record)
    val sweepBuilds: Seq[(String, Seq[String])] = sweep.collect {
      case (k, ts) if ts.exists(_.builtArtifacts) =>
        k -> ts.flatMap(_.built).distinct.sorted
    }
    // Per-query regression budgets: BENCH_BUDGET.json (regenerated by
    // tools/make_bench_budget.py from a committed quiet-machine run)
    // pins 3x the best recorded wall per query at its (sf, cpus)
    // configuration. When this run matches that configuration, queries
    // over budget are listed in the output JSON, so a genuine
    // regression self-announces instead of relying on a human diffing
    // per-query times against prior rounds to separate engine drift
    // from host heat.
    val budgetPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET",
      new java.io.File(sys.props("user.dir"), "BENCH_BUDGET.json").getPath)
    val (budgetApplied, overBudget) = {
      val f = new java.io.File(budgetPath)
      if (!f.exists()) (false, Seq.empty[(String, Double)])
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        def strField(key: String): Option[String] =
          ("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(txt).map(_.group(1))
        val configMatches =
          strField("sf").contains(sfDir) && strField("cpus").contains(cpus)
        if (!configMatches) (false, Seq.empty[(String, Double)])
        else {
          val at = txt.indexOf("\"budgets_sec\"")
          val budgets: Map[String, Double] =
            if (at < 0) Map.empty
            else {
              val sub = txt.substring(txt.indexOf('{', at), txt.indexOf('}', at) + 1)
              "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.Ee+-]+)".r.findAllMatchIn(sub)
                .map(m => m.group(1) -> m.group(2).toDouble).toMap
            }
          (budgets.nonEmpty,
            results.collect { case (k, Some(t)) if budgets.get(k).exists(t > _) => k }
              .map(k => k -> budgets(k)))
        }
      }
    }
    // Self-check every breach: re-run it SOLO (pre-warmed best-of-3,
    // after the full sweep) — in round 8 host contention inflated
    // individual extras up to 7×, which a raw 3× budget cannot
    // distinguish from a regression. A breach whose solo re-run comes
    // back under budget is environmental.
    val retests = overBudget.map { case (k, b) =>
      val (t, built) = prewarmedBest(spark, qmap(k))
      (k, b, t, built)
    }
    val stillOver = retests.collect { case (k, b, t, _) if t.forall(_ > b) => (k, b) }
    spark.stop()
    // Final arbitration for breaches that reproduce solo: a FRESH
    // session (the 180-query sweep leaves checkpoint/broadcast block
    // residue that can slow heavy plans — the round-15 X120 record
    // could not distinguish that from a regression). Pre-warmed
    // best-of-3 again; only a breach that survives THIS is a confirmed
    // engine regression.
    val freshArb: Seq[(String, Double, Option[Double], Seq[String])] =
      if (stillOver.isEmpty) Nil
      else {
        val fresh = newSession(cpus)
        val out = stillOver.map { case (k, b) =>
          val (t, built) = prewarmedBest(fresh, qmap(k))
          (k, b, t, built)
        }
        fresh.stop()
        out
      }
    val confirmed = freshArb.collect { case (k, b, t, _) if t.forall(_ > b) => k }
    val overJson = retests.map { case (k, _, t, _) =>
      s""""$k":${t.getOrElse(-1.0)}""" }.mkString("{", ",", "}")
    val freshJson = freshArb.map { case (k, _, t, _) =>
      s""""$k":${t.getOrElse(-1.0)}""" }.mkString("{", ",", "}")
    def buildsJson(bs: Seq[(String, Seq[String])]): String =
      bs.map { case (k, ds) =>
        s""""$k":${ds.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}")
    val retestBuilds = retests.collect { case (k, _, _, b) if b.nonEmpty => k -> b }
    val freshBuilds = freshArb.collect { case (k, _, _, b) if b.nonEmpty => k -> b }
    val confirmedJson = confirmed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    // headline value = the 55 BASELINE.md contract queries (comparable
    // to the recorded baseline); the X* extras are timed separately.
    val (contract, extras) = results.partition { case (k, _) => Contract.byId.contains(k) }
    val total = contract.flatMap(_._2).sum
    val extrasTotal = extras.flatMap(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // BASELINE.md was measured at local[4]; when this run uses a
    // different core count, also time the contract suite at local[4] so
    // round-over-round ratios never mix configurations. The segment
    // runs the SAME quiet protocol as the main sweep — per-query
    // best-of-3, warm-spread contention detection, solo retime after
    // the sweep — and the per-query times land in the record, so a
    // host-throttled segment is attributable query by query instead of
    // being one unexplainable total (the round-14 20.5 s vs 8.9 s
    // ambiguity, which no single-number record could adjudicate).
    val (local4, l4Results, l4Contended) =
      if (cpus == "4") {
        // the main sweep IS the local[4] configuration — reuse its
        // contract rows rather than paying a second identical pass
        (total, contract, contended.filter(Contract.byId.contains))
      } else {
        val s4 = newSession("4")
        val sweep4 = Contract.all.map(_.id).filter(qmap.contains)
          .filter(n => only.forall(_.contains(n)))
          .map(name => name -> timesOf(s4, qmap(name), runs = 3))
        val cont4 = sweep4.collect {
          case (k, ts) if ts.nonEmpty && warmSpread(ts) > 3.0 => k
        }
        val retimed4: Map[String, Double] =
          cont4.map(k => k -> timesOf(s4, qmap(k), runs = 3)).collect {
            case (k, ts) if ts.nonEmpty => k -> ts.map(_.secs).min
          }.toMap
        val res4: Seq[(String, Option[Double])] = sweep4.map { case (k, ts) =>
          k -> (ts.map(_.secs).minOption.toSeq ++ retimed4.get(k).toSeq).minOption
        }
        s4.stop()
        (res4.flatMap(_._2).sum, res4, cont4)
      }
    val l4Qs = l4Results.map { case (k, v) => "\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val l4ContendedJson = l4Contended.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contendedJson = contended.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","cpus":"$cpus","local4_contract_sec":$local4,"local4_queries":$l4Qs,"local4_contended":$l4ContendedJson,"n_local4_contended":${l4Contended.size},"failed_queries":$failedJson,"n_failed":${failed.size},"budget_applied":$budgetApplied,"over_budget_retest_sec":$overJson,"over_budget_fresh_session_sec":$freshJson,"over_budget_confirmed":$confirmedJson,"n_over_budget":${confirmed.size},"artifact_builds":${buildsJson(sweepBuilds)},"retest_artifact_builds":${buildsJson(retestBuilds)},"fresh_artifact_builds":${buildsJson(freshBuilds)},"contention_retimed":$contendedJson,"n_contended":${contended.size},"extras_sec":$extrasTotal,"queries":$qs,"sf":"$sfDir"}"""
    // The driver tail-captures ~1.5 KB of stdout; the full line with every
    // extra's timing outgrew that window in round 6 and the headline (which
    // leads the line) was truncated away. So: persist the full record to a
    // file, then print a compact headline-only line LAST — contract queries
    // only, millisecond precision — guaranteed to fit the tail window.
    // Path is overridable / cwd-relative so a checkout elsewhere still
    // lands the durable copy next to the build (ADVICE r7).
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      new java.io.File(sys.props("user.dir"), "BENCH_FULL.json").getPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fullPath),
      (fullJson + "\n").getBytes("UTF-8"))
    println(fullJson)
    def r3(d: Double): String = f"$d%.3f"
    val qsShort = contract.map { case (k, v) =>
      "\"" + k + "\":" + v.map(r3).getOrElse("-1.0")
    }.mkString("{", ",", "}")
    // compact line caps the breach list at 8 names so the headline that
    // leads the line survives the driver's ~1.5 KB stdout tail window
    val overShort = confirmed.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","cpus":"$cpus","local4_contract_sec":${r3(local4)},"n_failed":${failed.size},"n_over_budget":${confirmed.size},"over_budget":$overShort,"n_contended":${contended.size},"extras_sec":${r3(extrasTotal)},"queries":$qsShort,"sf":"$sfDir","full":"BENCH_FULL.json"}""")
  }
}
