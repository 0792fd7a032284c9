package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.Engine

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: File,
    traceDir: File,
    expectedDir: File,
    only: Option[Set[String]] = None,
    wrongHash: Option[String] = None,
    cores: Int = Runtime.getRuntime.availableProcessors())

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    Workloads(w) // fail fast on an unknown name
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), new File(need("work")), new File(need("trace-dir")),
      new File(need("expected")),
      only = kv.get("only").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet))
  }
}

/** One timed op execution. */
final case class Sample(pass: Int, op: String, module: String, ms: Double,
    failure: Option[String])

/** Everything one run measured. */
final case class RunResult(
    workload: String, seed: Long,
    sessionMs: Double, registerMs: Double, warmMs: Double, referenceMs: Double,
    samples: Seq[Sample], passSecs: Seq[Double],
    residueMb: Seq[Double], timedBuilds: Seq[String],
    scanBytes: Long, writeBytes: Long,
    traces: Seq[OpTrace], spans: Seq[Span]) {

  def setupS: Double = (sessionMs + registerMs + warmMs) / 1000
  def attempted: Int = samples.size
  def failed: Int = samples.count(_.failure.nonEmpty)
  def failures: Seq[Sample] = samples.filter(_.failure.nonEmpty)

  /** p90 is reported only when at least ten samples lie beyond it. */
  def p90: Option[Double] = {
    val ms = samples.map(_.ms)
    if (ms.size < 100) None else Some(Stats.percentile(ms, 90))
  }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tail: Option[(Int, Double)] = {
    val n = samples.size
    if (n < 11) None
    else {
      val q = math.floor(100.0 * (n - 10) / n).toInt
      Some(q -> Stats.percentile(samples.map(_.ms), q))
    }
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("pass_s", Stats.median(passSecs), "s"),
    ("op_p50_ms", Stats.median(samples.map(_.ms)), "ms"),
    ("setup_s", setupS, "s"))

  /** Per-layer figures: per-pass sums (median over traced passes),
    * except where a ratio or an extreme is named.
    */
  def perLayer(cores: Int): Seq[(String, Double, String)] = {
    val byPass = traces.groupBy(_.pass).values.toSeq
    def sum(f: OpTrace => Double, module: Option[String] = None): Double =
      if (byPass.isEmpty) 0.0
      else Stats.median(byPass.map(_.filter(t => module.forall(_ == t.module)).map(f).sum))
    val wall = traces.map(_.wallMs).sum
    val builds = timedBuilds.size
    val reads = traces.map(_.artifactReads).sum
    val modules = Seq("ops", "text", "vector", "pipeline")
    Seq(("core.session_ms", sessionMs, "ms"), ("sources.register_ms", registerMs, "ms")) ++
      modules.flatMap(m => Seq(
        (s"$m.compose_ms", sum(_.composeMs, Some(m)), "ms"),
        (s"$m.compose_jobs", sum(_.composeJobs.toDouble, Some(m)), "count"),
        (s"$m.execute_ms", sum(_.executeMs, Some(m)), "ms"))) ++
      Seq(
        ("spark.sql_executions", sum(_.sqlExecutions.toDouble), "count"),
        ("spark.driver_gap_ms", sum(_.gapMs), "ms"),
        ("spark.jobs", sum(_.jobs.toDouble), "count"),
        ("spark.stages", sum(_.stages.toDouble), "count"),
        ("spark.tasks", sum(_.tasks.toDouble), "count"),
        ("spark.slot_busy_ratio",
          if (wall <= 0) 0.0 else traces.map(_.taskRunMs).sum / (wall * cores), "ratio"),
        ("sources.scan_bytes", sum(_.scanBytes.toDouble), "bytes"),
        ("sources.scan_rows", sum(_.scanRows.toDouble), "rows"),
        ("spark.task_run_ms", sum(_.taskRunMs.toDouble), "ms"),
        ("spark.task_cpu_ms", sum(_.taskCpuMs), "ms"),
        ("spark.gc_ms", sum(_.gcMs.toDouble), "ms"),
        ("spark.shuffle_write_bytes", sum(_.shuffleWrite.toDouble), "bytes"),
        ("spark.shuffle_read_bytes", sum(_.shuffleRead.toDouble), "bytes"),
        ("spark.shuffle_fetch_wait_ms", sum(_.fetchWaitMs.toDouble), "ms"),
        ("spark.spill_bytes", sum(_.spill.toDouble), "bytes"),
        ("spark.peak_exec_memory_mb", (0.0 +: traces.map(_.peakMemMb)).max, "MB"),
        ("spark.straggler_ratio", (1.0 +: traces.map(_.straggler)).max, "ratio"),
        ("spark.failed_tasks", traces.map(_.failedTasks).sum.toDouble, "count"),
        ("spark.storage_residue_mb", residueMb.lastOption.getOrElse(0.0), "MB"),
        ("sources.write_ms", sum(_.writeMs), "ms"),
        ("sources.write_bytes", sum(_.writeBytes.toDouble), "bytes"),
        ("sources.write_files", sum(_.writeFiles.toDouble), "count"),
        ("artifacts.timed_builds", builds.toDouble, "count"),
        ("artifacts.reuse_ratio",
          if (reads + builds == 0) 1.0 else reads.toDouble / (reads + builds), "ratio"))
  }
}

/** Sums bytes scanned and written over every task: the inputs of
  * write_amp, cheap enough to stay on in the timed passes.
  */
final class Totals extends SparkListener {
  @volatile var scanBytes = 0L
  @volatile var writeBytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      scanBytes += m.inputMetrics.bytesRead
      writeBytes += m.outputMetrics.bytesWritten
    }
  }
}

object Runner {

  def session(o: Opts): SparkSession = Engine.session(
    master = s"local[${o.cores}]",
    shufflePartitions = o.cores,
    appName = "perfbench",
    extra = Map(
      "spark.local.dir" -> new File(o.work, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(o.work, "warehouse").getPath))

  /** Set up, run the warm pass, then run passes back to back until
    * `o.seconds` have gone by. With `o.trace` every pass is traced and
    * attributed layer by layer.
    */
  def run(o: Opts): RunResult = {
    o.work.mkdirs()
    val wl = Workloads(o.workload)
    val t0 = System.nanoTime()
    val spark0 = session(o)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    spark0.sparkContext.setLogLevel("ERROR")
    val expected0 = Workloads.expected(o.data, o.expectedDir)
    val expected = o.wrongHash.fold(expected0)(id => expected0 + (id -> "0000000000000000"))
    // registration three times on fresh sessions over the one context;
    // the median is the figure, the last session is the one used
    val regs = (1 to 3).map { _ =>
      val s = spark0.newSession()
      val r0 = System.nanoTime()
      val c = new Ctx(s, o.data, o.work, o.seed, expected)
      ((System.nanoTime() - r0) / 1e6, c)
    }
    val registerMs = Stats.median(regs.map(_._1))
    val ctx = regs.last._2
    val sc = ctx.spark.sparkContext
    val totals = new Totals
    sc.addSparkListener(totals)
    val r0 = System.nanoTime()
    wl.prepare(ctx)
    val referenceMs = (System.nanoTime() - r0) / 1e6

    def opsOf(pass: Int): Seq[Op] = {
      val all = wl.ops(ctx, pass).filter(op => o.only.forall(_.contains(op.name)))
      if (wl.permutable) new Random(o.seed * 1000003L + pass).shuffle(all) else all
    }

    /** Call, collect, check; `after` gets the call, composed and
      * collected instants (nanoTime).
      */
    def execute(op: Op, pass: Int, before: () => Unit, after: (Long, Long, Long) => Unit)
        : Sample = {
      sc.setJobGroup(s"perfbench-${o.workload}-p$pass-${op.name}", op.name)
      before()
      val a = System.nanoTime()
      var b = a
      val outcome: Either[Throwable, Array[Row]] =
        try {
          val df: DataFrame = op.call()
          b = System.nanoTime()
          Right(if (df == null) Array.empty[Row] else df.collect())
        } catch { case e: Throwable => Left(e) }
      val c = System.nanoTime()
      if (b == a) b = c
      sc.clearJobGroup()
      after(a, b, c)
      val failure = outcome match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        case Right(rows) =>
          try op.check(rows)
          catch { case e: Throwable => Some(s"check threw ${String.valueOf(e.getMessage).take(200)}") }
      }
      Sample(pass, op.name, op.module, (c - a) / 1e6, failure)
    }

    // warm pass: untimed, builds first-touch artifacts, part of setup_s
    val w0 = System.nanoTime()
    if (wl.readsArtifacts) opsOf(0).foreach(op => execute(op, 0, () => (), (_, _, _) => ()))
    val warmMs = (System.nanoTime() - w0) / 1e6

    // time base shared with Spark's event clock (epoch ms)
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def epochMs(n: Long): Double = epoch0 + (n - nano0) / 1e6

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passSecs = mutable.ArrayBuffer.empty[Double]
    val residue = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[String]
    val traces = mutable.ArrayBuffer.empty[OpTrace]
    val spans = mutable.ArrayBuffer.empty[Span]
    var spanId = 0
    def nextId(): Int = { spanId += 1; spanId }
    val collector = new Collector(Artifacts.root)
    // data files the run has written, outside Spark's own scratch
    def written(): Long = Option(o.work.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName != "spark-local").map(Files.dataFiles).sum
    val scan0 = totals.scanBytes
    val write0 = totals.writeBytes

    val start = System.nanoTime()
    var pass = 0
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    while (elapsed < o.seconds || pass < 1) {
      pass += 1
      val passSpan = if (o.trace) nextId() else 0
      val passOps = opsOf(pass)
      val sigs0 = Artifacts.signatures()
      if (o.trace) sc.addSparkListener(collector)
      val passSamples = passOps.map { op =>
        if (!o.trace) execute(op, pass, () => (), (_, _, _) => ())
        else {
          var files0 = 0L
          var art0 = Map.empty[String, Long]
          execute(op, pass,
            () => {
              BusAccess.drain(sc)
              collector.clear()
              files0 = written()
              art0 = Artifacts.signatures()
            },
            (a, b, c) => {
              BusAccess.drain(sc)
              val built = Artifacts.built(art0, Artifacts.signatures())
              val (jobs, stages, sqls) = collector.snapshot()
              val opSpan = nextId()
              spans += Span(opSpan, passSpan, "op", op.name, epochMs(a), epochMs(c))
              traces += OpTrace.attribute(op.name, op.module, pass,
                epochMs(a), epochMs(b), epochMs(c), jobs, stages, sqls,
                written() - files0, built.size, () => nextId(), opSpan, spans)
            })
        }
      }
      if (o.trace) sc.removeSparkListener(collector)
      builds ++= Artifacts.built(sigs0, Artifacts.signatures())
      samples ++= passSamples
      passSecs += passSamples.map(_.ms).sum / 1000
      if (o.trace) {
        val opSpans = spans.filter(s => s.parent == passSpan && s.kind == "op")
        spans += Span(passSpan, 0, "pass", s"pass $pass",
          opSpans.map(_.start).min, opSpans.map(_.end).max)
      }
      residue += sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    }
    sc.removeSparkListener(totals)
    RunResult(o.workload, o.seed, sessionMs, registerMs, warmMs, referenceMs,
      samples.toSeq, passSecs.toSeq, residue.toSeq, builds.toSeq,
      totals.scanBytes - scan0, totals.writeBytes - write0, traces.toSeq, spans.toSeq)
  }
}

object Main {

  private def metric(name: String, v: Double, unit: String): (String, Any) =
    name -> Map("value" -> v, "unit" -> unit)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val r = Runner.run(o)
    val cores = o.cores
    // the human record: every end-to-end figure, failures by name, context
    val samplesMs = r.samples.map(_.ms)
    val record = Seq[(String, Any)](
      "workload" -> r.workload, "seed" -> r.seed, "trace" -> o.trace,
      "passes" -> r.passSecs.size,
      "pass_s" -> Map("value" -> Stats.median(r.passSecs), "unit" -> "s", "all" -> r.passSecs),
      "op_p50_ms" -> Map("value" -> Stats.median(samplesMs), "unit" -> "ms",
        "samples" -> samplesMs.size),
      "op_p90_ms" -> Map("value" -> r.p90, "unit" -> "ms", "samples" -> samplesMs.size,
        "note" -> (if (r.p90.isEmpty) "fewer than 10 samples beyond p90" else "")),
      "op_tail_ms" -> r.tail.map { case (q, v) =>
        Map("percentile" -> q, "value" -> v, "unit" -> "ms", "samples" -> samplesMs.size) },
      "fail_ratio" -> Map("value" -> r.failed.toDouble / r.attempted, "unit" -> "ratio"),
      "setup_s" -> Map("value" -> r.setupS, "unit" -> "s", "session_ms" -> r.sessionMs,
        "register_ms" -> r.registerMs, "warm_pass_ms" -> r.warmMs),
      "reference_s" -> r.referenceMs / 1000,
      "write_amp" -> (if (r.workload == "index-write" && r.scanBytes > 0)
        Map("value" -> r.writeBytes.toDouble / r.scanBytes, "unit" -> "ratio",
          "write_bytes" -> r.writeBytes, "scan_bytes" -> r.scanBytes) else None),
      "op_median_ms" -> scala.collection.immutable.ListMap(
        r.samples.groupBy(_.op).toSeq.sortBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_.ms)) }: _*),
      "storage_residue_mb_per_pass" -> r.residueMb,
      "artifacts_timed_builds" -> r.timedBuilds,
      "failures" -> r.failures.map(s => Map("pass" -> s.pass, "op" -> s.op, "why" -> s.failure.get)),
      "context" -> Map(
        "nproc" -> cores,
        "mem_total_kb" -> scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
          .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)).toOption.flatten,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION,
        "data" -> o.data,
        "source" -> sys.props.getOrElse("perfbench.source", "unknown")))
    if (o.trace) {
      o.traceDir.mkdirs()
      val self = Span.selfTimes(r.spans)
      val stem = s"${o.workload}-seed${o.seed}"
      java.nio.file.Files.writeString(new File(o.traceDir, s"$stem.spans.jsonl").toPath,
        r.spans.map(s => Span.json(s, self(s.id))).mkString("", "\n", "\n"))
      java.nio.file.Files.writeString(new File(o.traceDir, s"$stem.ops.jsonl").toPath,
        r.traces.map(_.json).mkString("", "\n", "\n"))
    }
    println("record " + Json.obj(record))
    val metrics = (if (o.trace) r.perLayer(cores) else r.endToEnd)
      .map { case (n, v, u) => metric(n, v, u) }
    println(Json.obj(Seq(
      "correct" -> (r.failed == 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    System.out.flush()
    // stop Spark's non-daemon threads so the JVM exits promptly
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    sys.exit(0)
  }
}
