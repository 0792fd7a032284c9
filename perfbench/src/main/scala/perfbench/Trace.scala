package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task totals of one stage, summed from its task-end events. */
final class StageRec(val id: Int) {
  var start: Long = Long.MaxValue
  var end: Long = 0L
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakMem = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var writeBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int], sqlId: Option[Long])

final case class SqlRec(id: Long, start: Long, end: Long, readsArtifact: Boolean)

/** Collects jobs, stages, tasks and SQL executions from Spark's
  * listener bus. The benchmark registers it on the traced passes only;
  * events are attributed to operations afterwards by time window (one
  * client runs one operation at a time).
  */
final class Collector(artifactRoot: String) extends SparkListener {
  private val jobStarts = mutable.LinkedHashMap.empty[Int, JobRec]
  private val jobEnds = mutable.HashMap.empty[Int, Long]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val sqlStarts = mutable.LinkedHashMap.empty[Long, (Long, Boolean)]
  private val sqlEnds = mutable.HashMap.empty[Long, Long]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    i.submissionTime.foreach(t => s.start = math.min(s.start, t))
    i.completionTime.foreach(t => s.end = math.max(s.end, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.tasks += 1
    if (info.failed || info.killed) s.failedTasks += 1
    s.durations += info.duration
    s.start = math.min(s.start, info.launchTime)
    s.end = math.max(s.end, info.finishTime)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.scanBytes += m.inputMetrics.bytesRead
      s.scanRows += m.inputMetrics.recordsRead
      s.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val plan = Option(s.physicalPlanDescription).getOrElse("")
      sqlStarts(s.executionId) = (s.time, Artifacts.mentioned(plan, artifactRoot))
    }
    case x: SparkListenerSQLExecutionEnd => synchronized { sqlEnds(x.executionId) = x.time }
    case _ =>
  }

  /** Everything recorded since the last [[clear]]. */
  def snapshot(): (Seq[JobRec], Map[Int, StageRec], Seq[SqlRec]) = synchronized {
    val jobs = jobStarts.values.map(j => j.copy(end = jobEnds.getOrElse(j.id, j.start))).toSeq
    val sqls = sqlStarts.map { case (id, (t, art)) => SqlRec(id, t, sqlEnds.getOrElse(id, t), art) }.toSeq
    (jobs, stages.toMap, sqls)
  }

  def clear(): Unit = synchronized {
    jobStarts.clear(); jobEnds.clear(); stages.clear(); sqlStarts.clear(); sqlEnds.clear()
  }
}

/** One traced interval: pass, op, compose, execute, sql, job or stage. */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

object Span {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the time its direct
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }

  def json(s: Span, self: Double): String =
    f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":$self%.3f}"""
}

/** Per-op figures of one traced execution. */
final case class OpTrace(
    op: String, module: String, pass: Int,
    wallMs: Double, composeMs: Double, executeMs: Double, jobMs: Double, gapMs: Double,
    composeJobs: Int, jobs: Int, stages: Int, tasks: Int, sqlExecutions: Int,
    taskRunMs: Long, taskCpuMs: Double, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long, peakMemMb: Double,
    straggler: Double, failedTasks: Int, scanBytes: Long, scanRows: Long,
    writeMs: Double, writeBytes: Long, writeFiles: Long,
    timedBuilds: Int, artifactReads: Int) {

  def json: String = {
    val f = Seq[(String, Any)](
      "op" -> op, "module" -> module, "pass" -> pass,
      "wall_ms" -> wallMs, "compose_ms" -> composeMs, "execute_ms" -> executeMs,
      "job_ms" -> jobMs, "driver_gap_ms" -> gapMs, "compose_jobs" -> composeJobs,
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "sql_executions" -> sqlExecutions,
      "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill,
      "peak_exec_memory_mb" -> peakMemMb, "straggler_ratio" -> straggler,
      "failed_tasks" -> failedTasks, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
      "write_ms" -> writeMs, "write_bytes" -> writeBytes, "write_files" -> writeFiles,
      "timed_builds" -> timedBuilds, "artifact_reads" -> artifactReads)
    Json.obj(f)
  }
}

object OpTrace {

  /** Attribute the collector's events to one op that ran over
    * [t0, t2] (epoch ms) and returned its DataFrame at t1, and emit its
    * span subtree under `opSpan`.
    */
  def attribute(op: String, module: String, pass: Int,
      t0: Double, t1: Double, t2: Double,
      jobs0: Seq[JobRec], stages: Map[Int, StageRec], sqls0: Seq[SqlRec],
      writeFiles: Long, timedBuilds: Int,
      nextId: () => Int, opSpan: Int, spans: mutable.Buffer[Span]): OpTrace = {
    // a millisecond of slack: Spark stamps events in whole ms
    def inside(t: Long): Boolean = t >= t0 - 1 && t <= t2 + 1
    val jobs = jobs0.filter(j => inside(j.start))
    val sqls = sqls0.filter(s => inside(s.start))
    val composeId = nextId()
    val executeId = nextId()
    spans += Span(composeId, opSpan, "compose", op, t0, t1)
    spans += Span(executeId, opSpan, "execute", op, t1, t2)
    def phase(t: Double): Int = if (t < t1) composeId else executeId
    // for the same reason, clip every child span to its parent
    def clamp(t: Double, lo: Double = t0, hi: Double = t2): Double = math.min(math.max(t, lo), hi)
    val sqlSpan = sqls.map { s =>
      val id = nextId()
      spans += Span(id, phase(s.start), "sql_execution", s"sql ${s.id}",
        clamp(s.start), clamp(math.max(s.end, s.start)))
      s.id -> id
    }.toMap
    val jobStages = mutable.LinkedHashMap.empty[Int, StageRec]
    jobs.foreach { j =>
      val id = nextId()
      val parent = j.sqlId.flatMap(sqlSpan.get).getOrElse(phase(j.start))
      val (a, b) = (clamp(j.start), clamp(math.max(j.end, j.start)))
      spans += Span(id, parent, "job", s"job ${j.id}", a, b)
      j.stageIds.flatMap(stages.get).filter(_.tasks > 0).foreach { st =>
        if (!jobStages.contains(st.id)) {
          jobStages(st.id) = st
          spans += Span(nextId(), id, "stage", s"stage ${st.id}",
            clamp(st.start, a, b), clamp(math.max(st.end, st.start), a, b))
        }
      }
    }
    val st = jobStages.values.toSeq
    val jobIv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val jobMs = Span.covered(jobIv, t0, t2)
    val writeIv = jobs.filter(j => j.stageIds.flatMap(stages.get).exists(_.writeBytes > 0))
      .map(j => (j.start.toDouble, j.end.toDouble))
    val largest = st.sortBy(s => (-s.runMs, s.id)).headOption
    val straggler = largest.map { s =>
      val d = s.durations.sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last.toDouble / med
    }.getOrElse(1.0)
    OpTrace(op, module, pass,
      wallMs = t2 - t0, composeMs = t1 - t0, executeMs = t2 - t1,
      jobMs = jobMs, gapMs = (t2 - t0) - jobMs,
      composeJobs = jobs.count(_.start < t1), jobs = jobs.size, stages = st.size,
      tasks = st.map(_.tasks).sum, sqlExecutions = sqls.size,
      taskRunMs = st.map(_.runMs).sum, taskCpuMs = st.map(_.cpuNs).sum / 1e6,
      gcMs = st.map(_.gcMs).sum,
      shuffleWrite = st.map(_.shuffleWrite).sum, shuffleRead = st.map(_.shuffleRead).sum,
      fetchWaitMs = st.map(_.fetchWaitMs).sum, spill = st.map(_.spill).sum,
      peakMemMb = st.map(_.peakMem).foldLeft(0L)(math.max) / 1048576.0,
      straggler = straggler, failedTasks = st.map(_.failedTasks).sum,
      scanBytes = st.map(_.scanBytes).sum, scanRows = st.map(_.scanRows).sum,
      writeMs = Span.covered(writeIv, t0, t2), writeBytes = st.map(_.writeBytes).sum,
      writeFiles = writeFiles, timedBuilds = timedBuilds,
      artifactReads = sqls.count(_.readsArtifact))
  }
}
