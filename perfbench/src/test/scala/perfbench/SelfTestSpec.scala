package perfbench

import java.io.File

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks, on the small scale factors (data root in
  * GRAFT_BENCH_TESTDATA, as `python3 perfbench/run.py --selftest` sets
  * it): every metric BENCHMARK.json names is emitted with its unit, the
  * span tree is well formed, each op's parts account for its wall time,
  * and a wrong expected hash is a failed op.
  */
class SelfTestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = sys.env.get("GRAFT_BENCH_TESTDATA")
  private val work = new File("target/selftest")
  private def opts(workload: String, sf: String, trace: Boolean,
      only: Option[Set[String]] = None, wrongHash: Option[String] = None): Opts = {
    assume(root.isDefined, "GRAFT_BENCH_TESTDATA is not set")
    Opts(workload, seed = 7L, seconds = 0.0, trace = trace,
      data = s"${root.get}/$sf", work = new File(work, s"$workload-$sf-$trace"),
      traceDir = new File(work, "trace"), expectedDir = new File("expected"),
      only = only, wrongHash = wrongHash, cores = 2)
  }

  private val few = Some(Set("S01", "P01", "J02", "A01", "W01"))

  private lazy val declared: JValue =
    parse(scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8").mkString)
  private def namesUnits(section: String): Seq[(String, String)] =
    (declared \ section).children.map { m =>
      ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s)
    }

  private lazy val timed = Runner.run(opts("contract", "sf0.01", trace = false, only = few))
  private lazy val traced = Runner.run(opts("contract", "sf0.01", trace = true, only = few))
  private lazy val writes = Runner.run(opts("index-write", "sf0.01", trace = true))

  override def afterAll(): Unit = {
    org.apache.spark.sql.SparkSession.getDefaultSession.foreach(_.stop())
    Files.delete(work)
  }

  test("every end-to-end metric of BENCHMARK.json is emitted with its unit") {
    val got = timed.endToEnd.map { case (n, _, u) => n -> u }.toMap
    namesUnits("end_to_end").foreach { case (n, u) =>
      assert(got.get(n).contains(u), s"$n [$u] missing from $got")
    }
    assert(timed.failed == 0, timed.failures)
    assert(timed.attempted == 5)
  }

  test("every per-layer metric of BENCHMARK.json is emitted with its unit") {
    Seq(traced, writes).foreach { r =>
      val got = r.perLayer(2).map { case (n, _, u) => n -> u }.toMap
      // trace.overhead_ratio compares two runs; run.py adds it
      namesUnits("per_layer").filterNot(_._1.startsWith("trace.")).foreach { case (n, u) =>
        assert(got.get(n).contains(u), s"$n [$u] missing on ${r.workload}")
      }
    }
    assert(writes.failed == 0, writes.failures)
    val wl = writes.perLayer(2).map { case (n, v, _) => n -> v }.toMap
    assert(wl("sources.write_bytes") > 0 && wl("sources.write_files") > 0)
    assert(wl("vector.compose_ms") > 0 && wl("text.execute_ms") > 0)
    val cl = traced.perLayer(2).map { case (n, v, _) => n -> v }.toMap
    assert(cl("spark.jobs") > 0 && cl("sources.scan_rows") > 0 && cl("ops.execute_ms") > 0)
  }

  test("the span tree is well formed: every job has an op ancestor, self times are >= 0") {
    Seq(traced, writes).foreach { r =>
      val spans = r.spans
      val byId = spans.map(s => s.id -> s).toMap
      assert(byId.size == spans.size, "span ids are unique")
      spans.filter(_.parent != 0).foreach(s => assert(byId.contains(s.parent), s))
      def ancestors(s: Span): Seq[Span] =
        byId.get(s.parent).map(p => p +: ancestors(p)).getOrElse(Nil)
      val jobs = spans.filter(_.kind == "job")
      assert(jobs.nonEmpty)
      jobs.foreach(j => assert(ancestors(j).exists(_.kind == "op"), j))
      spans.filter(_.kind == "stage").foreach(s => assert(byId(s.parent).kind == "job", s))
      Span.selfTimes(spans).foreach { case (id, t) => assert(t >= 0, byId(id)) }
      spans.foreach(s => assert(s.end >= s.start, s))
    }
  }

  test("compose + execute, and job time + driver gap, each account for an op's wall time") {
    (traced.traces ++ writes.traces).foreach { t =>
      assert(math.abs(t.composeMs + t.executeMs - t.wallMs) < 1e-6, t)
      assert(math.abs(t.jobMs + t.gapMs - t.wallMs) < 1e-6, t)
      assert(t.gapMs >= 0 && t.jobMs >= 0, t)
    }
  }

  test("a wrong expected hash is reported as a failed op") {
    val r = Runner.run(opts("contract", "sf0.01", trace = false,
      only = Some(Set("S01", "P01")), wrongHash = Some("S01")))
    assert(r.failed == 1 && r.attempted == 2)
    assert(r.failures.head.op == "S01")
    assert(r.failures.head.failure.get.contains("expected 0000000000000000"))
  }

  test("an op with no expected hash fails (sf0.001 has no certified hashes)") {
    val r = Runner.run(opts("contract", "sf0.001", trace = false, only = Some(Set("P01"))))
    assert(r.failed == 1 && r.failures.head.failure.get.contains("no expected hash"))
  }
}
