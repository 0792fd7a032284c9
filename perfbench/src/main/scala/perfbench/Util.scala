package perfbench

import java.io.File

/** Stamped per-corpus artifacts (`graft_*` under java.io.tmpdir), seen
  * from outside the engine. A build is detected the way graft.Bench
  * detects it: a recursive signature (max mtime, file count, bytes) of
  * each artifact dir, diffed around a window. The DuckDB-oracle
  * mirrors (`graft_oracle*`) are correctness plumbing, not builds.
  */
object Artifacts {
  def root: String = sys.props.getOrElse("java.io.tmpdir", "/tmp")

  private def sig(d: File): Long = {
    def walk(f: File): (Long, Long, Long) = {
      val kids = if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil) else Nil
      kids.map(walk).foldLeft((f.lastModified(), 1L, if (f.isFile) f.length() else 0L)) {
        case ((m, c, b), (m2, c2, b2)) => (math.max(m, m2), c + c2, b + b2)
      }
    }
    val (m, c, b) = walk(d)
    m ^ java.lang.Long.rotateLeft(c, 21) ^ java.lang.Long.rotateLeft(b, 42)
  }

  def signatures(): Map[String, Long] =
    Option(new File(root).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_") &&
        !f.getName.startsWith("graft_oracle"))
      .map(d => d.getName -> sig(d)).toMap

  /** Artifact dirs that appeared or changed between two signature maps. */
  def built(before: Map[String, Long], after: Map[String, Long]): Seq[String] =
    after.collect { case (k, v) if !before.get(k).contains(v) => k }.toSeq.sorted

  /** Whether a physical plan scans a stamped artifact. */
  def mentioned(plan: String, root: String): Boolean = {
    val i = plan.indexOf(root + "/graft_")
    i >= 0 && !plan.startsWith("graft_oracle", i + root.length + 1)
  }
}

/** Files under a directory tree whose name starts with `part-`. */
object Files {
  def dataFiles(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) (if (dir.getName.startsWith("part-")) 1L else 0L)
    else Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).map(dataFiles).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q / 100.0 * s.size).toInt - 1))
  }
}
