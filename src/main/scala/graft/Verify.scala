package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Engine.session(
      master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (comma-separated names); unset for the
    // driver's full run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the three no-oracle queries: emit their engine-pinned regression
    // verdicts (SelfPinned) beside the dumps, so the crosscheck reports
    // them as checked-against-pinned rather than oracle-free. The hash
    // is computed HERE (the engine both runs the query and knows the
    // pin); the pin itself is a committed constant, so drift still
    // fails the report.
    SelfPinned.forDir(sfDir).foreach { pins =>
      val entries = pins.toSeq.sortBy(_._1)
        .filter { case (id, _) => only.forall(_.contains(id)) }
        .map { case (id, want) =>
          val got =
            try graft.core.Canonical.hash16(SparkEntry.queries(id)(spark, sfDir))
            catch { case e: Throwable =>
              "ERROR:" + String.valueOf(e.getMessage).take(80) }
          s"${q(id)}: {\"expected\": ${q(want)}, \"got\": ${q(got)}, " +
            s""""self_pinned": true, "match": ${got == want}}"""
        }
      if (entries.nonEmpty)
        Files.writeString(Paths.get(s"$outDir/self_pinned.json"),
          entries.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
