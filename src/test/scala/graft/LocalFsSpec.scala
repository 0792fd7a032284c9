package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.LocalFs

/** Pins for [[graft.sources.LocalFs]], the `file:` filesystem
  * [[graft.core.Engine.session]] installs: a write lands with exactly
  * the modes Hadoop's stock `LocalFileSystem` gives it, and a requested
  * mode that differs from the current one is still applied.
  */
class LocalFsSpec extends SparkSpec {

  private val fileRoot = new URI("file:///")

  private val Octal700 = Integer.parseInt("700", 8)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  /** The modes under `root` (itself included), grouped by entry kind. */
  private def modesByKind(root: JPath): Map[String, Set[Int]] =
    Files.walk(root).iterator().asScala.toSeq.groupBy { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p)) "dir"
      else if (n == "._SUCCESS.crc") "success_crc"
      else if (n == "_SUCCESS") "success"
      else if (n.endsWith(".parquet.crc")) "part_crc"
      else if (n.endsWith(".parquet")) "part"
      else s"other:$n"
    }.map { case (kind, ps) => kind -> ps.map(mode).toSet }

  test("Engine.session parquet writes get the modes of Hadoop's stock LocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(fileRoot, conf).getClass == classOf[LocalFs])
    // write options reach the write's Hadoop conf; with the cache off
    // they select Hadoop's own class for that write alone
    val stock = Map(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val stockConf = new Configuration(conf)
    stock.foreach { case (k, v) => stockConf.set(k, v) }
    assert(FileSystem.get(fileRoot, stockConf).getClass == classOf[LocalFileSystem])

    val df = spark.range(0, 300).select(col("id"), (col("id") % 3).as("k"))
    val root = Files.createTempDirectory("graft_localfs")
    val viaGraft = root.resolve("graft")
    val viaStock = root.resolve("stock")
    df.write.partitionBy("k").parquet(viaGraft.toString)
    df.write.options(stock).partitionBy("k").parquet(viaStock.toString)
    val g = modesByKind(viaGraft)
    val s = modesByKind(viaStock)
    assert(g.keySet == Set("dir", "part", "part_crc", "success", "success_crc"), s"kinds: $g")
    assert(g == s, s"graft $g vs stock $s")
    // the checksummed read side still accepts what was written
    assert(spark.read.parquet(viaGraft.toString).count() == 300)
  }

  test("LocalFs applies a requested mode that differs: setPermission 0700 on a file, mkdirs 0700") {
    val fs = FileSystem.get(fileRoot, spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[LocalFs])
    val dir = Files.createTempDirectory("graft_localfs_mode")
    val file = dir.resolve("f.bin")
    val out = fs.create(new Path(file.toUri))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val crc = dir.resolve(".f.bin.crc")
    assert(Files.exists(crc))
    assert(mode(file) != Octal700 && mode(crc) != Octal700, "the fixture must start away from 0700")
    fs.setPermission(new Path(file.toUri), new FsPermission(Octal700.toShort))
    assert(mode(file) == Octal700 && mode(crc) == Octal700,
      f"file ${mode(file)}%o, crc ${mode(crc)}%o")
    val sub = dir.resolve("sub")
    assert(fs.mkdirs(new Path(sub.toUri), new FsPermission(Octal700.toShort)))
    assert(mode(sub) == Octal700, f"dir ${mode(sub)}%o")
  }
}
