package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.ShingleHash
import graft.sources.Tables
import graft.text.{MinHashConfig, MinHashDedup}

/** Pins `MinHashDedup.signatures` to a reference computed here in plain
  * Scala: the linear hash family, restated from its seed, applied to
  * the union of each doc id's [[ShingleHash.hashDoc]] base hashes. Any
  * change to the signing kernel, its fold over repeated doc ids, the
  * family or the output type shows up as a mismatch.
  */
class MinHashSignatureSpec extends SparkSpec {

  lazy val docs: DataFrame = Tables.load(spark, sf01, "documents").select("doc_id", "text")

  /** a_k, b_k of the signature family (seed 0x5eed5eed, odd multipliers). */
  private val family: Array[(Long, Long)] = {
    val rng = new scala.util.Random(0x5eed5eedL)
    Array.fill(256)((rng.nextLong() | 1L, rng.nextLong()))
  }

  private def reference(rows: Seq[(Long, String)], cfg: MinHashConfig): Map[Long, Seq[Long]] =
    rows.groupBy(_._1).flatMap { case (id, rs) =>
      val u = rs.flatMap { case (_, t) =>
        ShingleHash.hashDoc(t, cfg.shingleSize, cfg.charK, cfg.runLevel)
      }.distinct
      if (u.isEmpty) None
      else Some(id -> family.take(cfg.numHashes).toSeq.map { case (a, b) => u.map(h => h * a + b).min })
    }

  /** The signatures of `df` under `cfg`, checked against the reference
    * and the signature type; returns them for further assertions.
    */
  private def checked(df: DataFrame, cfg: MinHashConfig): Map[Long, Seq[Long]] = {
    val got = MinHashDedup.signatures(df, cfg)
    assert(got.schema.fieldNames.toSeq == Seq("doc_id", "sig"))
    assert(got.schema("sig").dataType == ArrayType(LongType, containsNull = true))
    assert(!got.schema("sig").nullable)
    val rows = got.collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(rows.map(_._1).distinct.length == rows.length, "one row per doc_id")
    val want = reference(df.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq, cfg)
    val have = rows.toMap
    assert(have.keySet == want.keySet,
      s"doc ids: missing ${want.keySet -- have.keySet}, extra ${have.keySet -- want.keySet}")
    val bad = want.keys.filter(k => have(k) != want(k))
    assert(bad.isEmpty, s"signatures differ for doc ids ${bad.take(5)}")
    have
  }

  test("signatures equal the plain-Scala reference on sf0.01 docs plus mixed-script docs, under every config") {
    import spark.implicits._
    val wrap = (1 to 14).map(i => s"wrapper$i").mkString(" ")
    val mixed = Seq(
      (9001L, thai(1, 80)),
      (9002L, s"$wrap ${thai(2, 40)} $wrap"),
      (9003L, "https://example.com/short?x=1")).toDF("doc_id", "text")
    val all = docs.unionByName(mixed)
    val plain = checked(all, MinHashConfig())
    val byCharK = checked(all, MinHashConfig(charK = 5))
    val byRun = checked(all, MinHashConfig(charK = 5, runLevel = true))
    checked(all, MinHashConfig(shingleSize = 2, numHashes = 128, bands = 32))
    assert(plain.size > 400, s"sf0.01 fixture signs ${plain.size} docs")
    // the configs really took different dispatch paths
    assert(!plain.contains(9001L) && byCharK.contains(9001L), "Thai doc: char grams only under charK")
    assert(byRun(9002L) != byCharK(9002L), "mixed doc: run grams only under runLevel")
  }

  test("signatures fold rows that share a doc_id over the union of their shingles; no row without shingles") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (1L, "over the lazy dog today"),
      (1L, "tiny"),
      (2L, "only two"),
      (3L, ""),
      (3L, "a b c d e"),
      (4L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val sigs = checked(df, MinHashConfig())
    assert(sigs.keySet == Set(1L, 3L, 4L), s"doc 2 has 2 tokens (< 3): ${sigs.keySet}")
    val first = checked(df.filter(col("text") === "the quick brown fox jumps"), MinHashConfig())
    assert(sigs(1L) != first(1L), "doc 1's signature covers both of its texts")
    assert(sigs(1L).zip(first(1L)).forall { case (u, f) => u <= f })
  }

  test("the written signature table keeps array<bigint> with nullable elements") {
    val path = java.nio.file.Files.createTempDirectory("graft_sig_schema").toString
    MinHashDedup.writeSignatures(docs, path)
    val read = spark.read.parquet(path)
    assert(read.schema("sig").dataType == ArrayType(LongType, containsNull = true))
    assert(read.count() == MinHashDedup.signatures(docs).count())
  }
}
