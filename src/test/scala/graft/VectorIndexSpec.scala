package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.ops.Catalog
import graft.text.MinHashDedup
import graft.vector.{Ann, Ivf}

/** Persisted-index + k-means-refinement properties:
  *   - probes against a written index equal the recompute-everything
  *     paths (and degenerate to brute force at full probe width);
  *   - probe plans read only matching partitions (PartitionFilters);
  *     ANN probes open only their `bucket=` dirs, and the ANN write
  *     leaves one file per bucket dir (the IVF write, append and
  *     compaction keep the same one-file-per-dir guard);
  *   - MinHash dedup from a persisted signature table equals the direct
  *     pipeline;
  *   - DotProduct null-on-length-mismatch (the certified zip_with
  *     semantics) instead of silent truncation;
  *   - Lloyd-refined IVF centroids don't lose recall vs the hash sample
  *     on clustered data.
  */
class VectorIndexSpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf01)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def probeVecOf(id: Long): Array[Float] =
    cat.embeddings.filter(col("vec_id") === id)
      .select("embedding").first().getSeq[Float](0).toArray

  test("DotProduct: length mismatch yields NULL, equal lengths the exact sum") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f), Array(3f, 4f), true),
      (Array(1f, 2f), Array(3f, 4f, 5f), false)).toDF("a", "b", "ok")
    val rows = df.select(col("ok"), VectorFunctions.dot(col("a"), col("b")).as("d")).collect()
    rows.foreach { r =>
      if (r.getBoolean(0)) assert(r.getDouble(1) == 11.0)
      else assert(r.isNullAt(1), "ragged vectors must produce NULL, not a truncated score")
    }
  }

  test("IVF persisted index: full-width probe equals brute force, plan partition-prunes") {
    val path = tmp("graft_ivf_idx")
    Ivf.writeIndex(cat.embeddings, path, nLists = 16)
    val probed = Ivf.probeIndex(spark, path, probeVecOf(0), k = 6, nProbe = 16)
    // the index probe naturally includes the probe vector itself (cos=1)
    val got = probed.collect().map(_.getLong(0)).filter(_ != 0L).take(5).toSeq
    val want = Ann.bruteForceTopK(cat.embeddings, 0, 5).collect().map(_.getLong(0)).toSeq
    assert(got == want)
    // direct-path pruning: the probe's vectors scan must touch at most
    // nProbe list directories (listing O(nProbe), flat in nLists — the
    // 100 TB metadata contract), and list_id must survive as a column
    val probe4 = Ivf.probeIndex(spark, path, probeVecOf(0), k = 5, nProbe = 4)
    val listDirs = probe4.inputFiles
      .flatMap(_.split("/").find(_.startsWith("list_id="))).distinct
    assert(listDirs.nonEmpty && listDirs.length <= 4,
      s"nProbe=4 probe must read at most 4 list dirs, got ${listDirs.toSeq}")
  }

  test("ANN persisted index: full-radius probe equals brute force, plan partition-prunes") {
    val path = tmp("graft_ann_idx")
    Ann.writeIndex(cat.embeddings, path, nPlanes = 8)
    val probed = Ann.probeIndex(spark, path, probeVecOf(0), k = 6, nPlanes = 8, probeRadius = 8)
    val got = probed.collect().map(_.getLong(0)).filter(_ != 0L).take(5).toSeq
    val want = Ann.bruteForceTopK(cat.embeddings, 0, 5).collect().map(_.getLong(0)).toSeq
    assert(got == want)
    val plan = Ann.probeIndex(spark, path, probeVecOf(0), k = 5, nPlanes = 8, probeRadius = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      s"probe must prune bucket partitions:\n$plan")
    // multi-probe enumeration: radius-2 over 8 planes = 1 + 8 + 28 buckets
    assert(Ann.bucketsWithin(0L, 8, 2).distinct.size == 37)
  }

  /** The ANN index the direct-path tests share: written once. */
  private lazy val annIdx: String = {
    val path = tmp("graft_ann_direct")
    Ann.writeIndex(cat.embeddings, path, nPlanes = 8)
    path
  }

  test("ANN probe reads its buckets by direct bucket= paths, not the whole layout") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val vec = probeVecOf(0)
    val probed = Ann.bucketsWithin(Ann.bucketOf(vec, Ann.hyperplanes(8, vec.length)), 8, 2).toSet
    val plan = Ann.probeIndex(spark, annIdx, vec, k = 5, nPlanes = 8, probeRadius = 2)
      .queryExecution.optimizedPlan
    val roots = plan.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
    assert(roots.nonEmpty && roots.size <= 37, s"radius-2 probe roots: $roots")
    val fs = roots.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    roots.foreach { r =>
      val b = r.getName.stripPrefix("bucket=")
      assert(r.getName.startsWith("bucket=") && probed(b.toLong) && fs.exists(r),
        s"scan root $r is not an existing probed bucket dir")
    }
  }

  test("ANN direct-path probe equals the whole-layout read at radius 0..3") {
    val whole = spark.read.parquet(s"$annIdx/vectors")
    val probes = cat.embeddings.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(5)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def rows(df: DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (vec <- probes; r <- 0 to 3) {
      val buckets = Ann.bucketsWithin(Ann.bucketOf(vec, Ann.hyperplanes(8, vec.length)), 8, r)
      val reference = whole.filter(col("bucket").isin(buckets: _*))
        .select(col("vec_id"),
          round(VectorFunctions.dot(typedLit(vec), col("embedding")), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
      val got = rows(Ann.probeIndex(spark, annIdx, vec, k = 10, nPlanes = 8, probeRadius = r))
      assert(got.nonEmpty && got == rows(reference), s"radius $r")
    }
  }

  /** Parquet data files per `<partCol>=` dir of the layout at `root`. */
  private def filesPerDir(root: String, partCol: String): Map[String, Int] =
    new java.io.File(root)
      .listFiles((f: java.io.File) => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .map(d => d.getName -> d.listFiles((_, n) => n.endsWith(".parquet")).length).toMap

  test("ANN index write leaves one parquet file per bucket dir over a 24-split input") {
    val path = tmp("graft_ann_frag")
    Ann.writeIndex(cat.embeddings.repartition(24), path, nPlanes = 8)
    val files = filesPerDir(s"$path/vectors", "bucket")
    assert(files.nonEmpty)
    files.foreach { case (d, n) => assert(n == 1, s"$d: $n files") }
  }

  test("IVF write and compaction leave one parquet file per list dir, append adds one per touched dir, over a 24-split input") {
    val path = tmp("graft_ivf_frag")
    Ivf.writeIndex(cat.embeddings.repartition(24), path, nLists = 16)
    val built = filesPerDir(s"$path/vectors", "list_id")
    assert(built.nonEmpty && built.values.forall(_ == 1), s"writeIndex: $built")
    // the corpus again under fresh ids: every list it lands in gains one file
    val maxId = cat.embeddings.agg(max("vec_id")).first().getLong(0)
    val batch = cat.embeddings
      .select((col("vec_id") + maxId + 1).as("vec_id"), col("embedding"))
      .repartition(24)
    Ivf.appendToIndex(batch, path)
    val touched = Ivf.assign(batch, spark.read.parquet(s"$path/centroids"))
      .select("list_id").distinct().collect().map(r => s"list_id=${r.get(0)}").toSet
    val expected = (built.keySet ++ touched)
      .map(d => d -> (built.getOrElse(d, 0) + (if (touched(d)) 1 else 0))).toMap
    assert(filesPerDir(s"$path/vectors", "list_id") === expected)
    // a takedown gives compaction something to fold
    Ivf.deleteFromIndex(batch.select("vec_id").limit(3), path)
    Ivf.compactIndex(spark, path)
    val compacted = filesPerDir(s"$path/vectors", "list_id")
    assert(compacted.keySet === expected.keySet && compacted.values.forall(_ == 1),
      s"compactIndex: $compacted")
  }

  test("MinHash dedup from a persisted signature table equals the direct pipeline") {
    val path = tmp("graft_minhash_sigs")
    MinHashDedup.writeSignatures(cat.documents, path)
    val sigs = MinHashDedup.readSignatures(spark, path)
    val fromIndex = MinHashDedup.dedupWinners(cat.documents, sigs = Some(sigs))
      .collect().map(_.getLong(0)).toSeq
    val direct = MinHashDedup.dedupWinners(cat.documents)
      .collect().map(_.getLong(0)).toSeq
    assert(fromIndex == direct)
  }

  test("IVF k-means refinement: recall on clustered data >= hash-sampled centroids") {
    import spark.implicits._
    // 8 well-separated unit clusters in 8-dim, small angular noise
    val rng = new scala.util.Random(7)
    val rows = (0 until 256).map { i =>
      val c = i % 8
      val v = Array.tabulate(8)(d =>
        (if (d == c) 1.0 else 0.0) + rng.nextGaussian() * 0.12)
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat))
    }
    val df: DataFrame = rows.toDF("vec_id", "embedding")
    def recallAt(iters: Int): Double = {
      val probes = Seq(0L, 3L, 5L, 10L, 21L, 42L)
      probes.map { p =>
        val exact = Ann.bruteForceTopK(df, p, 5).collect().map(_.getLong(0)).toSet
        val approx = Ivf.ivfTopK(df, p, 5, nLists = 8, nProbe = 1, kmeansIters = iters)
          .collect().map(_.getLong(0)).toSet
        (exact & approx).size.toDouble / 5
      }.sum / probes.size
    }
    val base = recallAt(0)
    val refined = recallAt(3)
    assert(refined >= base, s"refined recall $refined < hash-sampled $base")
    assert(refined >= 0.75, s"refined recall $refined too low on separable clusters")
  }

  test("IVF batched kNN join: probe-all ≡ exact join, pruned probe keeps recall and prunes partitions") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-knnjoin").toString
    Ivf.writeIndex(cat.embeddings, path, nLists = 16)
    val queries = cat.embeddings.filter(col("vec_id") % 50 === 0)
    val exact = Ann.knnJoin(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // searching every list reproduces the exact join bit for bit
    val all = Ivf.ivfKnnJoin(spark, path, queries, k = 5, nProbe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(all == exact, "probe-all IVF kNN join must equal the exact join")
    // a pruned probe keeps most of the true neighbors...
    val pruned = Ivf.ivfKnnJoin(spark, path, queries, k = 5, nProbe = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(t => (t._1, t._2))
    val recall = (pruned & exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"nProbe=6 recall $recall collapsed")
    // ...and the vectors read touches ONLY the probed lists' dirs
    // (direct-path construction — listing flat in nLists)
    val join2 = Ivf.ivfKnnJoin(spark, path, queries, k = 5, nProbe = 2)
    val listDirs = join2.inputFiles
      .filter(_.contains("/vectors/"))
      .flatMap(_.split("/").find(_.startsWith("list_id="))).distinct
    assert(listDirs.nonEmpty && listDirs.length < 16,
      s"nProbe=2 kNN join must read a strict subset of the 16 list dirs, got ${listDirs.length}")
  }

  test("kNN join excludeSelf: id-colliding corpus rows are kept for independent query ids") {
    import org.apache.spark.sql.functions.col
    val corpus = cat.embeddings.filter(col("vec_id") < 50)
    // a query whose id COLLIDES with corpus vec 7 but whose vector is
    // vec 3's: under the shared-id-space default the corpus row 7 is
    // (correctly, for same-table use) excluded; with excludeSelf=false
    // — independent query ids — it must be scored like any other row
    val queries = corpus.filter(col("vec_id") === 3)
      .select(org.apache.spark.sql.functions.lit(7L).as("vec_id"), col("embedding"))
    val k = 60 // > |corpus|, so the result enumerates every scored row
    val withExcl = Ann.knnJoin(queries, corpus, k).collect().map(_.getLong(1)).toSet
    val without = Ann.knnJoin(queries, corpus, k, excludeSelf = false)
      .collect().map(_.getLong(1)).toSet
    assert(!withExcl.contains(7L) && without.contains(7L),
      s"excludeSelf flag must gate the id-collision drop: with=$withExcl")
    assert(without == withExcl + 7L, "the flag must change nothing else")
  }

  test("batched kNN join: k rows per query, probe-all ANN ≡ exact, bucketed probe keeps recall") {
    val corpus = cat.embeddings
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0)
    val exact = Ann.knnJoin(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val nQueries = queries.count()
    assert(exact.size == nQueries * 5, "every query must get exactly k neighbors")
    assert(exact.groupBy(_._1).keySet.size == nQueries)
    // probing every bucket degenerates to the exact join, bit for bit
    val probeAll = Ann.annKnnJoin(queries, corpus, k = 5,
      nPlanes = 8, probeRadius = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(probeAll == exact, "probe-all ANN kNN join must equal the exact join")
    // a real probe radius keeps most of the true top-k
    val ann = Ann.annKnnJoin(queries, corpus, k = 5,
      nPlanes = 8, probeRadius = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(t => (t._1, t._2))
    val recall = (ann & exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"radius-3 recall $recall collapsed — bucketing broken")
  }
}
