package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Contract, GraftEngine, SelfPinned, SparkEntry}
import graft.core.Canonical

/** One timed call into the engine. `call` is the entry point: it
  * returns the composed DataFrame (collected in the execute phase), or
  * null for an operation whose work is a write that completes inside
  * the call. `check` validates the collected rows (or, for a write,
  * what the write left behind) outside the timed window and returns a
  * reason when the output is wrong.
  */
final case class Op(name: String, module: String, call: () => DataFrame,
    check: Array[Row] => Option[String])

/** What every workload sees: the session, the engine facade over the
  * data directory, a scratch directory for the run's writes and the
  * expected output hashes.
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: File,
    val seed: Long, val expected: Map[String, String]) {
  val engine: GraftEngine = GraftEngine(spark, dataDir)
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  def hashOf(rows: Array[Row]): String = Canonical.sha256Hex(Canonical.render(rows.toSeq)).take(16)

  def hashCheck(id: String): Array[Row] => Option[String] = rows =>
    (hashOf(rows), expected.get(id)) match {
      case (got, None) => Some(s"hash $got, no expected hash at $dataDir")
      case (got, Some(want)) => if (got == want) None else Some(s"hash $got, expected $want")
    }

  /** A declared query, called through `SparkEntry.queries`. */
  def declared(id: String, module: String): Op =
    Op(id, module, () => queries(id)(spark, dataDir), hashCheck(id))
}

trait Workload {
  /** Whether a pass may run its ops in a seed-permuted order. */
  def permutable: Boolean = true
  /** Whether its ops read stamped per-corpus artifacts, built on first
    * touch: those workloads run one untimed warm pass in set-up.
    */
  def readsArtifacts: Boolean = false
  /** Reference computations; outside every timed window and outside setup_s. */
  def prepare(ctx: Ctx): Unit = ()
  def ops(ctx: Ctx, pass: Int): Seq[Op]
}

object Workloads {
  val names: Seq[String] = Seq("contract", "curation", "vector", "index-write")

  def apply(name: String): Workload = name match {
    case "contract" => Contract_
    case "curation" => Curation
    case "vector" => Vector
    case "index-write" => IndexWrite
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Expected hashes for a data directory: the certified contract
    * hashes, the engine's self-pinned hashes, and the benchmark's own
    * list for the other declared queries (`expected/<sf>.tsv`).
    */
  def expected(dataDir: String, listDir: File): Map[String, String] = {
    val d = dataDir.replaceAll("/+$", "")
    val sf = new File(d).getName
    val contract =
      if (sf == "sf0.1") Contract.hash1 else if (sf == "sf0.01") Contract.hash01 else Map.empty[String, String]
    val list = new File(listDir, s"$sf.tsv")
    val listed =
      if (!list.exists()) Map.empty[String, String]
      else scala.io.Source.fromFile(list, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    contract ++ SelfPinned.forDir(d).getOrElse(Map.empty[String, String]) ++ listed
  }

  object Contract_ extends Workload {
    def ops(ctx: Ctx, pass: Int): Seq[Op] =
      Contract.all.map(c => ctx.declared(c.id, "ops"))
  }

  object Curation extends Workload {
    val ids: Seq[(String, String)] = Seq(
      "X93_curation_manifest" -> "pipeline",
      "X121_curation_manifest_v2" -> "pipeline",
      "X122_order_impact" -> "pipeline",
      "X128_runlevel_curation" -> "pipeline",
      "X07_minhash_dedup" -> "text",
      "X119_substring_dedup_clean" -> "text",
      "X127_runlevel_substring" -> "text",
      "X29_dup_clusters_stars" -> "ops",
      "X92_source_lm_matrix" -> "text",
      "X70_bigram_logprob" -> "text",
      "X13_tfidf_top3" -> "text",
      "X66_bm25_join" -> "text",
      "X57_bpe_merges" -> "text",
      "X58_bpe_encode_stats" -> "text",
      "X37_hll_distinct" -> "ops")
    override def readsArtifacts: Boolean = true
    def ops(ctx: Ctx, pass: Int): Seq[Op] = ids.map { case (id, m) => ctx.declared(id, m) }
  }

  object Vector extends Workload {
    val ids: Seq[String] = Seq(
      "X06_embed_neardup", "X12_embed_neardup_lsh", "X28_quantized_neardup",
      "X09_ann_top5", "X11_ivf_top5", "X52_knn_join", "X61_semantic_dedup",
      "X104_pq_adc_top5", "X105_pq_recall", "X109_ivfadc_recall",
      "X111_ivfadc_rerank_top5", "X113_probe_recall_curve", "X114_opq_recall",
      "X120_serve_calibration")
    override def readsArtifacts: Boolean = true
    def ops(ctx: Ctx, pass: Int): Seq[Op] = ids.map(ctx.declared(_, "vector"))
  }

  /** Writes beside reads through the GraftEngine build/probe/write
    * surface: index builds to fresh paths every pass, seeded takedowns,
    * a seeded IVF append, seeded probes and a training-stream write
    * through `Sinks`. Inputs come from the seed; references are
    * computed in [[prepare]] or pinned in the expected list.
    */
  object IndexWrite extends Workload {
    override def permutable: Boolean = false
    val K = 10
    val NLists = 16
    val IvfProbes = 4
    val Takedowns = 8
    val Appended = 32

    // seeded inputs and their references, set by prepare
    private var probes: Seq[Array[Float]] = Nil
    private var ivfTruth: Seq[Map[Long, Double]] = Nil
    private var annTruth: Map[Long, Double] = Map.empty
    private var takedown: Seq[Long] = Nil
    private var appended: DataFrame = _

    private def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }

    /** A seeded perturbation of an embedding row, re-normalised. */
    private def perturb(v: Array[Float], rnd: Random): Array[Float] =
      unit(v.map(x => x + 0.05 * rnd.nextGaussian()))

    private def cosines(q: Array[Float], rows: Seq[(Long, Array[Float])]): Map[Long, Double] =
      rows.map { case (id, v) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += q(i).toDouble * v(i); i += 1 }
        id -> s
      }.toMap

    private val Tol = 1e-5

    /** Every returned (id, cos) carries the exact cosine, descending. */
    private def exactScores(g: Seq[(Long, Double)], truth: Map[Long, Double]): Option[String] =
      g.find { case (id, c) => truth.get(id).forall(t => math.abs(t - c) > Tol) }
        .map { case (id, c) => s"id $id scored $c, exact ${truth.get(id)}" }
        .orElse(
          if (g.map(_._2).zip(g.map(_._2).drop(1)).exists { case (a, b) => b > a + Tol })
            Some("scores not descending")
          else None)

    /** `got` must be a valid exact top-k of `truth`: exact descending
      * scores, and nothing left out scores above the last kept one
      * (ties at the boundary may go either way).
      */
    private def topK(got: Array[Row], truth: Map[Long, Double]): Option[String] = {
      val g = got.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      if (g.size != math.min(K, truth.size)) Some(s"${g.size} rows, expected $K")
      else exactScores(g, truth).orElse {
        val kept = g.map(_._1).toSet
        truth.find { case (id, t) => !kept(id) && t > g.last._2 + Tol }
          .map { case (id, t) => s"missed id $id with cosine $t above ${g.last._2}" }
      }
    }

    override def prepare(ctx: Ctx): Unit = {
      val spark = ctx.spark
      import spark.implicits._
      val rnd = new Random(ctx.seed)
      val emb = ctx.engine.tables.embeddings.select("vec_id", "embedding", "label")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).toSeq
      val docIds = ctx.engine.tables.documents.select("doc_id").collect().map(_.getLong(0)).toSeq
      takedown = rnd.shuffle(docIds).take(Takedowns).sorted
      val maxId = emb.map(_._1).max
      val batch = (1 to Appended).map { i =>
        val (_, v, label) = emb(rnd.nextInt(emb.size))
        (maxId + i, perturb(v, rnd).toSeq, label)
      }
      appended = batch.toDF("vec_id", "embedding", "label")
      probes = (0 to IvfProbes).map(_ => perturb(emb(rnd.nextInt(emb.size))._2, rnd))
      val base = emb.map(e => (e._1, e._2))
      ivfTruth = probes.take(IvfProbes).map(cosines(_, base ++ batch.map(b => (b._1, b._2.toArray))))
      annTruth = cosines(probes.last, base)
    }

    private def written(p: String): Option[String] =
      if (Files.dataFiles(new File(p)) > 0) None else Some(s"nothing written at $p")

    /** Rows read back from `p`, ordered, hash-equal to a declared query. */
    private def readBack(ctx: Ctx, p: String, id: String, order: String*): Option[String] =
      written(p).orElse(ctx.hashCheck(id)(ctx.spark.read.parquet(p).orderBy(order.map(col): _*).collect()))

    def ops(ctx: Ctx, pass: Int): Seq[Op] = {
      val spark = ctx.spark
      import spark.implicits._
      val e = ctx.engine
      val dir = new File(ctx.workDir, s"pass$pass").getPath
      val sig = s"$dir/minhash_sigs"
      val table = s"perfbench_banded_p$pass"
      val ivf = s"$dir/ivf"
      val ann = s"$dir/ann"
      val stream = s"$dir/training_stream"
      def write(name: String, module: String, check: => Option[String])(body: => Unit): Op =
        Op(name, module, () => { body; null }, _ => check)
      Seq(
        write("build_minhash_signatures", "text", written(sig))(e.buildMinHashSignatures(sig)),
        write("build_banded_index_table", "text",
          if (spark.catalog.tableExists(table)) None else Some(s"table $table missing"))(
          e.buildBandedIndexTable(sig, table)),
        // the direct pipeline, MinHashDedup.dedupWinners over every
        // document, is exactly X07: its oracle-confirmed hash is the reference
        Op("dedup_from_banded_index_table", "text", () => e.dedupFromBandedIndexTable(table),
          ctx.hashCheck("X07_minhash_dedup")),
        write("delete_docs_from_table", "text", {
          val left = graft.text.MinHashDedup.readBandedIndexTable(spark, table)
            .filter(col("id").isin(takedown: _*)).count()
          if (left == 0) None else Some(s"$left rows of taken-down docs still served")
        })(graft.text.MinHashDedup.deleteDocsFromTable(takedown.toDF("doc_id"), table)),
        write("build_ivf_index", "vector", written(s"$ivf/vectors"))(e.buildIvfIndex(ivf, NLists)),
        write("ivf_append", "vector", None)(graft.vector.Ivf.appendToIndex(appended, ivf))
      ) ++ (0 until IvfProbes).map { i =>
        Op(s"probe_ivf_$i", "vector", () => e.probeIvf(ivf, probes(i), K, nProbe = NLists),
          rows => topK(rows, ivfTruth(i)))
      } ++ Seq(
        write("build_ann_index", "vector", written(ann))(e.buildAnnIndex(ann)),
        // LSH is approximate: scores must be exact and descending; recall is not checked
        Op("probe_ann", "vector", () => e.probeAnn(ann, probes.last, K),
          rows => {
            val g = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
            if (g.isEmpty || g.size > K) Some(s"${g.size} rows") else exactScores(g, annTruth)
          }),
        // the X94 training stream, written through Sinks
        write("write_training_stream", "pipeline",
          readBack(ctx, stream, "X94_epoch_expand", "doc_id", "epoch"))(
          graft.sources.Sinks.parquet(e.epochExpand("source", 1000000L, 0.5), stream))
      )
    }
  }
}
