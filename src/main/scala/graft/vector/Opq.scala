package graft.vector

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

import graft.functions.VectorFunctions.dot

/** Optimized Product Quantization (OPQ) — a learned ORTHOGONAL rotation
  * applied before the subspace split, so the same m·ks codebook budget
  * is spent where the signal actually lives (public method: Ge, He, Ke
  * & Sun, "Optimized Product Quantization for Approximate Nearest
  * Neighbor Search", CVPR 2013; the non-parametric alternation).
  *
  * Plain PQ quantizes each CONTIGUOUS dsub-dim slice independently, so
  * its error is hostage to how the corpus's variance happens to fall
  * across those fixed slices: a subspace straddling correlated or
  * high-variance dims starves its ks cells while another subspace's
  * cells idle. An orthogonal R preserves all L2 geometry (|Rx − Ry| =
  * |x − y|, so exact ground truth is unchanged) but redistributes
  * variance across the slices; OPQ learns the R that minimizes the
  * end-to-end quantization error  Σ |R·x − c(code(R·x))|²  by
  * alternating two exact sub-steps, each of which cannot increase the
  * objective:
  *   1. fix R, train/encode a PQ codebook on the rotated vectors
  *      (ordinary [[Pq.trainCodebooks]] + [[Pq.encode]]);
  *   2. fix the code assignments y (the reconstructions), solve the
  *      orthogonal Procrustes problem  min_R Σ |R·x − y|²  in closed
  *      form: R = V·Uᵀ from the SVD  Σ x·yᵀ = U·S·Vᵀ.
  *
  * Scale shape: step 1 is the already-scale-audited PQ trainer (and a
  * `sampleFraction` knob — rotations need samples, not the corpus);
  * step 2's only driver-side object is the dim×dim cross-covariance
  * (64×64 doubles = 32 KB — metadata-sized, like a centroid table),
  * accumulated DISTRIBUTED as one groupBy(i) aggregate and solved with
  * a dense SVD on the driver. Applying the rotation is strictly
  * map-side: R collapses to ONE broadcast row and each output element
  * is one [[dot]] (double-accumulated, the engine-portable sum the
  * DuckDB oracle restates with `list_inner_product`).
  *
  * The persisted artifact is (rotation, codebook, codes): the rotation
  * is part of the index identity exactly like the residual tier's
  * coarse centroids — every stored code is a code OF R·v, so searches
  * must rotate queries with the SAME persisted floats.
  *
  * With R = I the whole pipeline degenerates to plain PQ bit-for-bit
  * (OpqSpec pins codes and search results), which is also why the ADC
  * scan needs nothing new: [[adcTopK]] below is [[Pq.adcTopK]] over
  * rotated queries — same codegen'd fold, same top-k shape.
  */
object Opq {

  /** Rotation frame schema: one row per output dimension `i`, `vals` =
    * row i of R (float, the persisted dtype) — rotated[i] = vals · v.
    */
  private val rotationSchema = StructType(Seq(
    StructField("i", IntegerType),
    StructField("vals", ArrayType(FloatType))))

  /** The identity rotation — the R that reproduces plain PQ exactly. */
  def identityRotation(spark: SparkSession, dim: Int): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList((0 until dim).map { i =>
        Row(i, Array.tabulate(dim)(j => if (i == j) 1.0f else 0.0f))
      }: _*),
      rotationSchema)

  /** Apply the rotation to `col(vecCol)` map-side: R collapses into ONE
    * broadcast row (rows sorted by output index) and each output
    * element is one double-accumulated [[dot]] cast back to the
    * corpus's float dtype (so a query and a corpus vector rotate
    * through the IDENTICAL arithmetic). All other columns pass through.
    */
  private def withRotated(
      df: DataFrame, rotation: DataFrame, vecCol: String): DataFrame = {
    require(!df.columns.contains("__rot"),
      "rotation input must not carry the internal column '__rot'")
    val rotRow = rotation.agg(
      sort_array(collect_list(struct(col("i"), col("vals")))).as("__rot"))
    df.crossJoin(broadcast(rotRow))
      .withColumn(vecCol,
        transform(col("__rot"), r => dot(r("vals"), col(vecCol)).cast("float")))
      .drop("__rot")
  }

  /** Rotate a (vec_id, embedding, …) corpus frame. */
  def rotateVectors(vectors: DataFrame, rotation: DataFrame): DataFrame =
    withRotated(vectors, rotation, "embedding")

  /** Rotate a (query_id, qvec) query frame — same float discipline as
    * the corpus side, so stored codes and query LUTs live in the same
    * rotated space.
    */
  def rotateQueries(queries: DataFrame, rotation: DataFrame): DataFrame =
    withRotated(queries, rotation, "qvec")

  /** PQ reconstruction of every coded vector: y = concat over subs of
    * the assigned centroid — the fixed side of the Procrustes step.
    * Map-side (one broadcast codebook row, one zip_with + flatten).
    */
  private[vector] def reconstruct(
      codes: DataFrame, codebook: DataFrame): DataFrame = {
    val cbRow = Pq.perSubArrays(codebook)
      .agg(sort_array(collect_list(struct(col("sub"), col("cents")))).as("sc"))
      .select(transform(col("sc"), x =>
        transform(x("cents"), c => c("centroid"))).as("__cb"))
    codes.crossJoin(broadcast(cbRow))
      .select(col("vec_id"),
        flatten(zip_with(col("__cb"), col("codes"),
          (subCents, code) => element_at(subCents, code + 1))).as("recon"))
  }

  /** The dim×dim cross-covariance  M(i,j) = Σ_vectors x_i · y_j
    * between the ORIGINAL vectors x and their reconstructions y,
    * accumulated distributed (posexplode on i, one groupBy(i) with dim
    * sum columns — the [[Ivf.refineCentroidsL2]] aggregation idiom) and
    * collected as dim rows of dim doubles — metadata-sized (32 KB at
    * dim 64), NOT a data collect.
    */
  private def crossCovariance(
      originals: DataFrame, recon: DataFrame, dim: Int): Array[Array[Double]] = {
    val sums = (0 until dim).map(j =>
      sum(col("xi").cast("double") *
        element_at(col("recon"), j + 1).cast("double")).as(s"c$j"))
    val rows = originals.select(col("vec_id"), col("embedding"))
      .join(recon, Seq("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("i", "xi")), col("recon"))
      .groupBy("i")
      .agg(sums.head, sums.tail: _*)
      .collect()
    val m = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val i = r.getInt(0)
      (0 until dim).foreach(j => m(i)(j) = r.getDouble(j + 1))
    }
    m
  }

  /** Closed-form orthogonal Procrustes:  argmax_R tr(R·M)  =  V·Uᵀ
    * from the SVD M = U·S·Vᵀ (dense, driver-side — the matrix is
    * dim×dim metadata).
    */
  private def procrustes(
      spark: SparkSession, m: Array[Array[Double]]): DataFrame = {
    import breeze.linalg.{svd, DenseMatrix}
    val dim = m.length
    val mm = DenseMatrix.tabulate(dim, dim)((i, j) => m(i)(j))
    val decomp = svd(mm)
    val r = decomp.Vt.t * decomp.U.t
    spark.createDataFrame(
      java.util.Arrays.asList((0 until dim).map { i =>
        Row(i, Array.tabulate(dim)(j => r(i, j).toFloat))
      }: _*),
      rotationSchema)
  }

  /** Learn the OPQ rotation by `opqIters` rounds of the two-step
    * alternation, starting from the identity (round 0 therefore trains
    * exactly plain PQ, and every later round can only reduce the
    * training quantization error it measures). The returned frame is
    * the rotation ONLY — [[writeIndex]] trains the final codebook
    * against it and persists all three artifact parts together.
    */
  def trainRotation(
      embeddings: DataFrame,
      m: Int,
      ks: Int,
      dim: Int,
      opqIters: Int = 3,
      pqIters: Int = 3,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    val spark = embeddings.sparkSession
    val pool = Ivf.samplePool(embeddings, sampleFraction, seed)
    var rot = identityRotation(spark, dim)
    var prev: Option[DataFrame] = None
    for (_ <- 0 until opqIters) {
      val rotated = rotateVectors(pool, rot).localCheckpoint(true)
      // free the PREVIOUS round's pool-sized checkpoint now that this
      // round's exists — without it the loop pins up to opqIters full
      // rotated-corpus copies in executor storage (the Bpe.learnMerges
      // iterative-loop discipline)
      prev.foreach(_.unpersist())
      prev = Some(rotated)
      val cb = Pq.trainCodebooks(rotated, m, ks, pqIters, dim)
      val recon = reconstruct(Pq.encode(rotated, cb, dim / m), cb)
      rot = procrustes(spark, crossCovariance(pool, recon, dim))
    }
    prev.foreach(_.unpersist())
    rot
  }

  /** Build + persist the OPQ artifact: `$path/rotation` (i, vals —
    * part of the index identity: every stored code is a code of R·v),
    * `$path/codebook` (trained on the rotated corpus) and
    * `$path/codes` — [[Pq.writeIndex]] over the vectors rotated by the
    * STORED rotation, so downstream searches read the SAME
    * rotation/codebook bytes this build wrote.
    */
  def writeIndex(
      embeddings: DataFrame,
      path: String,
      m: Int,
      ks: Int,
      iters: Int,
      dim: Int,
      opqIters: Int = 3,
      sampleFraction: Double = 1.0): Unit = {
    trainRotation(embeddings, m, ks, dim, opqIters, iters, sampleFraction)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    val storedRot = embeddings.sparkSession.read.parquet(s"$path/rotation")
    Pq.writeIndex(rotateVectors(embeddings, storedRot), path, m, ks, iters, dim)
  }

  /** ADC top-k over an OPQ artifact: rotate the queries with the
    * persisted R (map-side), then the ordinary codegen'd ADC scan —
    * distances approximate |R·q − R·v|² = |q − v|², so results compare
    * directly against the RAW-space exact ground truth.
    */
  def adcTopK(
      codes: DataFrame,
      codebook: DataFrame,
      rotation: DataFrame,
      queries: DataFrame,
      k: Int,
      dsub: Int): DataFrame =
    Pq.adcTopK(codes, codebook, rotateQueries(queries, rotation), k, dsub)

  /** Training-objective diagnostic: avg |R·x − y|² over the corpus —
    * the number OPQ minimizes, comparable across rotations at equal
    * m·ks (identity = plain PQ's error). One map-side
    * rotate/encode/reconstruct pass + one global aggregate.
    */
  def quantizationError(
      embeddings: DataFrame,
      rotation: DataFrame,
      codebook: DataFrame,
      dsub: Int): DataFrame = {
    val rotated = rotateVectors(embeddings, rotation)
    val recon = reconstruct(Pq.encode(rotated, codebook, dsub), codebook)
    rotated.join(recon, Seq("vec_id"))
      .agg(
        count(lit(1)).cast("long").as("n_vectors"),
        round(avg(
          dot(col("embedding"), col("embedding"))
            - lit(2.0) * dot(col("embedding"), col("recon"))
            + dot(col("recon"), col("recon"))), 6).as("avg_q_error"))
  }
}
