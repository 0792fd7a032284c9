package graft

import graft.core.Canonical
import graft.ops.Catalog
import graft.vector.{Ann, Ivf}

/** IVF properties: full-probe degenerates to exact brute force; the
  * index is a partition of the corpus; narrow probes retain the true
  * top-1 for the fixed probe (deterministic with the hash-based
  * centroid choice).
  */
class IvfSpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf01)

  test("IVF with nProbe = nLists equals brute force") {
    val brute = Canonical.hash16(Ann.bruteForceTopK(cat.embeddings, 0, 5))
    val full = Canonical.hash16(
      Ivf.ivfTopK(cat.embeddings, 0, 5, nLists = 16, nProbe = 16))
    assert(full == brute)
  }

  test("BestCentroid kernel ≡ the certified HOF argmax/argmin twins — corpus and adversarial fixtures") {
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.VectorFunctions.dot

    def kern(l2: Boolean): Column = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.BestCentroid(
        org.apache.spark.sql.GraftColumnBridge.expression(col("embedding")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("cents")), l2))
    // the two certified HOF spellings, rebuilt to the kernel's
    // (score, id) shape so rows compare directly
    val hofDot: Column = {
      val b = array_max(transform(col("cents"), c =>
        struct(dot(col("embedding"), c("centroid")).as("score"),
          (-c("centroid_id")).as("neg_id"))))
      struct(b("score").as("score"), (-b("neg_id")).as("id"))
    }
    val hofL2: Column = {
      val b = array_min(transform(col("cents"), c =>
        struct((dot(col("embedding"), col("embedding")) -
          lit(2.0) * dot(col("embedding"), c("centroid")) +
          dot(c("centroid"), c("centroid"))).as("d2"),
          c("centroid_id").as("cid"))))
      struct(b("d2").as("score"), b("cid").as("id"))
    }
    // compare FIELDS, not struct nullity: the HOF twin applied to a
    // null cents array yields struct(null, null) where the kernel
    // yields a null struct — indistinguishable at every use site
    // (callers only ever read best.score / best.id)
    def compare(df: DataFrame, what: String): Unit =
      Seq((kern(false), hofDot, "dot"), (kern(true), hofL2, "l2"))
        .foreach { case (k, h, m) =>
          val rows = df.select(col("vec_id"),
            k("score"), k("id"), h("score"), h("id")).collect()
          rows.foreach { r =>
            def g(i: Int): Any = if (r.isNullAt(i)) null else r.get(i)
            assert((g(1), g(2)) == (g(3), g(4)),
              s"[$what/$m] vec ${r.getLong(0)}: kernel (${g(1)}, ${g(2)}) != HOF (${g(3)}, ${g(4)})")
          }
        }

    // corpus rows against NON-UNIT (L2-Lloyd mean) centroids — the
    // regime where the two metrics genuinely disagree with each other,
    // so each kernel must track ITS OWN twin
    val emb = cat.embeddings
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val refined = Ivf.refineCentroidsL2(
      emb, Ivf.centroids(emb, 16), iters = 2, dim = dim)
    val centsArr = refined.agg(sort_array(
      collect_list(struct(col("centroid_id"), col("centroid")))).as("cents"))
    compare(emb.limit(100).crossJoin(centsArr), "corpus")

    // adversarial: ragged / null-element / null embeddings against a
    // cents array with a null element, a null id and a null centroid
    val centsType = ArrayType(StructType(Seq(
      StructField("centroid_id", LongType),
      StructField("centroid", ArrayType(FloatType)))), containsNull = true)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("cents", centsType)))
    val weirdCents = Seq(
      Row(3L, Array(1.0f, 0.0f)),
      null,
      Row(null, Array(0.5f, 0.5f)),
      Row(7L, null),
      Row(9L, Array(0.0f, 1.0f)))
    val weird = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Seq(1.0f, 2.0f).map(java.lang.Float.valueOf), weirdCents),
      Row(2L, Seq(java.lang.Float.valueOf(1.0f), null), weirdCents),
      Row(3L, Seq(1.0f, 2.0f, 3.0f).map(java.lang.Float.valueOf), weirdCents),
      Row(4L, null, weirdCents),
      Row(5L, Seq(1.0f, 2.0f).map(java.lang.Float.valueOf), Seq.empty[Row]),
      Row(6L, Seq(1.0f, 2.0f).map(java.lang.Float.valueOf), null)), schema)
    compare(weird, "adversarial")
  }

  test("assignL2 matches a driver-side L2 argmin; L2-Lloyd refinement drives residualGain below 1") {
    import org.apache.spark.sql.functions._
    val emb = cat.embeddings
    val cents = Ivf.centroids(emb, 16)
    // driver reference: same |v|²−2v·c+|c|² expansion, left-to-right
    // double sums, min (d2, centroid_id)
    val cRows = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var saa = 0.0; var sab = 0.0; var sbb = 0.0; var i = 0
      while (i < a.length) {
        saa += a(i).toDouble * a(i).toDouble
        sab += a(i).toDouble * b(i).toDouble
        sbb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      (saa - 2.0 * sab) + sbb
    }
    val want = emb.collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      r.getLong(0) -> cRows.toSeq.map { case (id, c) => (d2(v, c), id) }.min._2
    }.toMap
    val got = Ivf.assignL2(emb, cents)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "assignL2 must be the exact L2 argmin with centroid_id tie-break")

    // the metric-consistency property the residual tier rides: L2-Lloyd
    // means shrink the assigned residual mass each round, so the
    // refined quantizer explains positive variance (gain < 1) where the
    // spherical/max-dot pairing on this corpus measured gain > 1
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val refined = Ivf.refineCentroidsL2(emb, cents, iters = 4, dim = dim)
    val gain = graft.vector.Pq.residualGain(emb, refined)
      .first().getDouble(3)
    assert(gain < 1.0, s"L2-refined residual gain must be < 1, got $gain")
    // and refinement helped over the unrefined start
    val gain0 = graft.vector.Pq.residualGain(emb, cents)
      .first().getDouble(3)
    assert(gain < gain0, s"refinement must tighten residuals: $gain vs $gain0")
  }

  test("Lloyd rounds on both metrics ≡ a driver-side reference; an emptied list keeps its centroid") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // dyadic floats: every per-list sum is exact in binary whatever the
    // shuffle's addition order, so the means compare bit-for-bit
    def frame(rows: Seq[(Long, Array[Float])], idCol: String, vecCol: String) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*),
        StructType(Seq(StructField(idCol, LongType),
          StructField(vecCol, ArrayType(FloatType)))))
        .repartition(4)
    def dotD(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    // the reference round: argmax score, smallest centroid_id on ties;
    // the per-list double mean, then `finish` to the float centroid; a
    // list with no members keeps its previous centroid
    def reference(
        vecs: Seq[Array[Float]], cents: Seq[(Long, Array[Float])], iters: Int,
        score: (Array[Float], Array[Float]) => Double,
        finish: Array[Double] => Array[Float]): Map[Long, Seq[Float]] = {
      var cur = cents
      for (_ <- 0 until iters) {
        val lists = vecs.groupBy(v => cur.map { case (id, c) => (-score(v, c), id) }.min._2)
        cur = cur.map { case (id, c) =>
          id -> lists.get(id).fold(c) { vs =>
            finish(c.indices.map(i => vs.map(_(i).toDouble).sum / vs.size).toArray)
          }
        }
      }
      cur.map { case (id, c) => id -> c.toSeq }.toMap
    }
    def run(refined: org.apache.spark.sql.DataFrame): Map[Long, Seq[Float]] =
      refined.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

    // cosine: first-quadrant vectors split between c0 and c1; c2 points
    // the other way and attracts nobody
    val vecs = Seq(
      Array(1.0f, 0.25f), Array(0.75f, 0.5f), Array(1.0f, 0.5f),
      Array(0.25f, 1.0f), Array(0.5f, 0.75f))
    val cents = Seq(0L -> Array(1.0f, 0.0f), 1L -> Array(0.0f, 1.0f), 2L -> Array(-1.0f, 0.0f))
    val corpus = frame(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, "vec_id", "embedding")
    val spherical = reference(vecs, cents, 2, dotD, { m =>
      val norm = math.sqrt(m.foldLeft(0.0)((s, x) => s + x * x))
      val safe = if (norm > 0) norm else 1.0
      m.map(x => (x / safe).toFloat)
    })
    val gotCos = run(Ivf.refineCentroids(corpus, frame(cents, "centroid_id", "centroid"),
      iters = 2, dim = 2))
    assert(gotCos == spherical, s"spherical Lloyd $gotCos vs reference $spherical")
    assert(gotCos(2L) == Seq(-1.0f, 0.0f), "an emptied list must keep its centroid")
    assert(gotCos(0L) != Seq(1.0f, 0.0f) && gotCos(1L) != Seq(0.0f, 1.0f),
      "the fixture must move the populated centroids")

    // squared L2: two clusters, c2 far from both
    val vecsL2 = Seq(
      Array(0.5f, 1.0f), Array(1.0f, 0.5f), Array(0.0f, 0.25f),
      Array(4.0f, 3.5f), Array(3.5f, 4.5f))
    val centsL2 = Seq(0L -> Array(0.0f, 0.0f), 1L -> Array(4.0f, 4.0f), 2L -> Array(64.0f, 64.0f))
    val corpusL2 = frame(vecsL2.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      "vec_id", "embedding")
    val l2 = reference(vecsL2, centsL2, 2,
      (v, c) => -((dotD(v, v) - 2.0 * dotD(v, c)) + dotD(c, c)), _.map(_.toFloat))
    val gotL2 = run(Ivf.refineCentroidsL2(corpusL2,
      frame(centsL2, "centroid_id", "centroid"), iters = 2, dim = 2))
    assert(gotL2 == l2, s"L2 Lloyd $gotL2 vs reference $l2")
    assert(gotL2(2L) == Seq(64.0f, 64.0f), "an emptied list must keep its centroid")
    assert(gotL2(0L) == Seq(0.5f, (1.75 / 3).toFloat) && gotL2(1L) == Seq(3.75f, 4.0f))
  }

  test("IVF assignment partitions the corpus") {
    val cents = Ivf.centroids(cat.embeddings, 16)
    assert(cents.count() == 16)
    val assigned = Ivf.assign(cat.embeddings, cents)
    assert(assigned.count() == cat.embeddings.count())
    assert(assigned.select("vec_id").distinct().count() == cat.embeddings.count())
    assert(assigned.select("list_id").distinct().count() <= 16)
  }

  test("IVF narrow probe keeps the true nearest neighbour of probe 0") {
    val bruteTop = Ann.bruteForceTopK(cat.embeddings, 0, 1).collect()(0).getLong(0)
    val ids = Ivf.ivfTopK(cat.embeddings, 0, 5, nLists = 16, nProbe = 6)
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(bruteTop))
  }

  test("IVF append: frozen-centroid append equals a one-pass re-assign; probes see the union exactly") {
    import org.apache.spark.sql.functions._
    val emb = cat.embeddings
    // build over the even half, append the odd half (disjoint ids —
    // the append-only contract)
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    Ivf.writeIndex(a, dir, nLists = 16)
    Ivf.appendToIndex(b, dir)
    // list membership after append == assigning A ∪ B against the
    // SAVED centroids in one pass (assign is a pure per-row function)
    val saved = spark.read.parquet(s"$dir/centroids")
    val want = Ivf.assign(a.unionByName(b), saved)
      .select("vec_id", "list_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // list_id is a partition column on the read side — its inferred
    // type is int; cast for the comparison
    val got = spark.read.parquet(s"$dir/vectors")
      .select(col("vec_id"), col("list_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"appended membership diverges: ${got.size}/${want.size} rows")
    // probe-all over the appended index == exact brute force over the
    // union (vec 0 is in the ORIGINAL half — the probe must now also
    // see appended vectors)
    val probeVec = emb.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    val brute = Ann.bruteForceTopK(emb, 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probed = Ivf.probeIndex(spark, dir, probeVec, k = 6, nProbe = 16)
      .filter(col("vec_id") =!= 0)
      .orderBy(desc("cos"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed == brute,
      s"probe-all over appended index must equal brute force: $probed vs $brute")
    // appended rows land in EXISTING list dirs as extra files — no
    // rebuild of prior files (the old files still serve their rows)
    val nFromB = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") % 2 === 1).count()
    assert(nFromB == b.count(), "every appended vector must be readable")
  }

  test("hierarchical assignment: probe-all supers ≡ exact assign on both metrics; narrow probe agrees on nearly all rows") {
    import org.apache.spark.sql.functions._
    val emb = cat.embeddings
    val cents = Ivf.centroids(emb, 64)
    val g = math.ceil(math.sqrt(64.0)).toInt
    def memb(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.select("vec_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // superProbe ≥ super count gathers every centroid → EXACT equality
    // with the flat argmax, on both the cosine and the L2 metric
    assert(memb(Ivf.assignHierarchical(emb, cents, superProbe = g)) ==
      memb(Ivf.assign(emb, cents)),
      "probe-all hierarchical assignment must equal the exact cosine argmax")
    assert(memb(Ivf.assignHierarchical(emb, cents, superProbe = g, l2 = true)) ==
      memb(Ivf.assignL2(emb, cents)),
      "probe-all hierarchical assignment must equal the exact L2 argmin")
    // the production narrow setting, measured honestly on BOTH regimes:
    // on this adversarially unstructured (near-isotropic) corpus the
    // agreement degrades gracefully and monotonically in superProbe
    // (measured 0.55 → 0.74 → 1.0 at 2/4/8-of-8 supers — isotropic
    // noise is also the regime where IVF itself buys nothing)…
    val exact = memb(Ivf.assign(emb, cents))
    def agreeAt(sp: Int): Double = {
      val approx = memb(Ivf.assignHierarchical(emb, cents, superProbe = sp))
      assert(approx.keySet == exact.keySet, "every vector must be assigned")
      exact.count { case (v, l) => approx(v) == l }.toDouble / exact.size
    }
    val (a2, a4) = (agreeAt(2), agreeAt(4))
    assert(a4 >= a2, s"agreement must be monotone in superProbe: $a2 -> $a4")
    assert(a4 >= 0.5, s"even isotropic noise must keep majority agreement at superProbe=4: $a4")

    // …while on a CLUSTERED corpus — the regime an IVF index exists
    // for — the narrow two-level assignment is near-perfect
    val dim = 64
    def unitVec(seed: Long): Array[Float] = {
      val raw = Array.tabulate(dim) { i =>
        var x = seed * 6364136223846793005L + i * 1442695040888963407L
        x ^= x >>> 33; x *= -49064778989728563L; x ^= x >>> 33
        (x.toDouble / Long.MaxValue).toFloat
      }
      val n = math.sqrt(raw.map(v => v.toDouble * v).sum).toFloat
      raw.map(v => v / n)
    }
    val protos = (0 until 16).map(c => unitVec(c + 1000L))
    val rows = (0L until 800L).map { i =>
      val p = protos((i % 16).toInt)
      val noise = unitVec(i)
      org.apache.spark.sql.Row(i, p.zip(noise).map { case (a, b) => a + 0.15f * b })
    }
    import org.apache.spark.sql.types._
    val cdf = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ccents = Ivf.refineCentroids(cdf, Ivf.centroids(cdf, 64), 2, dim)
      .localCheckpoint(true)
    val cexact = memb(Ivf.assign(cdf, ccents))
    val capprox = memb(Ivf.assignHierarchical(cdf, ccents, superProbe = 4))
    val cagree = cexact.count { case (v, l) => capprox(v) == l }
    assert(cagree.toDouble / cexact.size >= 0.99,
      s"clustered corpus must keep near-perfect narrow agreement: $cagree/${cexact.size}")

    // memberless-super fallback: colinear centroids with growing norms —
    // under the dot metric every centroid's nearest super is the
    // largest-norm sampled super, so every OTHER super is memberless;
    // a query anti-aligned with the shared direction ranks exactly
    // those memberless supers first, and a narrow probe would
    // previously argmax over an empty candidate array (null list_id —
    // a row written to a partition no probe ever reads). The fallback
    // must route such rows to the FULL member union, i.e. the exact
    // argmax.
    val u = unitVec(77L)
    val colCents = spark.createDataFrame(java.util.Arrays.asList(
      (0 until 64).map(k => org.apache.spark.sql.Row(
        k.toLong, u.map(x => x * (k + 1)))): _*),
      StructType(Seq(StructField("centroid_id", LongType),
        StructField("centroid", ArrayType(FloatType)))))
    val anti = spark.createDataFrame(java.util.Arrays.asList(
      (0L until 8L).map { i =>
        val n = unitVec(100L + i)
        org.apache.spark.sql.Row(i,
          u.zip(n).map { case (a, b) => -a + 0.01f * b })
      }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val happrox = Ivf.assignHierarchical(anti, colCents, superProbe = 1)
      .localCheckpoint(true)
    assert(happrox.filter(col("list_id").isNull).isEmpty,
      "the empty-gather fallback must never emit a null list_id")
    assert(memb(happrox) == memb(Ivf.assign(anti, colCents)),
      "empty-gather rows must fall back to the exact argmax")
  }

  test("hierarchical member broadcast enforces its sizing ceiling at the boundary") {
    val emb = cat.embeddings
    val cents = Ivf.centroids(emb, 64).localCheckpoint(true)
    val dim = cents.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("centroid"))).first().getInt(0)
    val est = 64L * (4L * dim + 24L) // the documented estimate formula
    // one byte under the estimate: the build must refuse, naming sizes
    val e = intercept[IllegalArgumentException] {
      Ivf.assignHierarchical(emb, cents, maxMemberBroadcastBytes = est - 1)
    }
    assert(e.getMessage.contains("ceiling") && e.getMessage.contains(est.toString),
      e.getMessage)
    // exactly at the estimate: the build runs (the ceiling is inclusive)
    assert(Ivf.assignHierarchical(emb, cents, maxMemberBroadcastBytes = est)
      .count() == emb.count())
    // the default ceiling admits the declared design sizes (16k x dim)
    assert(64L * (4L * dim + 24L) <= Ivf.DefaultMaxMemberBroadcastBytes)
  }

  test("IVF delta probe: a committed-but-dataless delta yields zero candidates, not a schema failure") {
    import org.apache.spark.sql.functions._
    val emb = cat.embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-emptydelta").toString
    Ivf.writeIndex(emb, dir, nLists = 16)
    // a delta root holding ONLY its commit marker — the state a probe
    // observes when a concurrent compaction (or a crashed ingest) has
    // removed the data between the delta listing and the probed read.
    // The old fallback schema-inferred against this root and threw;
    // the probe must instead serve the base rows and skip the delta.
    val empty = new java.io.File(s"$dir/delta/b0")
    assert(empty.mkdirs())
    assert(new java.io.File(empty, "_SUCCESS").createNewFile())
    val probeVec = emb.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    val brute = Ann.bruteForceTopK(emb, 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probed = Ivf.probeIndexWithDeltas(spark, dir, probeVec, k = 6, nProbe = 16)
      .filter(col("vec_id") =!= 0)
      .orderBy(desc("cos"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed == brute,
      s"probe over base + dataless delta must equal brute force: $probed vs $brute")
  }

  test("IVF delete tombstones: every serve path excludes deleted ids; compaction folds them physically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = cat.embeddings
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
    Ivf.writeIndex(a, dir, nLists = 16)
    val cents = spark.read.parquet(s"$dir/centroids")
    Ivf.assign(b, cents).repartition(col("list_id"))
      .write.partitionBy("list_id").parquet(s"$dir/delta/b0")
    val probeVec = emb.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    // delete the top-2 of the union brute force — ids that PROVABLY
    // change every serve result, one of which may live in the delta
    val doomed = Ann.bruteForceTopK(emb, 0, 2)
      .collect().map(_.getLong(0)).toSeq
    Ivf.deleteFromIndex(doomed.toDF("vec_id"), dir)
    val remaining = emb.filter(!col("vec_id").isInCollection(doomed.toSet))
    def top5(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("vec_id") =!= 0)
      .orderBy(desc("cos"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bruteLeft = Ann.bruteForceTopK(remaining, 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // probe-after-delete ≡ rebuild-without-deleted, row-identical
    assert(top5(Ivf.probeIndexWithDeltas(spark, dir, probeVec, k = 8, nProbe = 16))
      == bruteLeft, "deltas probe must equal brute force over the remaining corpus")
    // the base-only probe excludes tombstoned ids too (no resurrect
    // window between delete and compaction)
    val bruteLeftA = Ann.bruteForceTopK(
        a.filter(!col("vec_id").isInCollection(doomed.toSet)), 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top5(Ivf.probeIndex(spark, dir, probeVec, k = 8, nProbe = 16))
      == bruteLeftA, "base probe must exclude tombstoned ids")
    // the batched kNN join path as well
    val joined = Ivf.ivfKnnJoin(spark, dir,
        emb.filter(col("vec_id") === 0), k = 5, nProbe = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(doomed.forall(!joined.contains(_)),
      s"ivfKnnJoin must exclude tombstoned ids: $joined")
    // a second delete batch gets its own dir and composes
    val extra = bruteLeft.head._1
    Ivf.deleteFromIndex(Seq(extra).toDF("vec_id"), dir)
    assert(new java.io.File(s"$dir/tombstone/d1").exists(), "second batch keyed d1")
    val bruteLeft2 = Ann.bruteForceTopK(
        remaining.filter(col("vec_id") =!= extra), 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top5(Ivf.probeIndexWithDeltas(spark, dir, probeVec, k = 8, nProbe = 16))
      == bruteLeft2, "both tombstone batches filter")
    // compaction folds rows AND tombstones away — physical removal
    Ivf.compactIndex(spark, dir)
    for (leftover <- Seq("tombstone/d0", "tombstone/d1", "delta/b0",
        "vectors.next", "vectors.old", "vectors/_FOLDED_DELTAS"))
      assert(!new java.io.File(s"$dir/$leftover").exists(),
        s"$leftover must be gone after compaction")
    val folded = spark.read.parquet(s"$dir/vectors")
    assert(folded.count() == emb.count() - 3, "rows physically removed")
    assert(folded.filter(col("vec_id").isInCollection((doomed :+ extra).toSet))
      .count() == 0, "deleted ids absent from the folded layout")
    assert(top5(Ivf.probeIndex(spark, dir, probeVec, k = 8, nProbe = 16))
      == bruteLeft2, "post-compaction probe still equals the rebuilt-without-deleted result")
  }

  test("IVF delete crash window: a crash between tombstone fold and cleanup recovers exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = cat.embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-del-crash").toString
    Ivf.writeIndex(emb, dir, nLists = 16)
    val probeVec = emb.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    val doomed = Ann.bruteForceTopK(emb, 0, 1)
      .collect().map(_.getLong(0)).toSeq
    Ivf.deleteFromIndex(doomed.toDF("vec_id"), dir)
    val ex = intercept[IllegalStateException] {
      Ivf.compactIndex(spark, dir, failpoint = "after-swap-out")
    }
    assert(ex.getMessage.contains("after-swap-out"))
    Ivf.compactIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstone/d0").exists(),
      "tombstone absorbed exactly once on recovery")
    val folded = spark.read.parquet(s"$dir/vectors")
    assert(folded.count() == emb.count() - 1 &&
      folded.filter(col("vec_id") === doomed.head).count() == 0)
    val bruteLeft = Ann.bruteForceTopK(
        emb.filter(col("vec_id") =!= doomed.head), 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probed = Ivf.probeIndex(spark, dir, probeVec, k = 6, nProbe = 16)
      .filter(col("vec_id") =!= 0)
      .orderBy(desc("cos"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed == bruteLeft, s"recovered probe: $probed vs $bruteLeft")
  }

  test("IVF compaction: a crash injected at every swap window recovers on retry — no lost or double-folded rows") {
    import org.apache.spark.sql.functions._
    val emb = cat.embeddings
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val probeVec = emb.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    val brute = Ann.bruteForceTopK(emb, 0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (fp <- Seq("after-stage", "after-swap-out", "after-swap-in")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-ivf-crash-$fp").toString
      Ivf.writeIndex(a, dir, nLists = 16)
      val cents = spark.read.parquet(s"$dir/centroids")
      Ivf.assign(b, cents).repartition(col("list_id"))
        .write.partitionBy("list_id").parquet(s"$dir/delta/b0")
      val ex = intercept[IllegalStateException] {
        Ivf.compactIndex(spark, dir, failpoint = fp)
      }
      assert(ex.getMessage.contains(fp))
      // the RETRY must self-recover: complete (or redo) the fold,
      // absorb the delta exactly once, and clean every staging dir
      Ivf.compactIndex(spark, dir)
      for (leftover <- Seq("vectors.next", "vectors.old", "delta/b0",
          "vectors/_FOLDED_DELTAS"))
        assert(!new java.io.File(s"$dir/$leftover").exists(),
          s"[$fp] $leftover must be gone after recovery")
      // exactly once: row count equals the union, no duplicates
      val folded = spark.read.parquet(s"$dir/vectors")
      assert(folded.count() == emb.count(), s"[$fp] row count after recovery")
      assert(folded.select("vec_id").distinct().count() == emb.count(),
        s"[$fp] no vector may be folded twice")
      // probe-all over the recovered base == brute force over the union
      val probed = Ivf.probeIndex(spark, dir, probeVec, k = 6, nProbe = 16)
        .filter(col("vec_id") =!= 0)
        .orderBy(desc("cos"), col("vec_id")).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(probed == brute, s"[$fp] probe-all after recovery: $probed vs $brute")
    }
  }
}
