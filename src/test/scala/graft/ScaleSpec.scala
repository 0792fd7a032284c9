package graft

import org.apache.spark.sql.functions._

import graft.ops.{Catalog, Scale}
import graft.text.TextAnalysis

/** Equivalence properties for the skew/scale utilities: salting and
  * the single-row-group spread must never change results, only their
  * distribution across tasks.
  */
class ScaleSpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf01)

  test("saltedAggregate equals direct aggregation") {
    val direct = cat.orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100))).toSet
    val salted = Scale.saltedAggregate(
      cat.orders, Seq(col("o_custkey")), saltBuckets = 16,
      partial = Seq(count(lit(1)).as("c"), sum("o_totalprice").as("ps")),
      fin = Seq(sum("c").as("n"), sum("ps").as("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100))).toSet
    assert(salted == direct)
  }

  test("saltedJoin equals plain join") {
    val l = cat.lineitem.filter(col("l_orderkey") < 2000)
    val r = cat.orders.filter(col("o_orderkey") < 2000)
    val plain = l.join(r, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_custkey")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq.sorted
    val salted = Scale.saltedJoin(l, r, col("l_orderkey"), col("o_orderkey"), saltBuckets = 8)
      .select("l_orderkey", "l_linenumber", "o_custkey")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq.sorted
    assert(salted == plain)
  }

  test("approxDistinct is within the configured error of exact") {
    val exact = cat.orders.select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    val approx = Scale.approxDistinct(cat.orders, Nil, col("o_custkey"), rsd = 0.05)
      .collect()(0).getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err <= 0.15, s"approx $approx vs exact $exact (err $err)")
  }

  test("approxPercentiles within rank-error bound of exact percentiles") {
    val probs = Seq(0.1, 0.5, 0.9, 0.99)
    val approx = Scale.approxPercentiles(cat.lineitem, col("l_extendedprice"), probs)
      .collect()(0).getSeq[Double](0)
    val exact = cat.lineitem
      .agg(expr(s"percentile(l_extendedprice, array(${probs.mkString(",")}))"))
      .collect()(0).getSeq[Double](0)
    val n = cat.lineitem.count()
    // rank error <= n/accuracy; convert to a value tolerance by checking
    // the approx value's true rank is within bound of the target rank
    val sorted = cat.lineitem.select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    probs.zip(approx).foreach { case (p, v) =>
      val rank = sorted.count(_ <= v).toDouble
      assert(math.abs(rank - p * n) <= n / 10000.0 + 1,
        s"p=$p approx=$v rank=$rank target=${p * n}")
    }
    assert(approx.length == exact.length)
  }

  test("stratifiedSample: deterministic, subset, and near the target fractions") {
    val fractions: Map[Any, Double] = Map("en" -> 0.5, "de" -> 0.1)
    val docs = cat.documents
    val s1 = Scale.stratifiedSample(docs, "lang", fractions).collect().map(_.getLong(0)).toSet
    // a content-hash coin must be invariant to partition layout — rand()
    // based sampling fails this (re-samples under repartition/retry)
    val s2 = Scale.stratifiedSample(docs.repartition(7), "lang", fractions)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "sample must be deterministic under repartitioning")
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(all))
    val byLang = Scale.stratifiedSample(docs, "lang", fractions)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.keySet.subsetOf(Set("en", "de")), "unlisted strata must be dropped")
    fractions.foreach { case (k, f) =>
      val got = byLang.getOrElse(k.asInstanceOf[String], 0L).toDouble / totals(k.asInstanceOf[String])
      assert(math.abs(got - f) < 0.25, s"stratum $k sampled at $got, wanted ~$f")
    }
  }

  test("hexCutoff(1.0) admits the entire coin space; 100% stratum is complete") {
    // coins are 8 lowercase hex digits, max "ffffffff"; a 1.0 cutoff
    // must sort strictly above ALL of them or the max coin is excluded
    // (a 2^-32 silent row drop in a supposedly complete stratum)
    assert(Scale.hexCutoff(1.0) > "ffffffff", Scale.hexCutoff(1.0))
    assert(Scale.hexCutoff(0.5) == "80000000")
    assert(Scale.hexCutoff(0.0) == "00000000")
    val en = cat.documents.filter(col("lang") === "en")
    val kept = Scale.md5StratifiedSample(
      cat.documents, "doc_id", "lang", Map("en" -> 1.0))
    assert(kept.count() == en.count(), "fraction-1.0 stratum must keep every row")
  }

  test("bloomSemiJoin fails fast on non-integral keys instead of dropping rows") {
    import spark.implicits._
    val big = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val small = Seq("a").toDF("k")
    val e = intercept[IllegalArgumentException] {
      Scale.bloomSemiJoin(big, "k", small, "k")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // integral byte/int keys of different widths still work
    val bigI = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "p")
    val smallI = Seq(2L, 3L).toDF("id")
    val got = Scale.bloomSemiJoin(bigI, "id", smallI, "id")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(got == Set(2, 3))
  }

  test("heavyHitters equals the exact over-support set on a skewed token stream") {
    import org.apache.spark.sql.functions._
    // skewed domain: 'hot' 40%, 'warm' 15%, the rest spread thin
    import spark.implicits._
    val rows = Seq.fill(400)("hot") ++ Seq.fill(150)("warm") ++
      (0 until 450).map(i => s"cold$i")
    val df = rows.toDF("w")
    val got = graft.ops.Scale.heavyHitters(df, "w", support = 0.1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("hot" -> 400L, "warm" -> 150L), s"got $got")
    // exact reference: same answer from a full groupBy
    val exact = df.groupBy("w").count().filter(col("count") > 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
  }

  test("hashSplit: complete, weight-proportional, layout-invariant and growth-stable") {
    import org.apache.spark.sql.functions._
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val split = graft.ops.Scale.hashSplit(cat.documents, "doc_id", weights)
    val byName = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = cat.documents.count().toDouble
    assert(byName.values.sum.toDouble == n, "every row must get exactly one split")
    assert(math.abs(byName("train") / n - 0.8) < 0.06, s"train share off: $byName")
    // layout-invariant: repartitioning must not move any key
    val a = split.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.ops.Scale.hashSplit(cat.documents.repartition(7), "doc_id", weights)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // growth-stable: the same key keeps its split in a half-sized corpus
    val half = graft.ops.Scale.hashSplit(
      cat.documents.filter(col("doc_id") < 250), "doc_id", weights)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half.forall { case (k, v) => a(k) == v }, "a key's split must not depend on corpus size")
  }

  test("shuffleOrder: exact pseudo-random total order, scalable plan, layout-invariant") {
    import org.apache.spark.sql.expressions.Window
    val docs = cat.documents.select("doc_id")
    val got = Scale.shuffleOrder(docs, "doc_id")
    // reference: the same order through a single-partition window
    val ref = docs
      .withColumn("__c", expr(
        "substring(md5(cast(concat_ws(':', cast(doc_id as string), '42') as binary)), 1, 8)"))
      .withColumn("shuffle_pos",
        row_number().over(Window.orderBy("__c", "doc_id")).cast("long"))
      .select("doc_id", "shuffle_pos")
    val a = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = ref.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "scalable order must equal the windowed reference exactly")
    // positions are a complete permutation of 1..N
    assert(a.values.toSeq.sorted == (1L to a.size.toLong).toList)
    // the order must NOT be doc_id order (it is a shuffle)
    assert(a.toSeq.sortBy(_._1).map(_._2) != (1L to a.size.toLong).toList)
    // no single-partition window in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"shuffleOrder must not plan a single-partition exchange:\n$plan")
    // deterministic under partition layout
    val c = Scale.shuffleOrder(docs.repartition(7), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == a)
    // a different seed produces a different permutation
    val d = Scale.shuffleOrder(docs, "doc_id", seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d != a)
  }

  test("mixtureResample: hits the target mixture, keeps the binding stratum, ratio-scale invariant") {
    val targets = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
    val docs = cat.documents.select("doc_id", "lang")
    val kept = Scale.mixtureResample(docs, "doc_id", "lang", targets)
    val keptRows = kept.collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = keptRows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the binding stratum (min n_g / t_g) keeps every row
    val binding = targets.keys.minBy(g => n(g) / targets(g))
    assert(byLang(binding) == n(binding),
      s"binding stratum $binding must keep all ${n(binding)} rows, kept ${byLang(binding)}")
    // every kept stratum is within coin-granularity noise of T * t_g
    val tMax = n(binding) / targets(binding)
    targets.foreach { case (g, t) =>
      val want = math.min(n(g).toDouble, tMax * t)
      assert(math.abs(byLang.getOrElse(g, 0L) - want) <= math.max(6.0, want * 0.12),
        s"stratum $g kept ${byLang.getOrElse(g, 0L)}, wanted ~$want")
    }
    // result is a subset of the input
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keptRows.forall(all.contains))
    // targets are RATIOS: scaling them all by 7 changes nothing
    val scaled = Scale.mixtureResample(docs, "doc_id", "lang",
      targets.view.mapValues(_ * 7).toMap)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(scaled.toSet == keptRows.toSet)
    // strata outside the target map are dropped entirely
    val sub = Scale.mixtureResample(docs, "doc_id", "lang", Map("en" -> 1.0))
    assert(sub.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
    assert(sub.count() == n("en"), "a single-stratum target keeps that stratum whole")
  }

  test("temperatureResample: alpha=1 is the identity, smaller alpha flattens the mixture") {
    val docs = cat.documents.select("doc_id", "lang")
    val n = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n.values.max > n.values.min, "fixture must have an uneven lang mixture")
    // alpha = 1: t_g = n_g, every stratum binding — nothing dropped
    val id = Scale.temperatureResample(docs, "doc_id", "lang", alpha = 1.0)
    assert(id.count() == docs.count(), "alpha=1 must keep the natural mixture whole")
    // flattening: alpha<1 subsamples large strata (small ones bind)
    def keptBy(alpha: Double): Map[String, Long] =
      Scale.temperatureResample(docs, "doc_id", "lang", alpha)
        .groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the kept MIXTURE approaches uniform: at smaller alpha the
    // largest/smallest kept-count ratio shrinks
    def imbalance(kept: Map[String, Long]): Double = {
      val v = kept.values.map(_.toDouble)
      v.max / v.min
    }
    val natural = n.values.max.toDouble / n.values.min
    val (i05, i02) = (imbalance(keptBy(0.5)), imbalance(keptBy(0.2)))
    assert(i05 < natural && i02 < i05,
      s"imbalance must shrink with alpha: natural=$natural a0.5=$i05 a0.2=$i02")
    // the smallest stratum binds (alpha<1 ⇒ argmin n/n^a = min n): it
    // keeps every row while the largest is genuinely subsampled
    val smallest = n.minBy(_._2)._1
    val largest = n.maxBy(_._2)._1
    val k05 = keptBy(0.5)
    assert(k05(smallest) == n(smallest), "smallest stratum must bind and keep all rows")
    assert(k05(largest) < n(largest), "largest stratum must be subsampled")
    // deterministic under repartitioning
    val a = Scale.temperatureResample(docs, "doc_id", "lang", 0.5)
      .collect().map(_.getLong(0)).toSet
    val b = Scale.temperatureResample(docs.repartition(13), "doc_id", "lang", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("mixtureResample: binding stratum survives the float re-rounding edge") {
    import spark.implicits._
    // n=3, t=0.15: n/t = 19.999999999999996, and (n/t)*t/n re-rounds to
    // just UNDER 1.0 — a >= 1.0 sentinel test would demote the binding
    // stratum's cutoff and drop rows; binding-by-VALUE must keep all 3
    val docs = ((1L to 3L).map(i => (i, "aa")) ++ (11L to 27L).map(i => (i, "bb")))
      .toDF("doc_id", "lang")
    val kept = Scale.mixtureResample(docs, "doc_id", "lang",
      Map("aa" -> 0.15, "bb" -> 0.85))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    val binding = Seq("aa" -> (3.0 / 0.15), "bb" -> (17.0 / 0.85)).minBy(_._2)._1
    val full = Map("aa" -> 3, "bb" -> 17)
    assert(byLang(binding) == full(binding),
      s"binding stratum $binding must keep all ${full(binding)} rows, kept ${byLang.get(binding)}")
    // and no cutoff may ever be the 9-char overflow that keeps 1/16
    assert(kept.nonEmpty && byLang.values.forall(_ > 0))
  }

  test("mixtureResample: a target stratum absent from the corpus fails loudly") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, "en")).toDF("doc_id", "lang")
    // the counts⋈targets join would silently drop 'xx' and return a
    // corpus violating the requested mixture — refuse instead
    val e = intercept[IllegalArgumentException] {
      Scale.mixtureResample(docs, "doc_id", "lang", Map("en" -> 0.5, "xx" -> 0.5))
    }
    assert(e.getMessage.contains("absent from the corpus") && e.getMessage.contains("xx"))
  }

  test("stratifiedTopK: equals the naive per-stratum window, exact sizes, k > stratum keeps all") {
    import org.apache.spark.sql.expressions.Window
    val docs = cat.documents.select("doc_id", "lang")
    val k = 25
    val got = Scale.stratifiedTopK(docs, "doc_id", "lang", k)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // naive definition: full-corpus window, k smallest coins per stratum
    val naive = docs
      .withColumn("__c", expr(
        "substring(md5(cast(concat_ws(':', cast(doc_id as string), '42') as binary)), 1, 8)"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("lang").orderBy("__c", "doc_id")))
      .filter(col("__rk") <= k)
      .select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == naive, "pruned top-k must equal the full-window definition exactly")
    // exact per-stratum sizes: min(k, n_g)
    val n = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    n.foreach { case (g, ng) => assert(sizes(g) == math.min(k.toLong, ng)) }
    // k larger than every stratum returns the whole corpus
    val all = Scale.stratifiedTopK(docs, "doc_id", "lang", 100000)
    assert(all.count() == docs.count())
    // layout-invariant
    val reparted = Scale.stratifiedTopK(docs.repartition(7), "doc_id", "lang", k)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(reparted == got)
  }

  test("clusterBy preserves content and produces range-sorted partitions") {
    val src = cat.orders.select("o_orderkey", "o_custkey")
    val clustered = Scale.clusterBy(src, 8, col("o_orderkey"))
    assert(clustered.count() == src.count())
    // every partition internally sorted and partition ranges disjoint
    val parts = clustered.select("o_orderkey").rdd
      .mapPartitionsWithIndex { (i, it) => Iterator((i, it.map(_.getLong(0)).toArray)) }
      .collect().sortBy(_._1).map(_._2).filter(_.nonEmpty)
    parts.foreach(p => assert(p.sameElements(p.sorted)))
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a.last <= b.head)
      case _ =>
    }
  }

  // ---- spreadForCompute: the single-row-group spread ----

  test("spreadForCompute raises a narrow scan chain to session parallelism, rows identical") {
    val n = spark.sessionState.conf.numShufflePartitions
    val base = cat.documents.select("doc_id", "text")
    val before = base.queryExecution.toRdd.getNumPartitions
    assert(before < n, s"fixture assumption: small scan ($before) below parallelism ($n)")
    val spread = Scale.spreadForCompute(base, col("doc_id"))
    assert(spread.rdd.getNumPartitions == n)
    assert(spread.collect().map(_.toSeq).toSet == base.collect().map(_.toSeq).toSet)
  }

  test("spreadForCompute is a no-op when the plan already carries >= parallelism") {
    val n = spark.sessionState.conf.numShufflePartitions
    val wide = cat.documents.repartition(n + 3, col("doc_id"))
      .localCheckpoint(false)
    val out = Scale.spreadForCompute(wide, col("doc_id"))
    // same Dataset instance back — no exchange appended, no shrink to n
    assert(out eq wide)
  }

  test("spreadForCompute refuses to probe exchange-bearing plans (no compose-time execution)") {
    // a join-bearing plan probed via toRdd would EXECUTE its stages at
    // compose time and the caller's action would re-run them — the gate
    // must hand such plans back untouched
    val joined = cat.documents.join(
      cat.documents.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val out = Scale.spreadForCompute(joined, col("doc_id"))
    assert(out eq joined)
    val agg = cat.documents.groupBy("source").agg(count(lit(1)).as("n"))
    assert(Scale.spreadForCompute(agg, col("source")) eq agg)
  }

  test("per-doc float accumulation is bit-identical under the spread (scorer contract)") {
    // the spread's determinism argument: one doc's exploded rows stay
    // in one partition in original relative order, so an order-
    // sensitive per-doc double aggregate reproduces exactly
    val direct = TextAnalysis.bigramLogProb(cat.documents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the scorer spreads internally; compare against a 1-partition
    // coalesced input, which pins the pre-spread accumulation order
    val one = TextAnalysis.bigramLogProb(cat.documents.coalesce(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(direct.toSeq == one.toSeq)
  }
}
