package graft

import org.apache.spark.sql.functions._

import graft.ops.{Catalog, Scale}
import graft.text.{Bm25, QualityClassifier, TextAnalysis}

/** Pins for the retrieval + learned-quality surface: BM25 equals a
  * driver-side reference (same fixed-order arithmetic), the weighted
  * sample equals an exact Efraimidis–Spirakis reference over the same
  * md5 coins, and the logistic quality classifier separates a planted
  * two-vocabulary fixture.
  */
class RetrievalQualitySpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf001)
  lazy val cat1: Catalog = Catalog(spark, sf1)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---------------------------------------------------------------- BM25

  private val terms = Seq("hash", "join", "vector")

  /** Driver-side BM25 with the exact expression order of [[Bm25.topK]]:
    * idf * (tf * (k1+1)) / (tf + k1 * ((1-b) + b * (dl / avgdl))),
    * summed left-to-right over query terms.
    */
  private def refBm25(k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val docs = cat.documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).filter(_.nonEmpty)))
    val n = docs.length.toDouble
    val sumDl = docs.map(_._2.length.toLong).sum
    val avgdl = sumDl.toDouble / n
    val dfs = terms.map(t => docs.count(_._2.contains(t)).toDouble)
    docs.map { case (id, toks) =>
      val dl = toks.length.toDouble
      val score = terms.zip(dfs).map { case (t, df) =>
        val tf = toks.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
      }.reduce(_ + _)
      id -> score
    }.toMap
  }

  test("bm25 topK equals the driver-side reference, top-20") {
    val expect = refBm25().toSeq
      .map { case (id, s) => (id, round6(s)) }
      .filter(_._2 > 0)
      .sortBy { case (id, s) => (-s, id) }
      .take(20)
    val got = Bm25.topK(cat.documents, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect)
  }

  test("bm25 is monotone in tf: adding a query term occurrence raises the score") {
    val s = spark
    import s.implicits._
    // same length, one more 'hash' occurrence in doc 2 — score must rise
    val docs = Seq(
      (1L, "hash join scan filter"),
      (2L, "hash join hash filter"),
      (3L, "scan sort agg merge")).toDF("doc_id", "text")
    val scores = Bm25.topK(docs, Seq("hash"), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(scores(2L) > scores(1L))
    assert(!scores.contains(3L), "no-match doc must be excluded")
  }

  test("bm25 knnJoin equals the literal-column form for matching queries") {
    val s = spark
    import s.implicits._
    // one query per literal-query term set: the join form must agree
    // with topK on the docs each query matches
    val queries = Seq((7L, terms)).toDF("query_id", "terms")
    val joined = graft.text.Bm25.knnJoin(cat.documents, queries, k = 20)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val direct = Bm25.topK(cat.documents, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(joined == direct)
  }

  test("bm25 knnJoin: per-query top-k, duplicate query terms collapse") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "hash join scan"),
      (2L, "hash hash filter"),
      (3L, "sort merge agg")).toDF("doc_id", "text")
    val queries = Seq(
      (10L, Seq("hash", "hash")), // duplicate term must count once
      (11L, Seq("sort")),
      (12L, Seq("nomatch"))).toDF("query_id", "terms")
    val got = graft.text.Bm25.knnJoin(docs, queries, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val single = graft.text.Bm25.knnJoin(docs,
      Seq((10L, Seq("hash"))).toDF("query_id", "terms"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got.filter(_._1 == 10L).map(_._2) == single.map(_._2))
    assert(got.filter(_._1 == 11L).map(_._2) == List(3L))
    assert(!got.exists(_._1 == 12L), "no-match query yields no rows")
  }

  test("hardNegatives: self and planted near-copies excluded, k genuine negatives survive") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // positive = corpus doc 3; plant a near-copy of it (first 4 words
    // dropped) at 900001 — the lexically CLOSEST doc, which plain BM25
    // retrieval would rank first and a dense retriever must never see
    // as a negative
    val bench = cat.documents.filter(col("doc_id") === 3).select("doc_id", "text")
    val nearCopy = bench.select(lit(900001L).as("doc_id"),
      array_join(slice(split(col("text"), " "), 5, 100000), " ").as("text"))
    val corpus = cat.documents.filter(col("doc_id") < 200).select("doc_id", "text")
      .unionByName(nearCopy)
    val banded = graft.text.MinHashDedup
      .bandedSignatures(corpus, graft.text.MinHashConfig(threshold = 0.5))
      .select(col("doc_id").as("id"), col("band"), col("band_hash").as("bucket"))
    val nd = graft.text.MinHashDedup.crossNearDupsFromBanded(
      corpus, bench, banded, graft.text.MinHashConfig(threshold = 0.5))
    // sanity: the planted copy IS detected as a near-dup of the positive
    val ndPairs = nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ndPairs.contains((900001L, 3L)), s"planted near-copy undetected: $ndPairs")
    val k = 5
    val neg = graft.text.Bm25.hardNegatives(corpus, bench, nd, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(neg.size == k, s"expected $k negatives, got ${neg.size}")
    assert(neg.forall(_._1 == 3L))
    assert(!neg.exists(_._2 == 3L), "the positive itself must be excluded")
    assert(!neg.exists(_._2 == 900001L), "the near-copy must be excluded (false negative)")
    // WITHOUT the guard, the near-copy dominates the ranking — the
    // exclusion is doing real work, not vacuously passing
    val unguarded = graft.text.Bm25.knnJoin(corpus,
      bench.select(col("doc_id").as("query_id"),
        graft.text.TextAnalysis.tokens(col("text")).as("terms")), k)
      .collect().map(_.getLong(1)).toList
    assert(unguarded.contains(900001L) || unguarded.contains(3L),
      "fixture sanity: plain BM25 must rank the copy/self in the top k")
  }

  test("bm25 rejects duplicate and empty queries") {
    intercept[IllegalArgumentException](Bm25.topK(cat.documents, Seq.empty, 5))
    intercept[IllegalArgumentException](Bm25.topK(cat.documents, Seq("a", "a"), 5))
    // a quoted term would corrupt the embedded SQL literal — refuse
    intercept[IllegalArgumentException](Bm25.topKSql(Seq("o'brien"), 5))
  }

  // ------------------------------------------- weighted sample (A-ES)

  /** Exact driver-side Efraimidis–Spirakis reference sharing the
    * engine's coin arithmetic: u = (int(md5hex8) + 0.5) / 2^32,
    * key = ln(u)/w rounded to 6 dp, top-k by (key desc, doc_id).
    */
  private def refWeighted(k: Int, seed: Long): Seq[(Long, Long, Double)] = {
    val docs = cat.documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).count(_.nonEmpty).toLong))
    docs.map { case (id, w) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$seed".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      (id, w, round6(math.log(u) / w.toDouble))
    }.sortBy { case (id, _, key) => (-key, id) }.take(k)
  }

  test("weightedSample equals the exact A-ES reference") {
    val got = Scale.weightedSample(
      cat.documents.select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("bigint").as("n_tokens")),
      "doc_id", col("n_tokens"), k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == refWeighted(50, seed = 42L))
  }

  test("weightedSample fails loudly on a non-positive weight") {
    val s = spark
    import s.implicits._
    val bad = Seq((1L, 3.0), (2L, 0.0)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      Scale.weightedSample(bad, "doc_id", col("w"), k = 1).collect()
    }
    assert(e.getMessage != null)
  }

  test("weightedSample refuses an input that already has es_key") {
    val s = spark
    import s.implicits._
    val taken = Seq((1L, 2.0, 9.9)).toDF("doc_id", "w", "es_key")
    intercept[IllegalArgumentException](
      Scale.weightedSample(taken, "doc_id", col("w"), k = 1))
  }

  test("weightedSample favors heavy rows: inclusion rate grows with weight") {
    val s = spark
    import s.implicits._
    // 100 rows, weight 100 for ids < 10, weight 1 otherwise; sample 20
    // across 20 seeds — heavy ids must be sampled at a far higher rate
    val rows = (0L until 100L).map(i => (i, if (i < 10) 100.0 else 1.0))
    val df = rows.toDF("doc_id", "w")
    val (heavy, light) = (0 until 20).map { seed =>
      val picked = Scale.weightedSample(df, "doc_id", col("w"), k = 20, seed = seed.toLong)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      (picked.count(_ < 10), picked.count(_ >= 10))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    // heavy ids are 10/100 rows but ~52% of total weight: expect them
    // picked at several times the light per-row rate
    val heavyRate = heavy / 10.0
    val lightRate = light / 90.0
    assert(heavyRate > 3.0 * lightRate, s"heavy=$heavy light=$light")
  }

  test("bm25 and weightedSample are layout-invariant (fixed-order float claims)") {
    val docs7 = cat.documents.repartition(7)
    val a1 = Bm25.topK(cat.documents, terms, k = 20).collect().toSeq
    val a2 = Bm25.topK(docs7, terms, k = 20).collect().toSeq
    assert(a1 == a2, "BM25 must not depend on partition layout")
    def ws(d: org.apache.spark.sql.DataFrame) = Scale.weightedSample(
      d.select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("bigint").as("n_tokens")),
      "doc_id", col("n_tokens"), k = 50).collect().toSeq
    assert(ws(cat.documents) == ws(docs7), "A-ES sample must not depend on layout")
  }

  // ------------------------------- cross-doc duplicated n-gram spans

  test("crossDocDupCoverage is layout-invariant") {
    val a = graft.text.TextAnalysis.crossDocDupCoverage(cat.documents, n = 5)
      .collect().toSeq
    val b = graft.text.TextAnalysis.crossDocDupCoverage(cat.documents.repartition(7), n = 5)
      .collect().toSeq
    assert(a == b)
  }


  test("crossDocDupCoverage: planted shared span, union of overlaps, zero case") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),            // shares "a b c d e" with doc 2
      (2L, "x x a b c d e y y y"),
      (3L, "p q r s t u"),                // no cross-doc n-gram
      (4L, "m n o m n o m n o m n o"),    // full verbatim twin of doc 5:
      (5L, "m n o m n o m n o m n o")     // every span shared, unions to 1.0
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.crossDocDupCoverage(docs, n = 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((8L, 1L, 5L, 0.625)))
    assert(got(2L) == ((10L, 1L, 5L, 0.5)))
    assert(got(3L) == ((6L, 0L, 0L, 0.0)))
    assert(got(4L) == ((12L, 8L, 12L, 1.0)), "overlapping spans must union, not sum")
    assert(got(5L) == ((12L, 8L, 12L, 1.0)))
  }

  test("crossDocDupCoverage: docs shorter than n report zero, not a phantom shingle") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d e"), (4L, "a b c d e"))
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.crossDocDupCoverage(docs, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got(1L) == 0L && got(2L) == 0L)
    assert(got(3L) == 5L && got(4L) == 5L)
  }

  test("removeSharedSpans cuts exactly the shared spans, keeps unique remainder") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "u1 u2 a b c d e u3 u4"),     // shared span in the middle
      (2L, "a b c d e w1 w2 w3 w4 w5"),  // shared span at the start
      (3L, "p q r s t u"),               // untouched — passes through verbatim
      (4L, "m m m m m m"),               // full twin of doc 5 → empty
      (5L, "m m m m m m")
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.removeSharedSpans(docs, n = 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "u1 u2 u3 u4")
    assert(got(2L) == "w1 w2 w3 w4 w5")
    assert(got(3L) == "p q r s t u")
    assert(got(4L) == "" && got(5L) == "")
  }

  test("removeSharedSpans: overlapping shared spans cut as one range") {
    val s = spark
    import s.implicits._
    // docs 1 and 2 share overlapping 5-grams "a b c d e" and "b c d e f";
    // the union [a..f] must be cut once, not doubly counted or split
    val docs = Seq(
      (1L, "x1 a b c d e f x2"),
      (2L, "y1 y2 a b c d e f")
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.removeSharedSpans(docs, n = 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "x1 x2")
    assert(got(2L) == "y1 y2")
  }

  test("scrubBenchmarkSpans cuts only benchmark-overlapping spans") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "u1 u2 a b c d e u3"),   // one benchmark 5-gram in the middle
      (2L, "x y z w v"),            // no overlap — verbatim
      (3L, "a b c d e f"),          // covers both benchmark 5-grams → empty
      (4L, "q r s t u v w"),        // corpus-internal twins: NOT cut —
      (5L, "q r s t u v w"),        // the hit set is benchmark-driven
      (6L, "a b c")                 // shorter than n — verbatim
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.scrubBenchmarkSpans(corpus, bench, n = 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "u1 u2 u3")
    assert(got(2L) == "x y z w v")
    assert(got(3L) == "")
    assert(got(4L) == "q r s t u v w" && got(5L) == "q r s t u v w",
      "corpus-internal duplication must not trigger a benchmark scrub")
    assert(got(6L) == "a b c")
  }

  test("bigramLogProb equals a driver-side add-one-smoothed reference") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a c"),
      (3L, "z")   // no bigrams: drops out, but its token widens V
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.bigramLogProb(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap

    val toks = Map(1L -> Seq("a", "b", "a", "b"), 2L -> Seq("a", "c"), 3L -> Seq("z"))
    val bgs = toks.view.mapValues(t => t.zip(t.drop(1))).toMap
    val model = bgs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val ctx = model.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = toks.values.flatten.toSet.size
    def score(id: Long): Double = round6(
      bgs(id).map { bg =>
        math.log10((model(bg) + 1).toDouble / (ctx(bg._1) + v).toDouble)
      }.sum / bgs(id).size)

    assert(got.keySet == Set(1L, 2L), "a bigram-less doc must drop out")
    assert(got(1L) == ((3L, score(1L))))
    assert(got(2L) == ((1L, score(2L))))
  }

  test("bigramLogProb ranks word salad below fluent repetition") {
    val s = spark
    import s.implicits._
    // doc 1 repeats one high-probability transition; doc 2 is the same
    // vocabulary shuffled into transitions the corpus never repeats
    val docs = Seq(
      (1L, "the cat sat on the mat the cat sat on the mat the cat sat on the mat"),
      (2L, "mat the on cat sat the mat on sat cat the mat sat on the cat on mat")
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.bigramLogProb(docs)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(2L) < got(1L), s"salad must score below fluent text: $got")
  }

  // ------------------------------------ compression-ratio quality signal

  test("compressionStats: repetitive << prose << high-entropy; exact vs JVM reference") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val repetitive = ("spam " * 200).trim
    val prose = (0 until 200).map(_ => Seq("scan", "join", "filter", "merge",
      "sort", "window", "agg", "table")(rnd.nextInt(8))).mkString(" ")
    val entropy = (0 until 1000).map(_ => rnd.nextPrintableChar()).mkString
    val docs = Seq((1L, repetitive), (2L, prose), (3L, entropy)).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.compressionStats(docs)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(1L)._3 < got(2L)._3 && got(2L)._3 < got(3L)._3,
      s"monotonicity violated: $got")
    // byte-exact against a direct JVM deflate of the same UTF-8 bytes
    def ref(t: String): Int = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      d.setInput(t.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    assert(got(1L)._2 == ref(repetitive))
    assert(got(3L)._2 == ref(entropy))
    assert(got(2L)._1 == prose.getBytes("UTF-8").length)
  }

  test("graft_deflate_len registers for SQL and matches the Column form") {
    val s = spark
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    Seq((1L, "a b a b a b")).toDF("doc_id", "text").createOrReplaceTempView("cmp_t")
    val sqlLen = s.sql("SELECT graft_deflate_len(text) AS l FROM cmp_t")
      .first().getInt(0)
    val colLen = graft.text.TextAnalysis.compressionStats(
      Seq((1L, "a b a b a b")).toDF("doc_id", "text"))
      .first().getInt(2)
    assert(sqlLen == colLen && sqlLen > 0)
  }

  // --------------------------------------- learned quality classifier

  /** Planted fixture: target docs draw from a "clean" vocabulary, raw
    * docs from a "spam" one, with shared filler words — linearly
    * separable in hashed-BoW space.
    */
  private def plantedFixture = {
    val s = spark
    import s.implicits._
    val clean = Array("theorem", "proof", "lemma", "corollary", "axiom", "integral")
    val spam = Array("casino", "winner", "prize", "click", "free", "bonus")
    val filler = Array("the", "a", "of", "and")
    def doc(id: Long, vocab: Array[String]): (Long, String) = {
      val rnd = new scala.util.Random(id)
      val words = (0 until 30).map { _ =>
        if (rnd.nextDouble() < 0.3) filler(rnd.nextInt(filler.length))
        else vocab(rnd.nextInt(vocab.length))
      }
      (id, words.mkString(" "))
    }
    val target = (0L until 40L).map(doc(_, clean)).toDF("doc_id", "text")
    val raw = (100L until 140L).map(doc(_, spam)).toDF("doc_id", "text")
    (target, raw)
  }

  test("quality classifier separates the planted fixture (training accuracy >= 95%)") {
    val (target, raw) = plantedFixture
    val model = QualityClassifier.train(target, raw, dim = 64, iters = 40, lr = 2.0)
    val scored = QualityClassifier.score(target.unionByName(raw), model)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val correct = scored.count { case (id, p) => if (id < 100L) p > 0.5 else p < 0.5 }
    assert(correct >= 76, s"only $correct/80 correctly classified") // 95%
  }

  test("training reduces log-loss from the zero-weight start") {
    val (target, raw) = plantedFixture
    val labeled = QualityClassifier.featurizeLabeled(target, raw, dim = 64)
    val before = QualityClassifier.logLoss(labeled, Array.fill(65)(0.0))
    val model = QualityClassifier.train(target, raw, dim = 64, iters = 40, lr = 2.0)
    val after = QualityClassifier.logLoss(labeled, model.weights)
    assert(math.abs(before - math.log(2.0)) <= 1e-12) // σ(0) = 0.5 exactly
    assert(after < 0.5 * before, s"loss $before -> $after")
  }

  test("model save/load round-trips and reproduces scores exactly") {
    val (target, raw) = plantedFixture
    val model = QualityClassifier.train(target, raw, dim = 32, iters = 10)
    val path = java.nio.file.Files.createTempDirectory("graft_lr_model").toString + "/m"
    QualityClassifier.saveModel(spark, model, path)
    val back = QualityClassifier.loadModel(spark, path)
    assert(back.dim == model.dim)
    assert(back.weights.toSeq == model.weights.toSeq)
    val a = QualityClassifier.score(target, model).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val b = QualityClassifier.score(target, back).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(a == b)
  }

  test("empty documents are dropped, not scored") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "theorem proof"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")
    val feats = QualityClassifier.featurize(docs, dim = 16)
    assert(feats.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  // ---------------------------------------------- scorer internals

  test("bigramLogProbUnordered ≡ bigramLogProb as a row set (order is the only difference)") {
    val ordered = TextAnalysis.bigramLogProb(cat1.documents).collect()
    val unordered = TextAnalysis.bigramLogProbUnordered(cat1.documents).collect()
    assert(ordered.map(_.getLong(0)).toSeq == ordered.map(_.getLong(0)).toSeq.sorted,
      "public form must stay doc_id-ordered")
    assert(unordered.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      ordered.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("bindOnce(v)(f) ≡ f(v) including null and empty inputs") {
    import spark.implicits._
    val df = Seq(Some("a b c d"), Some(""), Some("x"), None)
      .toDF("text")
    val direct = df.select(TextAnalysis.shingles(col("text"), 2).as("s")).collect()
    // shingles routes through bindOnce; re-derive the unbound form inline
    val toks = TextAnalysis.tokens(col("text"))
    val unbound = df.select(
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
        .otherwise(array().cast("array<string>")).as("s")).collect()
    assert(direct.map(_.toSeq).toSeq == unbound.map(_.toSeq).toSeq)
  }
}
