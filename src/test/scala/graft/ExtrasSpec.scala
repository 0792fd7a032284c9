package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.Canonical
import graft.media.MediaPipeline
import graft.ops.Catalog
import graft.text.{MinHashDedup, SimHash, TextAnalysis}
import graft.vector.Ann

/** Property tests for the non-oracle-checkable scale paths (SURVEY §5.4):
  * MinHash recall vs exact Jaccard, SimHash fingerprint stability on
  * exact duplicates, ANN probe-all ≡ brute force, media batch shape.
  */
class ExtrasSpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf01)
  lazy val cat1: Catalog = Catalog(spark, sf1)

  test("MinHash LSH recovers the exact near-duplicate pairs (recall >= 0.9, exact-verified)") {
    val exact = TextAnalysis.ngramJaccardPairs(cat.documents, 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = MinHashDedup.verifiedPairs(cat.documents)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-duplicates at sf0.01")
    // precision is 1.0 by construction (exact re-verification)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9 (found ${lsh.size} of ${exact.size})")
  }

  test("uncapped ngramJaccardPairs warn gate: fires only for large inputs with maxDf unset") {
    // small fixture, uncapped: silent (this is the ground-truth spec usage)
    assert(!TextAnalysis.uncappedJaccardWarnNeeded(cat.documents, Int.MaxValue))
    // large estimated input, uncapped: the quadratic footgun announces itself
    val big = spark.range(10L * 1000 * 1000).selectExpr(
      "id as doc_id", "repeat('x ', 8) as text")
    assert(TextAnalysis.uncappedJaccardWarnNeeded(big, Int.MaxValue))
    // large input but ANY finite cap: silent — the caller made the choice
    assert(!TextAnalysis.uncappedJaccardWarnNeeded(big, 50))
  }

  test("MinHash dedup winners = all docs minus exact-Jaccard losers") {
    val losers = TextAnalysis.ngramJaccardPairs(cat.documents, 3, 0.8)
      .select("j").distinct().collect().map(_.getLong(0)).toSet
    val winners = MinHashDedup.dedupWinners(cat.documents)
      .collect().map(_.getLong(0)).toSet
    val all = cat.documents.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(winners == all -- losers)
  }

  test("SimHash: exact duplicate texts get identical fingerprints (sf0.1)") {
    val dupGroups = cat1.documents
      .groupBy("text").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("ids").collect().map(_.getSeq[Long](0))
    assert(dupGroups.nonEmpty, "sf0.1 fixture should contain 8 duplicate groups")
    val fp = SimHash.fingerprints(cat1.documents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dupGroups.foreach { ids =>
      assert(ids.map(fp).distinct.size == 1,
        s"duplicate docs $ids have differing simhashes")
    }
  }

  test("SimHash near-duplicate pairs include all exact-duplicate pairs at hamming 0") {
    val dupPairs = cat1.documents.as("a")
      .join(cat1.documents.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val near = SimHash.nearDuplicatePairs(cat1.documents, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val nearSet = near.map(t => (t._1, t._2)).toSet
    assert(dupPairs.subsetOf(nearSet),
      s"missing exact-dup pairs: ${dupPairs -- nearSet}")
    assert(near.filter(t => dupPairs((t._1, t._2))).forall(_._3 == 0L))
  }

  test("ANN with probeRadius = nPlanes is exactly brute force; narrower probes keep top-1") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_extras").toString
    Ann.writeIndex(cat.embeddings, path, nPlanes = 8)
    val probeVec = cat.embeddings.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).toArray
    // the index probe includes the probe vector itself: ask for one
    // more row and drop it to compare with brute force's top 5
    def probed(radius: Int): Seq[Row] =
      Ann.probeIndex(spark, path, probeVec, k = 6, nPlanes = 8, probeRadius = radius)
        .collect().filter(_.getLong(0) != 0L).take(5).toSeq
    val brute = Ann.bruteForceTopK(cat.embeddings, 0, 5).collect().toSeq
    assert(probed(8) == brute, "probe-all ANN must equal brute force")
    // deterministic fixed-seed check: the true nearest neighbour of
    // probe 0 survives a radius-4 probe of 8 planes
    val bruteTop = Ann.bruteForceTopK(cat.embeddings, 0, 1).collect()(0).getLong(0)
    assert(probed(4).map(_.getLong(0)).contains(bruteTop))
  }

  test("LSH-bucketed near-dup pairs are a subset of the exact pairs") {
    val exact = Ann.allPairsAbove(cat.embeddings, 0.4)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // one 6-plane bucket table, the single-band geometry
    val bucketed = Ann.bandedPairsAbove(cat.embeddings, 0.4, nPlanes = 6, nBands = 1,
        forceBanded = true)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.nonEmpty, "a bucket table must keep some exact pair on this fixture")
    assert(bucketed.subsetOf(exact))
  }

  test("SignBuckets kernel ≡ stacked Column form, including NaN and degenerate inputs") {
    import spark.implicits._
    import graft.functions.VectorFunctions.dot
    // 2 planes × 2 bands; vectors exercise each convention branch:
    // NaN dot (Spark's >= orders NaN above everything → bit SET),
    // null vector / dim mismatch / null element → all-zero buckets
    val planes = Array(
      Array(1.0f, 0.0f), Array(0.0f, -1.0f),
      Array(1.0f, 1.0f), Array(-1.0f, 1.0f))
    val vecs = Seq(
      (1L, Array(0.5f, 0.25f)),
      (2L, Array(Float.NaN, 1.0f)),
      (3L, Array(-0.5f, 0.0f)),
      (4L, null.asInstanceOf[Array[Float]]),
      (5L, Array(1.0f))).toDF("vec_id", "embedding")
    def stackedBand(bd: Int) =
      (0 until 2).map { j =>
        when(dot(col("embedding"), typedLit(planes(bd * 2 + j))) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val stacked = vecs
      .select(col("vec_id"), array(stackedBand(0), stackedBand(1)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kernel = vecs
      .select(col("vec_id"),
        graft.functions.SignBuckets.signBuckets(col("embedding"), planes, 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel == stacked, s"kernel $kernel vs stacked $stacked")
    assert(kernel(2L).exists(_ != 0L), "NaN dots must SET bits (Spark NaN ordering)")
    assert(kernel(4L) == Seq(0L, 0L) && kernel(5L) == Seq(0L, 0L))
  }

  test("banded sign-LSH near-dup (X12) recall >= 0.9 vs exact X06 pairs, precision 1.0") {
    val exact = Ann.allPairsAbove(cat.embeddings, 0.4)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // forceBanded: the recall property tests the banding machinery; the
    // default call would cost-route to the exact scan at this threshold
    val banded = Ann.bandedPairsAbove(cat.embeddings, 0.4, forceBanded = true)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(banded.subsetOf(exact), s"false positives: ${banded -- exact}")
    val recall = (exact & banded).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9 (found ${banded.size} of ${exact.size})")
  }

  test("media pipeline: real PNG+JPEG decode recovers true dimensions, batch shape, determinism") {
    val media = MediaPipeline.toMediaTable(cat.documents)
    assert(media.schema("media").dataType.typeName == "binary")
    val decoded = MediaPipeline.decodeAndFeaturize(media).collect()
    assert(decoded.length == 500)
    decoded.foreach { d =>
      assert(d.features.length == 16)
      assert(math.abs(d.features.sum - 1.0f) < 1e-3, s"histogram not normalized: ${d.doc_id}")
      // width/height are DECODED from the payload bytes; they must equal
      // the known synthesis dimensions — proves the codec read real pixels
      assert(d.width == 8 + (d.doc_id % 32).toInt, s"width mismatch for ${d.doc_id}")
      assert(d.height == 8 + ((d.doc_id * 3) % 24).toInt, s"height mismatch for ${d.doc_id}")
      assert(d.n_bytes > 8, "payload must be non-trivial")
      // even ids are PNG, odd JPEG — the kind comes from magic-byte sniffing
      assert(d.kind == (if (d.doc_id % 2 == 0) "image/png" else "image/jpeg"),
        s"kind mismatch for ${d.doc_id}: ${d.kind}")
    }
    assert(decoded.count(_.kind == "image/jpeg") > 0, "JPEG half must be present")
    // repartitioning must not change results (mapPartitions is per-row pure)
    val repart = MediaPipeline.decodeAndFeaturize(
      MediaPipeline.toMediaTable(cat.documents.repartition(7))).collect()
    assert(repart.map(_.doc_id).sorted.sameElements(decoded.map(_.doc_id).sorted))
  }

  test("vocabCoverage: equals the naive windowed curve, monotone, no single-partition window") {
    import org.apache.spark.sql.expressions.Window
    val got = TextAnalysis.vocabCoverage(cat.documents, topV = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // naive single-partition reference
    val counts = cat.documents
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt")).collect()(0).getLong(0).toDouble
    val w = Window.orderBy(col("cnt").desc, col("w"))
    val ref = counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("run", sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rk") <= 100)
      .select(col("rk"), col("w"), col("cnt"),
        round(col("run") / tot, 6).as("coverage"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.sortBy(_._1).sameElements(ref.sortBy(_._1)),
      "scalable coverage curve must equal the windowed reference")
    // curve shape: counts non-increasing, coverage strictly increasing to <= 1
    val curve = got.sortBy(_._1)
    assert(curve.map(_._3).zip(curve.map(_._3).tail).forall { case (a, b) => b <= a })
    assert(curve.map(_._4).zip(curve.map(_._4).tail).forall { case (a, b) => b > a })
    assert(curve.last._4 <= 1.0)
    // every window is partitioned by the literal-boundary bucket; the
    // only SinglePartition exchange allowed is the scalar vocab-total
    // aggregate (one-row metadata merge, same class as A08)
    val plan = TextAnalysis.vocabCoverage(cat.documents, 100)
      .queryExecution.executedPlan.toString
    val windows = "windowspecdefinition\\(".r.findAllIn(plan).size
    val bucketed = "windowspecdefinition\\(__b".r.findAllIn(plan).size
    assert(windows > 0 && windows == bucketed,
      s"every window must partition by the bucket ($bucketed/$windows):\n$plan")
  }

  test("chunkDocuments: overlap coverage, redundant-tail drop, map-side plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // starts 0,48; 96 is fully covered
      (2L, (1 to 64).map(i => s"t$i").mkString(" ")),  // exactly one window
      (3L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, maxTokens = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).length == 2 && byDoc(2L).length == 1 && byDoc(3L).length == 1,
      s"chunk counts wrong: ${out.map(c => (c._1, c._2)).mkString(",")}")
    // doc 1: [w1..w64] then [w49..w100]; the start-96 chunk (w97..w100)
    // is inside chunk 1 and must be dropped
    val d1 = byDoc(1L).sortBy(_._2)
    assert(d1(0)._4 == (1 to 64).map(i => s"w$i").mkString(" ") && d1(0)._3 == 64L)
    assert(d1(1)._4 == (49 to 100).map(i => s"w$i").mkString(" ") && d1(1)._3 == 52L)
    // every token of every doc appears in some chunk (coverage)
    assert(byDoc(1L).flatMap(_._4.split(" ")).toSet == (1 to 100).map(i => s"w$i").toSet)
    assert(byDoc(2L).head._4 == (1 to 64).map(i => s"t$i").mkString(" "))
    assert(byDoc(3L).head._4 == "a b c" && byDoc(3L).head._3 == 3L)
    // stride > maxTokens would silently drop tokens — refused
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(docs, maxTokens = 10, stride = 11)
    }
    // plan: chunking shuffles nothing; the only exchange is the final
    // presentational sort
    val plan = TextAnalysis.chunkDocuments(cat.documents, 64, 48)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("Exchange SinglePartition"),
      s"chunking must stay map-side:\n$plan")
  }

  test("binaryFile ingest: a directory of real image files feeds the decode pipeline unchanged") {
    import java.awt.image.BufferedImage
    val dir = java.nio.file.Files.createTempDirectory("graft-media-ingest")
    def img(w: Int, h: Int): BufferedImage = {
      val i = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      i.setRGB(0, 0, 0x123456); i
    }
    java.nio.file.Files.write(dir.resolve("a.png"), MediaPipeline.encodePng(img(5, 3)))
    java.nio.file.Files.write(dir.resolve("b.png"), MediaPipeline.encodePng(img(7, 2)))
    java.nio.file.Files.write(dir.resolve("c.jpg"), MediaPipeline.encodeJpeg(img(4, 4)))
    java.nio.file.Files.write(dir.resolve("d.gif"), MediaPipeline.encodeGif(img(6, 5)))
    java.nio.file.Files.write(dir.resolve("skip.txt"), "not an image".getBytes("UTF-8"))
    val media = MediaPipeline.ingestBinaryDir(spark, dir.toString, glob = "*.{png,jpg,gif}")
    // the glob pruned the decoy at listing time
    assert(media.count() == 4)
    // schema-compatible with the synthetic media table → decode composes
    val decoded = MediaPipeline.decodeAndFeaturize(media).collect()
    assert(decoded.map(d => (d.width, d.height)).toSet ==
      Set((5, 3), (7, 2), (4, 4), (6, 5)), "decoded dims must match the written files")
    assert(decoded.map(_.kind).sorted.toSeq ==
      Seq("image/gif", "image/jpeg", "image/png", "image/png"))
    // ids are a pure function of the path: re-ingest reproduces them
    val again = MediaPipeline.ingestBinaryDir(spark, dir.toString, glob = "*.{png,jpg,gif}")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(again.sameElements(media.select("doc_id").collect().map(_.getLong(0)).sorted))
  }

  test("animated GIF: sequence round-trip, stride sampling decodes the right frames") {
    import java.awt.image.BufferedImage
    import spark.implicits._
    def frame(w: Int, h: Int, shade: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, shade)))
      img
    }
    // doc 1: four 6x4 frames; doc 2: five 8x3 frames
    val gif1 = MediaPipeline.encodeAnimatedGif(
      (0 until 4).map(i => frame(6, 4, i * 0x202020)))
    val gif2 = MediaPipeline.encodeAnimatedGif(
      (0 until 5).map(i => frame(8, 3, 0xffffff - i * 0x101010)))
    assert(MediaPipeline.sniffKind(gif1) == "image/gif")
    assert(MediaPipeline.gifFrames(gif1).length == 4)
    assert(MediaPipeline.gifFrames(gif2).map(f => (f.getWidth, f.getHeight))
      .forall(_ == ((8, 3))))
    val clips = Seq((1L, gif1), (2L, gif2)).toDF("doc_id", "media")
    val sampled = graft.media.ClipPipeline.sampleGifFrames(clips, everyK = 2)
      .collect().map(s => (s.doc_id, s.frame_idx, s.n_frames, s.width, s.height))
    assert(sampled.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(0, 2))
    assert(sampled.filter(_._1 == 2L).map(_._2).sorted.toSeq == Seq(0, 2, 4))
    assert(sampled.forall(s => if (s._1 == 1L) s._3 == 4 && s._4 == 6 && s._5 == 4
                               else s._3 == 5 && s._4 == 8 && s._5 == 3))
  }

  test("delta GIF: partial stored frames, composition reproduces playback exactly") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import spark.implicits._
    // explicit palette → the GIF codec round-trips colors exactly
    // (RGB input would be palette-quantized and defeat pixel equality)
    val palette = Array(0x336699, 0xff8800, 0x11cc22, 0x000000)
    val icm = new IndexColorModel(8, palette.length,
      palette.map(c => ((c >> 16) & 0xff).toByte),
      palette.map(c => ((c >> 8) & 0xff).toByte),
      palette.map(c => (c & 0xff).toByte))
    def frame(step: Int): BufferedImage = {
      val img = new BufferedImage(16, 10, BufferedImage.TYPE_BYTE_INDEXED, icm)
      (0 until 10).foreach(y => (0 until 16).foreach(x => img.setRGB(x, y, palette(0))))
      // a 3x2 block that walks right each step, plus a fixed corner dot
      (0 until 2).foreach(y => (0 until 3).foreach(x =>
        img.setRGB(2 + 3 * step + x, 4 + y, palette(1))))
      img.setRGB(15, 9, palette(2))
      img
    }
    val frames = (0 until 4).map(frame)
    val delta = graft.media.MediaPipeline.encodeAnimatedGifDelta(frames)
    // stored: frame 0 full, every later frame a partial bounding box
    val stored = graft.media.MediaPipeline.gifFrames(delta)
    assert(stored.head.getWidth == 16 && stored.head.getHeight == 10)
    assert(stored.tail.forall(f => f.getWidth < 16),
      "delta encoding must store partial frames for localized change")
    // composed: full playback frames, pixel-identical to the originals
    val composed = graft.media.MediaPipeline.gifComposedFrames(delta)
    assert(composed.length == 4)
    composed.zip(frames).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got.getWidth == 16 && got.getHeight == 10, s"frame $i dims")
      (0 until 10).foreach(y => (0 until 16).foreach(x =>
        assert((got.getRGB(x, y) & 0xffffff) == (want.getRGB(x, y) & 0xffffff),
          s"frame $i pixel ($x,$y)")))
    }
    // a full-frame GIF composes to its stored frames unchanged
    val full = graft.media.MediaPipeline.encodeAnimatedGif(frames)
    val fullStored = graft.media.MediaPipeline.gifFrames(full)
    graft.media.MediaPipeline.gifComposedFrames(full).zip(fullStored).foreach {
      case (got, want) =>
        (0 until 10).foreach(y => (0 until 16).foreach(x =>
          assert((got.getRGB(x, y) & 0xffffff) == (want.getRGB(x, y) & 0xffffff))))
    }
    // composed stride sampling over a clips DF: full canvas dims on
    // every sampled row even though the stored frames are partial
    val clips = Seq((1L, delta)).toDF("doc_id", "media")
    val sampled = graft.media.ClipPipeline.sampleGifFramesComposed(clips, everyK = 2)
      .collect().map(s => (s.frame_idx, s.n_frames, s.width, s.height)).sorted
    assert(sampled.toSeq == Seq((0, 4, 16, 10), (2, 4, 16, 10)))
  }

  test("PNG decode returns the true dimensions of a known image") {
    val img = new java.awt.image.BufferedImage(5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(4, 2, 0xabcdef)
    val bytes = MediaPipeline.encodePng(img)
    assert(MediaPipeline.sniffKind(bytes) == "image/png")
    assert(MediaPipeline.decodeDims(bytes) == ((5, 3)))
    val back = MediaPipeline.decodeImage(bytes)
    assert((back.getRGB(4, 2) & 0xffffff) == 0xabcdef, "decoded pixel must round-trip")
    intercept[IllegalArgumentException] {
      MediaPipeline.decodeDims(Array[Byte](1, 2, 3))
    }
    // GIF: dims exact through the real codec; colors are palette-
    // quantized so only shape is pinned
    val gif = MediaPipeline.encodeGif(img)
    assert(MediaPipeline.sniffKind(gif) == "image/gif")
    assert(MediaPipeline.decodeDims(gif) == ((5, 3)))
  }

  test("resize normalizes every payload to the target dims with a valid histogram") {
    val resized = MediaPipeline.decodeAndFeaturize(
      MediaPipeline.resizedMedia(
        MediaPipeline.toMediaTable(cat.documents.limit(40)), 16, 16)).collect()
    assert(resized.length == 40)
    resized.foreach { d =>
      assert(d.width == 16 && d.height == 16, s"doc ${d.doc_id} not resized: ${d.width}x${d.height}")
      assert(d.kind == "image/png", "resized payloads are re-encoded PNG")
      assert(math.abs(d.features.sum - 1.0f) < 1e-3)
    }
  }

  test("BPE-ish pre-token count matches hand-tokenization") {
    import spark.implicits._
    import graft.text.TextAnalysis
    val df = Seq(
      (1L, "it's 42 cats!"), // it | 's | ' 42' | ' cats' | !
      (2L, "hello   world"), // hello | '   ' is ws+... ' world'? leading spaces: ' ?[A-Za-z]+' takes ONE space
      (3L, "")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextAnalysis.bpeTokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 5L, s"got ${got(1L)}")
    // "hello" + "  " (residual ws) + " world" = 3
    assert(got(2L) == 3L, s"got ${got(2L)}")
    assert(got(3L) == 0L)
  }

  test("contamination: a doc copied from the benchmark scores 1.0, disjoint text scores 0.0") {
    import spark.implicits._
    import graft.text.TextAnalysis
    val bench = Seq((100L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "one two three four five six seven eight"), // verbatim copy
      (2L, "totally different words with no shared grams at all here"),
      (3L, "zz one two three four five qq rr ss tt")) // partial overlap
      .toDF("doc_id", "text")
    val got = TextAnalysis.contaminationScores(corpus, bench, n = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) == 1.0, s"verbatim copy must be fully contaminated: $got")
    assert(got(2L) == 0.0, s"disjoint doc must be clean: $got")
    // doc 3: 6 distinct 5-grams, exactly one ("one two three four five") in bench
    assert(math.abs(got(3L) - 1.0 / 6.0) < 1e-6, s"partial overlap wrong: $got")
  }

  test("PII scan finds and redacts planted emails, urls, ips and phones") {
    import spark.implicits._
    import graft.text.TextAnalysis
    val df = Seq(
      (1L, "contact a.user@example.com or https://example.com/x?y=1 now", "s1"),
      (2L, "server at 10.0.255.7 rang +1 (415) 555-0199 yesterday", "s1"),
      (3L, "nothing sensitive here", "s2"))
      .toDF("doc_id", "text", "source")
    val stats = TextAnalysis.piiStats(df.withColumn("lang", lit("en")))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(stats("s1") == ((1L, 1L, 1L, 1L)), s"s1 must have one of each: $stats")
    assert(stats("s2") == ((0L, 0L, 0L, 0L)))
    val red = df.select(col("doc_id"), TextAnalysis.piiRedact(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "contact [EMAIL] or [URL] now", red(1L))
    assert(red(2L).contains("[IPV4]") && red(2L).contains("[PHONE]"), red(2L))
    assert(red(3L) == "nothing sensitive here")
  }

  test("int8 quantization: bounded reconstruction error and exact pair recovery") {
    import graft.vector.Quantize
    val qt = Quantize.quantize(cat.embeddings)
    assert(qt.schema("q").dataType.simpleString == "array<tinyint>")
    // per-element reconstruction error ≤ scale/2 (+ float fuzz),
    // checked per vector against its own scale
    val scales = qt.select(col("vec_id"), col("scale")).collect()
      .map(r => r.getLong(0) -> r.getFloat(1)).toMap
    val errs = Quantize.dequantize(qt).as("d")
      .join(cat.embeddings.as("e"), col("d.vec_id") === col("e.vec_id"))
      .select(col("d.vec_id"),
        array_max(zip_with(col("d.embedding"), col("e.embedding"), (a, b) => abs(a - b))))
      .collect().map(r => r.getLong(0) -> r.getFloat(1))
    errs.foreach { case (id, err) =>
      assert(err <= scales(id) / 2 + 1e-6, s"vec $id err $err > ${scales(id) / 2}")
    }
    // two-stage quantized scan + exact re-rank ≡ exact all-pairs
    val exact = Ann.allPairsAbove(cat.embeddings, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaQ = Quantize.quantizedPairsAbove(cat.embeddings, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaQ == exact, s"missing=${exact -- viaQ}, extra=${viaQ -- exact}")
    // the per-pair error bound must hold for ARBITRARY vectors, not just
    // unit-norm: scale every vector by an id-dependent factor (norms now
    // range up to 4) and the two-stage result must STILL equal exact
    val scaled = cat.embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => (x * (lit(1.0f) + (col("vec_id") % 4).cast("float"))).cast("float"))
        .as("embedding"))
    val exactS = Ann.allPairsAbove(scaled, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaQS = Quantize.quantizedPairsAbove(scaled, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaQS == exactS,
      s"non-unit recall broken: missing=${exactS -- viaQS}, extra=${viaQS -- exactS}")
    // the banded scale path (the X28 production form) must reproduce the
    // exact output on the fixture: banding recall at 4x80 leaves the
    // expected miss count ~1e-3, and the seed is fixed, so this equality
    // is deterministic, not flaky
    val viaB = Quantize.bandedQuantizedPairsAbove(
        cat.embeddings, 0.4, nPlanes = 4, nBands = 80, forceBanded = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaB == exact, s"banded missing=${exact -- viaB}, extra=${viaB -- exact}")
    // on NON-UNIT vectors the banded path's recall is angular (sign
    // buckets can't see norms — scaladoc contract): precision must stay
    // 1 (exact re-rank), and every pair whose ANGLE also qualifies
    // (unit-cosine > 0.4 ⇒ collision miss ~1e-6/pair at 4x80) must
    // appear; pairs qualifying on raw dot through norm alone may not
    val viaBS = Quantize.bandedQuantizedPairsAbove(
        scaled, 0.4, nPlanes = 4, nBands = 80, forceBanded = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert((viaBS -- exactS).isEmpty, s"banded non-unit precision: extra=${viaBS -- exactS}")
    val angularQualified = exactS.filter { case (i, j, _) => exact.exists(p => p._1 == i && p._2 == j) }
    assert((angularQualified -- viaBS).isEmpty,
      s"banded non-unit angular recall: missing=${angularQualified -- viaBS}")
  }

  test("WAV audio decode recovers true sample counts and sine signal features") {
    import graft.media.AudioPipeline
    val decoded = AudioPipeline.decodeAndFeaturize(
      AudioPipeline.toAudioTable(cat.documents.limit(50))).collect()
    assert(decoded.length == 50)
    decoded.foreach { d =>
      // true decoded sample count must equal the synthesis ground truth
      assert(d.n_samples == 400 + (d.doc_id % 32) * 25, s"doc ${d.doc_id}: ${d.n_samples}")
      assert(d.sample_rate == 8000)
      assert(d.duration_ms == d.n_samples * 1000 / 8000)
      // RMS of a full-scale sine A*sin: A/sqrt(2); A = 12000/32768
      val expectedRms = 12000.0 / 32768.0 / math.sqrt(2.0)
      assert(math.abs(d.rms - expectedRms) < 0.01, s"doc ${d.doc_id}: rms ${d.rms}")
      // zero crossings ≈ 2 * freq * duration
      val freq = 100.0 + (d.doc_id % 7) * 50.0
      val expectedZc = 2.0 * freq * d.n_samples / 8000.0
      assert(math.abs(d.zero_crossings - expectedZc) <= 2, s"doc ${d.doc_id}: zc ${d.zero_crossings}")
    }
  }

  test("clip container round-trips and stride sampling decodes only every k-th frame") {
    import graft.media.ClipPipeline
    // container round-trip
    val f0 = Array[Byte](1, 2, 3)
    val f1 = Array[Byte](4)
    assert(ClipPipeline.frames(ClipPipeline.encodeClip(Seq(f0, f1))).map(_.toSeq)
      == Seq(f0.toSeq, f1.toSeq))
    intercept[IllegalArgumentException] { ClipPipeline.frames(Array[Byte](9, 9, 9, 9, 0, 0, 0, 0)) }
    // distributed sampling: frame count ground truth + stride + real dims
    val sampled = ClipPipeline.sampleFrames(
      ClipPipeline.toClipTable(cat.documents.limit(30)), everyK = 2).collect()
    sampled.foreach { s =>
      assert(s.n_frames == 2 + (s.doc_id % 5), s"doc ${s.doc_id}: ${s.n_frames}")
      assert(s.frame_idx % 2 == 0, "stride sampling must keep only even frames")
      assert(s.width == 12 && s.height == 12)
    }
    val byDoc = sampled.groupBy(_.doc_id)
    assert(byDoc.size == 30)
    byDoc.foreach { case (id, fs) =>
      assert(fs.length == (fs.head.n_frames + 1) / 2, s"doc $id sampled ${fs.length}")
    }
  }

  test("JPEG decode returns true dimensions and near-lossless gray levels") {
    val img = new java.awt.image.BufferedImage(7, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 7) img.setRGB(x, y, 0x808080) // flat gray
    val bytes = MediaPipeline.encodeJpeg(img)
    assert(MediaPipeline.sniffKind(bytes) == "image/jpeg")
    assert(MediaPipeline.decodeDims(bytes) == ((7, 4)))
    // JPEG is lossy: require the decoded pixel to be CLOSE, not equal
    val back = MediaPipeline.decodeImage(bytes)
    val px = back.getRGB(3, 2)
    assert(math.abs(((px >> 16) & 0xff) - 0x80) < 8, f"decoded gray drifted: $px%06x")
  }

  test("winnowing fingerprints: exact duplicates score 1.0, sets are stable and guaranteed-overlap holds") {
    // sf0.1 exact duplicate groups must pair with jaccard exactly 1.0
    val dupPairs = cat1.documents.as("a")
      .join(cat1.documents.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.nonEmpty)
    val winnowed = TextAnalysis.winnowPairs(cat1.documents, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val atOne = winnowed.filter(_._3 == 1.0).map(t => (t._1, t._2)).toSet
    assert(dupPairs.subsetOf(atOne), s"missing exact dups: ${dupPairs -- atOne}")
    // fingerprints are a pure function of the text: repartition-stable
    val a = TextAnalysis.winnowFingerprints(cat.documents)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val b = TextAnalysis.winnowFingerprints(cat.documents.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(a == b)
    // non-empty for every doc long enough
    assert(a.values.forall(_.nonEmpty))
  }

  test("segment dedup keeps each segment at its first occurrence, drops all-dup docs") {
    import spark.implicits._
    // doc 1: boilerplate B twice (intra-doc dup kept once) + unique u1
    // doc 2: boilerplate B + unique u2 — B removed (doc 1 owns it)
    // doc 3: ONLY boilerplate — every segment seen earlier: doc vanishes
    val docs = Seq(
      (1L, "B\nu1\nB"),
      (2L, "B\nu2"),
      (3L, "B")).toDF("doc_id", "text")
    val got = TextAnalysis.segmentDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 2L, "B\nu1"), (2L, 1L, "u2")), got.toSeq)
    // layout invariance: first-occurrence winners depend on (doc_id, idx)
    // only, never on partitioning
    val a = TextAnalysis.segmentDedup(cat.documents).collect().toSeq
    val b = TextAnalysis.segmentDedup(cat.documents.repartition(13)).collect().toSeq
    assert(a == b)
  }

  test("repetition stats match hand computation and flag a degenerate doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"),         // 5 words, 2 uniq; top 'a'=3; bigrams: ab,ba,ab,ba -> 4, 2 uniq
      (2L, "x y z w"),           // no repetition
      (3L, "spam spam spam")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq(
      (1L, 5L, 0.6, 0.6, 0.5),
      (2L, 4L, 0.0, 0.25, 0.0),
      (3L, 3L, round6(2.0 / 3), 1.0, 0.5)), got)
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("filter verdicts flag the right rule; unigram logprob ranks gibberish lowest") {
    import spark.implicits._
    val docs = Seq(
      (1L, ("the quick brown fox " * 5).trim), // 20 words but top 'the'=5/20 <= 0.3? 5/20=0.25 ok
      (2L, "too short"),                       // fails ok_len
      (3L, ("spam " * 40).trim))               // fails ok_dup (39/40) and ok_top (1.0)
      .toDF("doc_id", "text")
    val v = TextAnalysis.filterVerdicts(docs)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(v(1L) == ((true, true, true, true)), v(1L))
    assert(v(2L) == ((false, true, false, false)), v(2L)) // 2 words: top 1/2 > 0.3 too
    assert(v(3L) == ((true, false, false, false)), v(3L))
    // a vocabulary-outlier doc must score strictly below one made of the
    // corpus's most common words
    val real = cat.documents.limit(100)
      .unionByName(Seq((777777L, "zzqj xvwk qqpl mmzx bbvv")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .select(cat.documents.columns.map(col).toSeq: _*))
    val lp = TextAnalysis.unigramLogProb(real)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val others = lp.removed(777777L).values
    assert(lp(777777L) < others.min,
      s"gibberish ${lp(777777L)} must rank below all real docs (min ${others.min})")
  }

  test("funnel enforces event ORDER, not mere presence; retention matches fixture") {
    import spark.implicits._
    import graft.ops.EventAnalytics
    def t(m: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + m * 60000L)
    val ev = Seq(
      (1L, t(0), "signup"), (1L, t(5), "click"), (1L, t(10), "purchase"), // completes
      (2L, t(0), "signup"), (2L, t(5), "click"), // stalls before purchase
      (3L, t(5), "click"), (3L, t(10), "purchase"), // never signed up
      // click BEFORE signup must NOT count as stage 2
      (4L, t(5), "signup"), (4L, t(0), "click"), (4L, t(10), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.funnel(ev, Seq("signup", "click", "purchase"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("1_signup" -> 3L, "2_click" -> 2L, "3_purchase" -> 1L), got)
    // retention: hour 0 actives {1, 2}, hour 1 active {1}
    val ev2 = Seq((1L, t(0)), (2L, t(30)), (1L, t(70)))
      .toDF("user_id", "ts")
    val ret = EventAnalytics.hourlyRetention(ev2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(ret == Seq((2L, 1L), (1L, 0L)), ret)
    // monotone on the real corpus
    val real = EventAnalytics.funnel(cat.events, Seq("signup", "click", "purchase"))
      .collect().map(_.getLong(1)).toSeq
    assert(real.size == 3 && real == real.sorted.reverse && real.head > 0, real)
  }

  test("cross-corpus near-dups catch planted near-copies of benchmark docs") {
    import spark.implicits._
    val bench = cat.documents.filter(col("doc_id") < 20)
      .select("doc_id", "text")
    // corpus: disjoint real docs + a planted NEAR-copy (first 5 words
    // dropped) of benchmark doc 3 — exact-overlap tools can miss
    // truncations; near-dup matching must not
    val nearCopy = bench.filter(col("doc_id") === 3)
      .select(lit(900001L).as("doc_id"),
        array_join(slice(split(col("text"), " "), 6, 100000), " ").as("text"))
    val corpus = cat.documents.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select("doc_id", "text").unionByName(nearCopy)
    val got = MinHashDedup.crossNearDups(corpus, bench,
      graft.text.MinHashConfig(threshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.exists(p => p._1 == 900001L && p._2 == 3L && p._3 >= 0.5),
      s"planted near-copy not caught: ${got.toSeq}")
    // self-agreement: crossNearDups(X, X) must contain every
    // within-corpus verified pair (both orientations + self at jac 1)
    val self = MinHashDedup.crossNearDups(bench, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val within = MinHashDedup.verifiedPairs(bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    within.foreach { case (i, j) =>
      assert(self.contains((i, j)) && self.contains((j, i)), s"missing ($i,$j)")
    }
    assert(bench.collect().map(_.getLong(0)).forall(id => self.contains((id, id))),
      "every doc must match itself at jac 1.0")
    // the persisted-index form (the X46 production path) is candidate-
    // identical by construction (bucket IS the band hash): same pairs,
    // same jaccards, from one shared index over corpus ∪ bench
    val cfg = graft.text.MinHashConfig(threshold = 0.5)
    val banded = MinHashDedup.bandedSignatures(corpus.unionByName(bench), cfg)
      .select(col("doc_id").as("id"), col("band"), col("band_hash").as("bucket"))
    val viaIdx = MinHashDedup.crossNearDupsFromBanded(corpus, bench, banded, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = MinHashDedup.crossNearDups(corpus, bench, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIdx == direct,
      s"index form ≠ from-scratch: missing=${direct -- viaIdx}, extra=${viaIdx -- direct}")
  }

  test("dedup winners are stable under repartitioning (idempotent re-run)") {
    val direct = MinHashDedup.dedupWinners(cat.documents)
      .collect().map(_.getLong(0)).toSeq
    val repartitioned = MinHashDedup.dedupWinners(cat.documents.repartition(13))
      .collect().map(_.getLong(0)).toSeq
    assert(direct == repartitioned)
    val l02a = ops.DfContract.all("L02")(cat).collect().toSeq
    val l02b = ops.DfContract.all("L02")(Catalog(spark, sf01)).collect().toSeq
    assert(l02a == l02b)
  }

  test("partition invariance: contract hashes stable under shuffle.partitions 2 vs 8") {
    val ids = Seq("A01", "J10", "W01", "L07", "U01")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val h2 = {
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        ids.map(id => Canonical.hash16(ops.DfContract.all(id)(cat)))
      }
      val h8 = {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        ids.map(id => Canonical.hash16(ops.DfContract.all(id)(cat)))
      }
      assert(h2 == h8)
      ids.zip(h2).foreach { case (id, h) => assert(h == Contract.hash01(id), id) }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("qualityAwareWinners keeps the most-informative cluster member, min-id on ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),          // 3 distinct
      (2L, "a b c d e"),      // 5 distinct — the informative copy, NOT min-id
      (3L, "a b"),            // truncated copy
      (10L, "x y z"),         // tie cluster: 3 distinct...
      (11L, "x y z z z"),     // ...3 distinct too (dup tokens don't count)
      (99L, "unclustered")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val got = MinHashDedup.qualityAwareWinners(docs, clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 5L, 3L), (10L, 10L, 3L, 2L)))
  }

  test("qualityAwareWinners on the sf0.01 clusters: one winner per cluster, member counts add up") {
    val clusters = MinHashDedup.duplicateClusters(
      MinHashDedup.verifiedPairs(cat.documents))
    val winners = MinHashDedup.qualityAwareWinners(cat.documents, clusters)
    val nClusters = clusters.select("cluster_id").distinct().count()
    assert(winners.count() == nClusters && nClusters > 0)
    assert(winners.agg(sum("n_members")).first().getLong(0) == clusters.count())
    // every winner is a member of its own cluster (aliased right side —
    // an unaliased cluster_id equality would resolve trivially true)
    val membership = clusters
      .select(col("doc_id").as("m_doc"), col("cluster_id").as("m_cluster"))
    assert(winners.join(membership,
      winners("keep_id") === membership("m_doc") &&
        winners("cluster_id") === membership("m_cluster")).count() == nClusters)
  }

  test("domainStats: lowercased authority, hit + distinct-doc counts, top-k order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see https://Example.com/page and https://example.com/x?q=1 too"),
      (2L, "mirror at http://example.com/y plus http://other.org/z"),
      (3L, "no urls here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.domainStats(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("example.com", 3L, 2L), ("other.org", 1L, 1L)))
    // zero-URL corpora (like the synthetic testdata) yield an empty audit
    assert(TextAnalysis.domainStats(cat.documents).count() == 0)
  }

  test("budgetCut: start-inside-budget contract, growth stability, ≡ the naive window") {
    import graft.pipeline.TrainingSet
    val cut = TrainingSet.budgetCut(cat.documents, budgetTokens = 5000L).collect()
    assert(cut.nonEmpty && cut.length < cat.documents.count())
    // every kept doc STARTS inside the budget; only the last may overflow
    cut.foreach(r => assert(r.getLong(3) - r.getLong(2) < 5000L))
    assert(cut.init.forall(_.getLong(3) < 5000L + cut.map(_.getLong(2)).max))
    assert(cut.last.getLong(3) >= 5000L, "the cut must exhaust the budget")
    // ≡ the naive single-window definition
    import org.apache.spark.sql.expressions.Window
    val naive = graft.ops.Scale
      .shuffleOrder(cat.documents.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
      .withColumn("cum_tokens",
        sum("n_tokens").over(Window.orderBy("shuffle_pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") - col("n_tokens") < 5000L)
      .select("doc_id", "shuffle_pos", "n_tokens", "cum_tokens")
      .orderBy("shuffle_pos").collect()
    assert(cut.map(_.toSeq).toSeq == naive.map(_.toSeq).toSeq)
    // growth stability: the cut over a PREFIX-grown corpus keeps the
    // selection a pure function of (doc_id, seed) — removing unrelated
    // docs that were NOT selected cannot change the selected set's
    // relative order (coin ranks are per-doc)
    val selected = cut.map(_.getLong(0)).toSet
    val shrunk = TrainingSet.budgetCut(
      cat.documents.filter(col("doc_id").isin(selected.toSeq.map(java.lang.Long.valueOf): _*)),
      budgetTokens = 5000L).collect()
    assert(shrunk.map(_.getLong(0)).toSeq == cut.map(_.getLong(0)).toSeq)
  }

  test("diversitySample: min(k, cluster size) per cluster, subset of the assignment, deterministic") {
    val cents = graft.vector.Ivf.centroids(cat.embeddings, 8)
    val assigned = graft.vector.Ivf.assign(cat.embeddings, cents)
      .select("vec_id", "list_id")
    val sample = graft.vector.SemDedup.diversitySample(cat.embeddings, cents, k = 10)
    val want = assigned.groupBy("list_id").count().collect()
      .map(r => r.get(0) -> math.min(10L, r.getLong(1))).toMap
    val got = sample.groupBy("list_id").count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    assert(got == want, s"per-cluster sizes: got $got want $want")
    assert(sample.join(assigned, Seq("vec_id", "list_id"), "left_anti").isEmpty,
      "every sampled vector must carry its own cluster id")
    val again = graft.vector.SemDedup.diversitySample(cat.embeddings, cents, k = 10)
    assert(sample.collect().map(_.toSeq).toSeq == again.collect().map(_.toSeq).toSeq)
  }

  test("dedupReport: per-size histogram, min-id winner's chars survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, 100L), (2L, 40L), (3L, 7L),  // cluster 1: size 3, winner=1
      (10L, 5L), (11L, 9L),             // cluster 10: size 2, winner=10
      (20L, 3L), (21L, 8L),             // cluster 20: size 2, winner=20
      (99L, 1000L))                     // unclustered — must not appear
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("doc_id", "cluster_id")
    val got = MinHashDedup.dedupReport(docs, clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // size 2: clusters {10,20}, losers {11, 21} → chars 9+8; size 3:
    // cluster {1}, losers {2,3} → chars 40+7
    assert(got.toSeq == Seq((2L, 2L, 2L, 17L), (3L, 1L, 2L, 47L)))
  }

  test("dedupReport: capped-bucket exposure surfaces as report columns") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    // banded member table: bucket (0,0) holds 5 rows (> cap=4), bucket
    // (0,1) holds 2 — capped mass = 5 of 7
    val banded = ((1L to 5L).map(i => (i, 0, 0L, i)) ++
        Seq((6L, 0, 1L, 6L), (7L, 0, 1L, 7L)))
      .toDF("id", "band", "bucket", "sigh")
    val got = MinHashDedup.dedupReport(docs, clusters,
        banded = Some((banded, 4)))
      .select("cluster_size", "capped_member_rows", "total_member_rows",
        "capped_member_frac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((2L, 5L, 7L, 0.714286)), s"got ${got.toSeq}")
    // exhaustive generation (no bucket over the cap) reports zero —
    // and the no-banded form keeps the historical 4-column shape
    val clean = MinHashDedup.dedupReport(docs, clusters,
        banded = Some((banded, 10)))
      .select("capped_member_rows", "capped_member_frac").first()
    assert(clean.getLong(0) == 0L && clean.getDouble(1) == 0.0)
    assert(MinHashDedup.dedupReport(docs, clusters).columns.toSeq ==
      Seq("cluster_size", "n_clusters", "docs_removed", "chars_removed"))
  }

  test("dedupReport on sf0.01: masses reconcile with the cluster table") {
    val clusters = MinHashDedup.duplicateClusters(
      MinHashDedup.verifiedPairs(cat.documents))
    val report = MinHashDedup.dedupReport(cat.documents, clusters).collect()
    assert(report.nonEmpty)
    val nClusters = clusters.select("cluster_id").distinct().count()
    val nMembers = clusters.count()
    assert(report.map(_.getLong(1)).sum == nClusters)
    // every non-winner is removed exactly once
    assert(report.map(_.getLong(2)).sum == nMembers - nClusters)
    // removed mass is positive and strictly below the clustered docs' total
    val clusteredChars = clusters.join(cat.documents, Seq("doc_id"))
      .agg(sum("n_chars")).first().getLong(0)
    val removed = report.map(_.getLong(3)).sum
    assert(removed > 0 && removed < clusteredChars)
  }

  test("fertilityByLang: exact ratios on a fixture, encoder-dropped docs drop out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb", "en", 5L),
      (2L, "cc", "en", 2L),
      (3L, "dd ee ff", "fr", 8L),
      (4L, "", "fr", 0L))  // empty text — encoder emits no tokens
      .toDF("doc_id", "text", "lang", "n_chars")
    // hand-built encoded table: doc1 → 3 tokens, doc2 → 1, doc3 → 6
    val encoded = ((0 until 3).map(p => (1L, p.toLong, "t")) ++
      Seq((2L, 0L, "t")) ++ (0 until 6).map(p => (3L, p.toLong, "t")))
      .toDF("doc_id", "pos", "token")
    val got = graft.text.Bpe.fertilityByLang(encoded, docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      ("en", 2L, 4L, 3L, 7L, round6(4.0 / 3), round6(7.0 / 4)),
      ("fr", 1L, 6L, 3L, 8L, 2.0, round6(8.0 / 6))))
  }

  test("semantic outliers: exactly the below-floor slice of the assignment") {
    val cents = graft.vector.Ivf.refineCentroids(
      cat.embeddings, graft.vector.Ivf.centroids(cat.embeddings, 8), iters = 4,
      dim = cat.embeddings.select(size(col("embedding"))).first().getInt(0))
    val assigned = graft.vector.SemDedup.assignWithScore(cat.embeddings, cents)
      .select("vec_id", "list_id", "ccos").collect()
    val floor = 0.3
    val want = assigned.filter(_.getDouble(2) < floor)
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val got = graft.vector.SemDedup.outliers(cat.embeddings, cents, floor)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty && got.size < assigned.length,
      s"floor=$floor should flag a strict, non-empty subset (got ${got.size}/${assigned.length})")
  }

  test("perplexityBuckets: equal-mass tertiles, fluency-monotone, scorer-consistent") {
    val b = TextAnalysis.perplexityBuckets(cat.documents, nBuckets = 3).collect()
    val scored = TextAnalysis.bigramLogProb(cat.documents).count()
    assert(b.length == scored, "one bucket row per scored document")
    // equal mass: floor((rank-1)k/n) sizes differ by at most 1
    val sizes = b.groupBy(_.getLong(3)).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L))
    assert(sizes.values.max - sizes.values.min <= 1, s"unbalanced: $sizes")
    // monotone: the head's scores are never below the tail's (ties at a
    // boundary may equal — rank breaks them by doc_id)
    val headMin = b.filter(_.getLong(3) == 0L).map(_.getDouble(1)).min
    val tailMax = b.filter(_.getLong(3) == 2L).map(_.getDouble(1)).max
    assert(headMin >= tailMax)
    // rank is a permutation of 1..n consistent with (score DESC, doc_id)
    assert(b.map(_.getLong(2)).sorted.toSeq == (1L to scored).toSeq)
  }

  test("epochPlan: weights sum to 1; alpha=1 runs every stratum the same epoch count") {
    val plan = graft.pipeline.TrainingSet
      .epochPlan(cat.documents, "source", budgetTokens = 1000000000L, alpha = 0.5)
      .collect()
    assert(plan.nonEmpty)
    assert(math.abs(plan.map(_.getDouble(3)).sum - 1.0) < 1e-6)
    // alpha=0.5 up-weights small strata: weight ratio compresses vs the
    // natural token-share ratio between the largest and smallest stratum
    val byTokens = plan.sortBy(_.getLong(2))
    val (small, large) = (byTokens.head, byTokens.last)
    if (small.getLong(2) < large.getLong(2)) {
      val natural = large.getLong(2).toDouble / small.getLong(2)
      val flattened = large.getDouble(3) / small.getDouble(3)
      assert(flattened < natural)
    }
    // alpha=1 → natural mixture: every stratum repeats budget/Σtokens times
    val nat = graft.pipeline.TrainingSet
      .epochPlan(cat.documents, "source", budgetTokens = 1000000000L, alpha = 1.0)
      .collect()
    val total = nat.map(_.getLong(2)).sum.toDouble
    nat.foreach { r =>
      assert(math.abs(r.getDouble(4) - 1000000000L / total) < 0.001,
        s"${r.getString(0)}: ${r.getDouble(4)} vs ${1000000000L / total}")
    }
  }

  test("X67/X68 declared queries (persisted hit-list artifact) ≡ from-scratch builders") {
    val h67 = graft.core.Canonical.hash16(
      Extras.queries("X67_dup_ngram_coverage")(spark, sf01))
    val d67 = graft.core.Canonical.hash16(
      TextAnalysis.crossDocDupCoverage(cat.documents, n = 5))
    assert(h67 == d67, s"X67 artifact path $h67 != direct $d67")
    val h68 = graft.core.Canonical.hash16(
      Extras.queries("X68_remove_shared_spans")(spark, sf01))
    val d68 = graft.core.Canonical.hash16(
      TextAnalysis.removeSharedSpans(cat.documents, n = 5))
    assert(h68 == d68, s"X68 artifact path $h68 != direct $d68")
  }

  test("decontaminationReport: channels reconcile with X30/X46/driver-side cosine; verdict algebra holds") {
    import spark.implicits._
    val rep = Extras.queries("X90_decontamination_report")(spark, sf01)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getString(4))).toMap
    val corpus = cat.documents.filter(col("source") =!= "src0")
    val bench = cat.documents.filter(col("source") === "src0")
    assert(rep.size == corpus.count())
    // channel 1 ≡ X30 scores (absent rows are zero-shingle docs)
    val x30 = TextAnalysis.contaminationScores(corpus, bench, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rep.foreach { case (id, (ng, _, _, _)) =>
      assert(ng == x30.getOrElse(id, 0.0), s"doc $id ngram_frac $ng != X30") }
    // channel 2 ≡ X46's corpus-side id set
    val x46 = Extras.queries("X46_neardup_decontaminate")(spark, sf01)
      .select("i").collect().map(_.getLong(0)).toSet
    assert(rep.filter(_._2._2).keySet == x46)
    // channel 3 ≡ driver-side max dot over benchmark embeddings
    val bids = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val vecs = cat.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val bvecs = vecs.filter(kv => bids(kv._1)).values.toArray
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
    rep.foreach { case (id, (ng, nd, sc, verdict)) =>
      val want = vecs.get(id).filterNot(_ => bvecs.isEmpty)
        .map(v => math.rint(bvecs.map(b => dot(v, b)).max * 1e6) / 1e6)
      assert(sc == want, s"doc $id semantic_cos $sc != $want")
      val fires = ng >= 0.2 || nd || sc.exists(_ >= 0.35)
      assert(verdict == (if (fires) "drop" else "keep"), s"doc $id verdict")
    }
  }

  test("bigramLogProbFrom: hand-fixture floors for unseen bigrams/contexts; dups can't inflate held-out scores") {
    import spark.implicits._
    // train "a b a c": c12(ab)=1, c12(ba)=1, c12(ac)=1; c1(a)=2, c1(b)=1; V=3
    val train = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val score = Seq(
      (2L, "a b d"), // ab seen: (1+1)/(2+3)=0.4; bd unseen bigram, seen... b ctx: (0+1)/(1+3)=0.25
      (3L, "x y"))   // unseen context: (0+1)/(0+3)=1/3
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProbFrom(train, score)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // log10(0.4)+log10(0.25) = log10(0.1) = -1 exactly → mean −0.5
    assert(got == Seq(
      (2L, 2L, -0.5),
      (3L, 1L, math.rint(math.log10(1.0 / 3) * 1e6) / 1e6)), got)
    // a doc duplicated into the SCORED set cannot raise its held-out
    // score (the self-trained X70 failure mode this operator removes)
    val dup = score.unionByName(Seq((4L, "a b d")).toDF("doc_id", "text"))
    val dupped = TextAnalysis.bigramLogProbFrom(train, dup)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(dupped(2L) == -0.5 && dupped(4L) == -0.5,
      s"held-out score must not move when the scored set gains a duplicate: $dupped")
  }

  test("sourceLmMatrix: distinct sources separate on the diagonal; matches a driver-side cell") {
    import spark.implicits._
    // srcA speaks "a b", srcB speaks "x y" — no shared vocabulary
    val docs = Seq(
      (1L, "a b a b a", "A"), (2L, "b a b a", "A"),
      (3L, "x y x y x", "B"), (4L, "y x y x", "B"))
      .toDF("doc_id", "text", "source")
    val m = TextAnalysis.sourceLmMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(m.size == 4)
    assert(m(("A", "A"))._1 == 2L && m(("B", "B"))._1 == 2L)
    // self-model fluency must strictly dominate the foreign model when
    // vocabularies are disjoint (margins are modest here — add-one
    // smoothing over a 2-word vocab keeps every probability near 1/2)
    assert(m(("A", "A"))._2 > m(("A", "B"))._2, m.toString)
    assert(m(("B", "B"))._2 > m(("B", "A"))._2, m.toString)
    // driver-side reference for one cross cell: every A bigram is
    // unseen under B's model with unseen context (disjoint vocab), so
    // each scores (0+1)/(0+V_B) with V_B = 2 → per-doc mean is
    // log10(1/2), and the A-row average equals it exactly
    val want = math.rint(math.log10(0.5) * 1e6) / 1e6
    assert(m(("A", "B"))._2 == want, s"${m(("A", "B"))._2} vs $want")
    // corpus sanity: |S|² rows, every source present both ways
    val corpus = TextAnalysis.sourceLmMatrix(cat.documents).collect()
    val srcs = cat.documents.select("source").distinct().count()
    assert(corpus.length == srcs * srcs)
  }

  test("sourceLmMatrix pair filter: kept cells equal the full matrix, disjoint pairs pruned") {
    import spark.implicits._
    // A and B share half their vocabulary (jaccard 1/3); C is disjoint
    // from both — a 0.2 floor keeps {A,B}×{A,B} plus the diagonal,
    // pruning every C cross cell
    val docs = Seq(
      (1L, "a b a b c", "A"), (2L, "b a c a", "A"),
      (3L, "c d c d c", "B"), (4L, "d c d d", "B"),
      (5L, "x y x y x", "C"), (6L, "y x y y", "C"))
      .toDF("doc_id", "text", "source")
    def cells(m: Array[org.apache.spark.sql.Row]) =
      m.map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val full = cells(TextAnalysis.sourceLmMatrix(docs).collect())
    val filtered = cells(TextAnalysis.sourceLmMatrix(docs, minVocabOverlap = 0.2).collect())
    assert(full.size == 9)
    // exactly the expected pairs survive: the filter selects pairs,
    // never changes a model
    val wantKept = Set(("A","A"), ("A","B"), ("B","A"), ("B","B"), ("C","C"))
    assert(filtered.keySet == wantKept, s"kept: ${filtered.keySet}")
    filtered.foreach { case (k, v) =>
      assert(full(k) == v, s"filtered cell $k diverged: $v vs ${full(k)}")
    }
    // floor above every off-diagonal overlap → the diagonal alone
    val diag = cells(TextAnalysis.sourceLmMatrix(docs, minVocabOverlap = 0.9).collect())
    assert(diag.keySet == Set(("A","A"), ("B","B"), ("C","C")), s"${diag.keySet}")
    diag.foreach { case (k, v) => assert(full(k) == v) }
  }

  test("noveltyCurve: hand fixture buckets, cumulative vocab is total distinct words") {
    import spark.implicits._
    // rn 1..4, nBuckets=2 → docs 1,2 in bucket 0; docs 3,4 in bucket 1
    val docs = Seq(
      (1L, "a b"), (2L, "a c"), (3L, "c d"), (4L, "d e a"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.noveltyCurve(docs, nBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // bucket 0: a,b + a,c → 4 tokens, first-seen {a,b,c}; bucket 1:
    // c,d + d,e,a → 5 tokens, first-seen {d,e}
    assert(got == Seq((0L, 2L, 4L, 3L, 3L), (1L, 2L, 5L, 2L, 5L)), got)
    // corpus: cum_vocab is monotone and ends at the distinct word count
    val curve = TextAnalysis.noveltyCurve(cat.documents, nBuckets = 10).collect()
    val cum = curve.map(_.getLong(4)).toSeq
    assert(cum == cum.sorted, s"cum_vocab not monotone: $cum")
    val vocab = cat.documents
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .agg(countDistinct("w")).head().getLong(0)
    assert(cum.last == vocab, s"${cum.last} vs $vocab")
    assert(curve.map(_.getLong(3)).sum == vocab)
  }

  test("splitDivergence: matches a driver-side reference; KL >= 0, TV symmetric in [0,1)") {
    // names are embedded in derived columns + stack() SQL — non-identifier
    // and colliding names must refuse loudly, not misparse
    intercept[IllegalArgumentException] {
      graft.text.TextAnalysis.splitDivergence(cat.documents,
        Seq("held-out" -> 0.5, "train" -> 0.5))
    }
    intercept[IllegalArgumentException] {
      graft.text.TextAnalysis.splitDivergence(cat.documents,
        Seq("train" -> 0.5, "train" -> 0.5))
    }
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = TextAnalysis.splitDivergence(cat.documents, weights)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(got.size == 6)
    // driver-side reference over the same md5 assignment
    val toks = graft.ops.Scale.md5Split(cat.documents, "doc_id", weights)
      .select(col("split"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val vocab = toks.map(_._2).distinct
    val v = vocab.length
    val bySplit = toks.groupBy(_._1).map { case (s, ts) =>
      s -> ts.groupBy(_._2).map { case (w, o) => w -> o.length.toLong } }
    def p(s: String, w: String): Double = {
      val c = bySplit(s).getOrElse(w, 0L)
      val n = bySplit(s).values.sum
      (c + 1).toDouble / (n + v).toDouble
    }
    for { a <- weights.map(_._1); b <- weights.map(_._1) if a != b } {
      val kl = vocab.map(w => p(a, w) * math.log(p(a, w) / p(b, w))).sum
      val tv = vocab.map(w => math.abs(p(a, w) - p(b, w))).sum / 2
      val (gkl, gtv) = got((a, b))
      assert(math.abs(gkl - kl) < 2e-6, s"kl($a,$b): $gkl vs $kl")
      assert(math.abs(gtv - tv) < 2e-6, s"tv($a,$b): $gtv vs $tv")
      assert(gkl >= 0, s"KL($a||$b) negative: $gkl")
      assert(gtv >= 0 && gtv < 1, s"TV($a,$b) out of range: $gtv")
      assert(got((a, b))._2 == got((b, a))._2, s"TV not symmetric for ($a,$b)")
    }
  }

  test("semanticLeakage: matches brute-force top-1; a planted cross-split clone is caught") {
    import spark.implicits._
    val threshold = 0.35
    val got = Ann.semanticLeakage(cat.embeddings, evalFrac = 0.1,
        threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // driver-side brute force over the same md5 split, same rounding
    val sp = graft.ops.Scale.md5Split(cat.embeddings, "vec_id",
        Seq("train" -> 0.9, "eval" -> 0.1))
      .select("vec_id", "embedding", "split")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getString(2)))
    val tr = sp.filter(_._3 == "train")
    val ev = sp.filter(_._3 == "eval")
    def dot6(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      math.rint(s * 1e6) / 1e6
    }
    val want = ev.flatMap { case (eid, evec, _) =>
      val best = tr.map { case (tid, tvec, _) => (tid, dot6(evec, tvec)) }
        .minBy { case (tid, c) => (-c, tid) }
      if (best._2 >= threshold) Some((eid, best._1, best._2)) else None
    }.sortBy(_._1).toSeq
    assert(got == want, s"got=$got want=$want")
    // plant: clone one eval vector into a fresh TRAIN row → caught at
    // |v|² = 1.0 (the fixture embeddings are unit-norm, so the clone
    // strictly dominates every honest neighbor). Id 999998's md5 coin
    // ('beaa1bfa' < the 0.9 cutoff) is train — the portable coin makes
    // that a permanent fact of the fixture, not an accident of seed.
    val evec = ev.head
    val selfDot = dot6(evec._2, evec._2)
    assert(selfDot >= threshold, s"fixture not unit-norm? selfDot=$selfDot")
    val planted = cat.embeddings.unionByName(
      Seq((999998L, evec._2, 0)).toDF("vec_id", "embedding", "label"))
    val leaks = Ann.semanticLeakage(planted, 0.1, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val clonePair = leaks.find(l => l._1 == evec._1 && l._2 == 999998L)
    assert(clonePair.nonEmpty,
      s"clone not caught (selfDot=$selfDot): ${leaks.toSeq}")
    assert(clonePair.get._3 == selfDot)
  }

  test("zipfFit: OLS on a hand fixture matches the closed-form regression; corpus slope < 0") {
    import spark.implicits._
    // frequencies 8,4,2,1 for a,b,c,d → ranks 1..4
    val words = Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.zipfFit(docs, topV = 500).head()
    assert(got.getLong(0) == 4L)
    val xy = Seq((1, 8), (2, 4), (3, 2), (4, 1))
      .map { case (rk, c) => (math.log(rk.toDouble), math.log(c.toDouble)) }
    val mx = xy.map(_._1).sum / 4; val my = xy.map(_._2).sum / 4
    val cov = xy.map { case (x, y) => (x - mx) * (y - my) }.sum / 4
    val vx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum / 4
    val vy = xy.map { case (_, y) => (y - my) * (y - my) }.sum / 4
    val slope = cov / vx
    assert(math.abs(got.getDouble(1) - slope) < 2e-6, s"${got.getDouble(1)} vs $slope")
    assert(math.abs(got.getDouble(2) - (my - slope * mx)) < 2e-6)
    assert(math.abs(got.getDouble(3) - cov * cov / (vx * vy)) < 2e-6)
    // corpus: the synthetic fixture draws ~31 word types near-uniformly,
    // so the fit correctly reports a SHALLOW slope and a poor r² — the
    // "this corpus is not natural language" verdict the operator exists
    // to give. top_v clamps to the actual vocab when topV exceeds it.
    val vocab = cat.documents
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .agg(countDistinct("w")).head().getLong(0)
    val corpus = TextAnalysis.zipfFit(cat.documents, topV = 500).head()
    assert(corpus.getLong(0) == vocab, s"${corpus.getLong(0)} vs $vocab")
    assert(corpus.getDouble(1) < 0, s"slope ${corpus.getDouble(1)}")
    assert(corpus.getDouble(1) > -0.5 && corpus.getDouble(3) < 0.3,
      s"uniform fixture should fit Zipf poorly: $corpus")
  }

  test("maxBenchmarkOverlapSpan: hand fixture — consecutive runs merge, disjoint hits don't") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "b1 b2 b3 b4 b5 b6 b7 b8")).toDF("doc_id", "text")
    val corpus = Seq(
      // 8-token verbatim copy → 4 consecutive 5-gram hits → span 4+4=8
      (1L, "x1 x2 b1 b2 b3 b4 b5 b6 b7 b8 y1 y2"),
      // two DISJOINT 5-gram hits (positions 0 and 10) → runs of 1 → span 5
      (2L, "b1 b2 b3 b4 b5 z1 z2 z3 z4 z5 b4 b5 b6 b7 b8"),
      // clean doc → 0 hits, 0 span
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      // sub-n doc → no shingles at all, still reported clean
      (4L, "c1 c2")).toDF("doc_id", "text")
    val got = TextAnalysis.maxBenchmarkOverlapSpan(corpus, bench, n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((12L, 4L, 8L)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((15L, 2L, 5L)), s"doc 2: ${got(2L)}")
    assert(got(3L) == ((10L, 0L, 0L)), s"doc 3: ${got(3L)}")
    assert(got(4L) == ((2L, 0L, 0L)), s"doc 4: ${got(4L)}")
    // corpus sanity at sf0.01: every span is bounded by its doc length,
    // and span > 0 exactly when hits > 0
    val rows = TextAnalysis.maxBenchmarkOverlapSpan(
      cat.documents.filter(col("source") =!= "src0"),
      cat.documents.filter(col("source") === "src0")).collect()
    assert(rows.forall(r => r.getLong(3) <= r.getLong(1)))
    assert(rows.forall(r => (r.getLong(3) > 0) == (r.getLong(2) > 0)))
  }

  test("crossSourceDupMatrix: unordered source pairs aggregate pair count and max jaccard") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "a"), (5L, "c"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L, 0.9), (2L, 4L, 0.8), (2L, 3L, 0.85))
      .toDF("i", "j", "jac")
    val got = MinHashDedup.crossSourceDupMatrix(docs, pairs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // (1,2) and (2,4) both land in the unordered (a,b) cell; (2,3) is
    // the b-diagonal; source c has no pairs and no row
    assert(got.toSeq == Seq(("a", "b", 2L, 0.9), ("b", "b", 1L, 0.85)), got.toSeq)
  }

  test("ngramContainmentPairs: embedded doc scores containment 1.0 while its jaccard stays dilute") {
    val s = spark
    import s.implicits._
    val small = (1 to 5).map(k => s"w$k").mkString(" ")
    val big = ((1 to 5).map(k => s"w$k") ++ (1 to 30).map(k => s"z$k")).mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, "q1 q2 q3 q4")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramContainmentPairs(docs, 3, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    // the 5-token doc is verbatim inside the 35-token doc: all 3 of its
    // shingles hit → containment 3/3 = 1.0, jaccard 3/33 ≈ 0.09 —
    // exactly the pair a Jaccard-only pass never flags
    assert(got.keySet == Set((1L, 2L)), got.keySet)
    assert(got((1L, 2L))._1 == 1.0)
    assert(got((1L, 2L))._2 == 0.090909, got((1L, 2L))._2.toString)
    // exact duplicates: both measures exactly 1.0
    val dup = Seq((1L, small), (2L, small)).toDF("doc_id", "text")
    val d = TextAnalysis.ngramContainmentPairs(dup, 3, 0.5).head()
    assert(d.getDouble(2) == 1.0 && d.getDouble(3) == 1.0)
  }

  test("ngram measures from persisted pair counts ≡ direct computation") {
    // the X05/X99 bench sharing contract: counts persisted once, each
    // measure a filter over the stored rows — values must be identical
    // to the from-scratch forms at the declared (n=3, maxDf=50) config
    val docs = Catalog(spark, sf001).documents
    val dir = java.nio.file.Files.createTempDirectory("graft-npc").toString
    TextAnalysis.ngramPairCounts(docs, n = 3, maxDf = 50)
      .write.mode("overwrite").parquet(dir)
    val counts = spark.read.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    assert(rows(TextAnalysis.ngramJaccardPairsFromCounts(counts, 0.6)) ==
      rows(TextAnalysis.ngramJaccardPairs(docs, 3, 0.6, maxDf = 50)),
      "jaccard-from-counts diverges from direct")
    assert(rows(TextAnalysis.ngramContainmentPairsFromCounts(counts, 0.8)) ==
      rows(TextAnalysis.ngramContainmentPairs(docs, 3, 0.8, maxDf = 50)),
      "containment-from-counts diverges from direct")
  }

  test("unigramDrift: hand-fixture KL/TV arithmetic; identical corpora score zero drift") {
    val s = spark
    import s.implicits._
    // cur = "a a", ref = "a b": union vocab V=2, add-one smoothing →
    // p_cur = (0.75, 0.25), p_ref = (0.5, 0.5)
    val cur = Seq((1L, "a a")).toDF("doc_id", "text")
    val ref = Seq((2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramDrift(cur, ref).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
    val klCR = BigDecimal(0.75 * math.log(1.5) + 0.25 * math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val klRC = BigDecimal(0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("cur", "ref", klCR, 0.25), ("ref", "cur", klRC, 0.25)), got)
    // drift of a corpus against itself is exactly zero on all measures
    val zero = TextAnalysis.unigramDrift(cur, cur).collect()
    assert(zero.forall(r => r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0))
  }

  test("bigramLogProbDiscounted: driver-side KN reference incl. all three smoothing branches") {
    val s = spark
    import s.implicits._
    val train = Seq((0L, "a b a b c"), (1L, "a b d")).toDF("doc_id", "text")
    // 10: all-seen bigrams; 11: unseen context AND unseen word;
    // 12: unseen context with a seen continuation word
    val score = Seq((10L, "a b c"), (11L, "z q"), (12L, "c a"))
      .toDF("doc_id", "text")
    val d = 0.75
    val trainToks = Seq(Seq("a", "b", "a", "b", "c"), Seq("a", "b", "d"))
    val bgs = trainToks.flatMap(t => t.zip(t.tail))
    val c12 = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val n1p = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val contc = c12.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val b = c12.size.toLong
    val v = trainToks.flatten.distinct.size.toLong
    def pcont(w2: String) = (contc.getOrElse(w2, 0L) + 1).toDouble / (b + v)
    def p(w1: String, w2: String): Double = c1.get(w1) match {
      case None => pcont(w2)
      case Some(cv) =>
        math.max(c12.getOrElse((w1, w2), 0L).toDouble - d, 0.0) / cv +
          d * n1p(w1).toDouble / cv * pcont(w2)
    }
    def ref(toks: Seq[String]): Double = {
      val lps = toks.zip(toks.tail).map { case (x, y) => math.log10(p(x, y)) }
      BigDecimal(lps.sum / lps.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = TextAnalysis.bigramLogProbDiscounted(train, score, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      (10L, 2L, ref(Seq("a", "b", "c"))),
      (11L, 1L, ref(Seq("z", "q"))),
      (12L, 1L, ref(Seq("c", "a")))), got)
    // mass conservation for a seen context: Σ_w P(w|v) over the train
    // vocab plus the out-of-vocab continuation floor stays ≤ 1 + V·floor
    val vocab = trainToks.flatten.distinct
    val massA = vocab.map(w => p("a", w)).sum
    assert(massA <= 1.0 + 1e-9, s"P(·|a) mass $massA exceeds 1")
    // held-out discipline: duplicating a SCORED doc cannot move its
    // score (the self-trained failure mode this smoothing family keeps)
    val dup = TextAnalysis.bigramLogProbDiscounted(
      train, score.unionByName(score.filter(col("doc_id") === 10L)), d)
      .filter(col("doc_id") === 10L).collect()
    assert(dup.forall(_.getDouble(2) == ref(Seq("a", "b", "c"))))
  }

  test("rrfTopK: equals driver-side fusion of the two standalone channels; self excluded") {
    val s = spark
    import s.implicits._
    val emb = cat.spark.read.parquet(s"$sf01/embeddings.parquet")
    val queries = cat.documents.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalysis.tokens(col("text")), 1, 5).as("terms"))
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qvec")), Seq("query_id"))
    val got = graft.text.HybridRetrieval
      .rrfTopK(cat.documents, emb, queries, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    // reference: standalone channels, ranks and fusion recomputed here
    val lex = graft.text.Bm25
      .knnJoin(cat.documents, queries.select("query_id", "terms"), 20,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(t => (-t._3, t._2)).zipWithIndex
          .map { case ((_, doc, _), i) => (q, doc) -> (i + 1L) } }.toMap
    val sem = graft.vector.Ann
      .knnJoin(emb.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")), emb, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .map(t => (t._1, t._2) -> t._3).toMap
    val fusedRef = (lex.keySet ++ sem.keySet).map { case (q, doc) =>
      val rl = lex.getOrElse((q, doc), 0L)
      val rs = sem.getOrElse((q, doc), 0L)
      val rrf = (if (rl > 0) 1.0 / (60 + rl) else 0.0) +
        (if (rs > 0) 1.0 / (60 + rs) else 0.0)
      (q, doc, BigDecimal(rrf)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, rl, rs)
    }.groupBy(_._1).flatMap { case (_, rows) =>
      rows.toSeq.sortBy(t => (-t._3, t._2)).take(10) }.toSet
    assert(got.toSet == fusedRef,
      s"missing=${fusedRef -- got.toSet} extra=${got.toSet -- fusedRef}")
    assert(got.forall { case (q, doc, _, _, _) => q != doc },
      "retrieval must not return the query doc")
    // the fusion property RRF exists for: a both-channel candidate
    // outranks a single-channel candidate of equal channel rank
    assert(got.nonEmpty && got.exists { case (_, _, _, rl, rs) =>
      rl > 0 && rs > 0 }, "fixture should fuse at least one candidate")
  }

  test("phash near-dup: banded pairs equal the all-pairs reference (pigeonhole-exact); resize twins found") {
    val media = MediaPipeline.toMediaTable(
      cat.documents.filter(col("doc_id") < 200))
    val hashes = MediaPipeline.perceptualHashes(media)
      .withColumn("variant", lit("orig"))
      .unionByName(MediaPipeline
        .perceptualHashes(MediaPipeline.resizedMedia(media, 16, 16))
        .withColumn("variant", lit("rs16")))
      .select("doc_id", "variant", "phash")
      .localCheckpoint(true)
    val got = MediaPipeline.phashNearDupPairs(hashes, maxHamming = 7)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    // driver-side all-pairs reference over the same hashes
    val rows = hashes.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val ref = (for {
      a @ (ad, av, ah) <- rows
      b @ (bd, bv, bh) <- rows
      if ad < bd || (ad == bd && av < bv)
      h = java.lang.Long.bitCount(ah ^ bh).toLong
      if h <= 7
    } yield (ad, av, bd, bv, h)).toSet
    assert(got == ref, s"missing=${ref -- got} extra=${got -- ref}")
    // the designed signal: a doc's original and its 16×16 re-encode
    // hash within the near-dup radius
    assert(got.exists { case (i, iv, j, jv, _) =>
      i == j && iv == "orig" && jv == "rs16" },
      "no same-doc resize twin found within Hamming 7")
    // dHash sensitivity floor: identical pixels hash identically
    val img = MediaPipeline.decodeImage(
      MediaPipeline.encodePng(MediaPipeline.resizeImage(
        MediaPipeline.decodeImage(MediaPipeline.encodePng(
          new java.awt.image.BufferedImage(
            12, 10, java.awt.image.BufferedImage.TYPE_INT_RGB))), 9, 8)))
    assert(MediaPipeline.dHash64(img) == MediaPipeline.dHash64(img))
    // the engine-facade composition: a single-variant hash table (no
    // `variant` column — perceptualHashes' direct output) is accepted
    // as-is, equal to the same table explicitly tagged one-variant
    val plain = MediaPipeline.perceptualHashes(media)
    val viaDefault = MediaPipeline.phashNearDupPairs(plain, maxHamming = 7)
      .select("i_doc", "j_doc", "hamming").collect().toSet
    val viaTag = MediaPipeline.phashNearDupPairs(
        plain.withColumn("variant", lit("orig")), maxHamming = 7)
      .select("i_doc", "j_doc", "hamming").collect().toSet
    assert(viaDefault == viaTag)
  }

  test("X93 channel artifacts are keyed on X93Plan, stamps unchanged from the recorded values") {
    // the near-dup, n-gram and corpus-pair tables the X93 manifest
    // reads: a changed plan default re-keys them with the manifest,
    // and today's keys are the ones the stored artifacts carry
    assert(Extras.crossNearDupsKey == "xnd:v3:3:64:16:0.5")
    assert(Extras.contaminationKey == "contamination:v1:5")
    assert(Extras.vpairsKey == "vpairs:v3:3:64:16:0.8:4096")
  }

  test("manifest stamp key derives from the builders' actual defaults, unchanged from the recorded value") {
    // the key is rebuilt from the CurationPlan defaults + the
    // MinHashConfig objects each run — this pin records the CURRENT
    // rendering so an accidental format change (which would silently
    // orphan every persisted manifest and force rebuilds) fails loud,
    // while a deliberate default change re-keys automatically and the
    // pin's failure message documents that the stored artifacts WILL
    // rebuild under the new key
    val c = graft.text.MinHashConfig()
    val d = graft.text.MinHashConfig(threshold = 0.5)
    def cfg(x: graft.text.MinHashConfig): String =
      s"t${x.threshold}s${x.shingleSize}b${x.bands}h${x.numHashes}c${x.maxBucket}"
    assert(Extras.manifestParamsKey ==
      s"mv1:n5:ng0.2:cos0.35:dedup${cfg(c)}:decon${cfg(d)}" +
        ":ppl3:mixlang0.5:seed42:minid0:span-:qm-:norm0",
      s"stamp key changed — persisted manifests re-key and rebuild once: ${Extras.manifestParamsKey}")
    // the full stored-manifest stamp keys, literal as recorded before
    // the plan value rendered them: versions, the span-cut window and
    // every stage parameter (a changed plan default fails here)
    assert(Extras.X93Plan.stampKey ==
      "manifest_v1:1:sig3:mv1:n5:ng0.2:cos0.35:dedupt0.8s3b16h64c4096" +
        ":decont0.5s3b16h64c4096:ppl3:mixlang0.5:seed42:minid0:span-:qm-:norm0",
      s"manifest_v1 stamp changed: ${Extras.X93Plan.stampKey}")
    assert(Extras.X121Plan.stampKey ==
      "manifest_v2:1:sub1:sig3:w10:mv1:n5:ng0.2:cos0.35:dedupt0.8s3b16h64c4096" +
        ":decont0.5s3b16h64c4096:ppl3:mixlang0.5:seed42:minid0:span-:qm-:norm0",
      s"manifest_v2 stamp changed: ${Extras.X121Plan.stampKey}")
  }
}
