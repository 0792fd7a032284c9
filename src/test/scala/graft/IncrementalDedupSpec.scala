package graft

import org.apache.spark.sql.functions._

import graft.ops.Catalog
import graft.text.MinHashDedup

/** Incremental (append-only) dedup must agree with batch dedup: a new
  * batch admitted against the existing corpus's signature table keeps
  * exactly the documents that a full batch dedup of the whole corpus
  * would keep among the new ids.
  */
class IncrementalDedupSpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf01)

  test("incremental admit equals batch dedup restricted to the new batch") {
    val cut = 400L
    val existing = cat.documents.filter(col("doc_id") < cut)
    val newDocs = cat.documents.filter(col("doc_id") >= cut)
    val sigs = MinHashDedup.signatures(existing)
    val inc = MinHashDedup.incrementalDedupWinners(newDocs, existing, sigs)
      .collect().map(_.getLong(0)).toSet
    val batch = MinHashDedup.dedupWinners(cat.documents)
      .collect().map(_.getLong(0)).toSet
    assert(inc == batch.filter(_ >= cut),
      s"incremental=${inc.size} batch-new=${batch.count(_ >= cut)}")
    // some near-duplicates must straddle the cut for this to be a real test
    val all = cat.documents.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc.size < (all -- batch).size + inc.size + 1) // sanity, non-vacuous sets
    assert(newDocs.count() > 0 && inc.nonEmpty)
  }

  test("incremental admit from a persisted banded index equals the from-signatures path") {
    val cut = 400L
    val existing = cat.documents.filter(col("doc_id") < cut)
    val newDocs = cat.documents.filter(col("doc_id") >= cut)
    val sigDir = java.nio.file.Files.createTempDirectory("graft_inc_sig").toString
    val bandDir = java.nio.file.Files.createTempDirectory("graft_inc_band").toString
    MinHashDedup.writeSignatures(existing, sigDir)
    val sigs = MinHashDedup.readSignatures(spark, sigDir)
    MinHashDedup.writeBandedIndex(sigs, bandDir)
    val viaSigs = MinHashDedup.incrementalDedupWinners(newDocs, existing, sigs)
      .collect().map(_.getLong(0)).toSeq
    val viaBanded = MinHashDedup.incrementalDedupWinnersFromBanded(
      newDocs, existing, MinHashDedup.readBandedIndex(spark, bandDir))
      .collect().map(_.getLong(0)).toSeq
    assert(viaBanded == viaSigs)
  }

  test("incremental dedup with an empty existing corpus equals batch dedup of the new docs") {
    val empty = cat.documents.filter(col("doc_id") < 0)
    val sigs = MinHashDedup.signatures(empty)
    val inc = MinHashDedup.incrementalDedupWinners(cat.documents, empty, sigs)
      .collect().map(_.getLong(0)).toSeq
    val batch = MinHashDedup.dedupWinners(cat.documents)
      .collect().map(_.getLong(0)).toSeq
    assert(inc == batch)
  }

  /** Distinct base-hash count per doc from the native dispatch
    * ([[graft.functions.ShingleHash.hashDoc]], the universe the
    * signing kernel minimizes over).
    */
  private def nativeUniverse(
      docs: org.apache.spark.sql.DataFrame, n: Int, charK: Int, runLevel: Boolean): Map[Long, Int] =
    docs.select("doc_id", "text").collect().map(r => r.getLong(0) ->
      graft.functions.ShingleHash.hashDoc(r.getString(1), n, charK, runLevel).length).toMap

  test("ShingleHash shingle universe matches TextAnalysis.shingles on every document") {
    import spark.implicits._
    // the signature pass (ShingleHash, JVM tokenizer) and the exact
    // verification pass (TextAnalysis.shingles, Spark tokenizer) must
    // agree on the shingle COUNT per document, or LSH candidates and
    // exact Jaccard silently diverge
    val adversarial = Seq(
      (9001L, "a  b   c d"), (9002L, "  leading and trailing  "),
      (9003L, ""), (9004L, "one two"), (9005L, "x y z")).toDF("doc_id", "text")
    val docs = cat.documents.select("doc_id", "text").unionByName(adversarial)
    val viaNative = nativeUniverse(docs, 3, 0, runLevel = false)
    val viaSpark = docs.select(col("doc_id"),
      size(array_distinct(graft.text.TextAnalysis.shingles(col("text"), 3))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaNative == viaSpark)
  }

  test("charK fallback: spaceless near-dups invisible to word shingling are caught; word path untouched") {
    import spark.implicits._
    // deterministic CJK-style texts: 100 code points from the CJK
    // Unified Ideographs block, no spaces — word shingling sees ONE
    // token per doc, so the default config cannot even nominate the
    // planted pair. 11 = 10 with one mid-string char edit (char-5-gram
    // Jaccard ≈ 0.90 ≥ 0.8); 12 is an unrelated spaceless doc; 20/21
    // are a WORDY near-dup pair the fallback must not disturb.
    def cjk(seed: Int, n: Int): String = {
      val rng = new scala.util.Random(seed)
      (1 to n).map(_ => (0x4e00 + rng.nextInt(2000)).toChar).mkString
    }
    val base = cjk(7, 100)
    val variant = base.updated(50, '龠')
    val wordy = (1 to 40).map(i => s"w$i").mkString(" ")
    val wordyVar = ((1 to 40).map(i => s"w$i") :+ "tail").mkString(" ")
    val docs = Seq(
      10L -> base, 11L -> variant, 12L -> cjk(99, 100),
      20L -> wordy, 21L -> wordyVar).toDF("doc_id", "text")
    val ck = graft.text.MinHashConfig(charK = 5)
    def pairs(cfg: graft.text.MinHashConfig): Set[(Long, Long)] =
      MinHashDedup.verifiedPairs(docs, cfg)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDefault = pairs(graft.text.MinHashConfig())
    val viaCharK = pairs(ck)
    assert(!viaDefault.contains((10L, 11L)),
      s"word shingling must MISS the spaceless pair (the gap charK closes): $viaDefault")
    assert(viaCharK.contains((10L, 11L)),
      s"charK=5 must catch the spaceless pair: $viaCharK")
    assert(!viaCharK.exists(p => p._1 == 12L || p._2 == 12L),
      s"unrelated spaceless doc must not pair: $viaCharK")
    assert(viaDefault.contains((20L, 21L)) && viaCharK.contains((20L, 21L)),
      s"the wordy pair is found under BOTH configs: $viaDefault / $viaCharK")
    // winners under charK: 11 loses to min-id 10, 21 to 20
    val winners = MinHashDedup.dedupWinners(docs, ck)
      .collect().map(_.getLong(0)).toSet
    assert(winners == Set(10L, 12L, 20L),
      s"winners under charK: $winners")
  }

  test("charK guard: short pure-ASCII docs (URLs) stay word-shingled — never char-gram near-dups") {
    import spark.implicits._
    // two URLs differing in one trailing char share char-5-gram
    // Jaccard ≈ 0.97 — before the majority-non-ASCII guard covered the
    // ntok<n disjunct they verified as near-dups under charK>0 and one
    // was DROPPED by dedup winners (real data loss: distinct pages).
    // The guard keeps them on word semantics (1 token < n → invisible,
    // both kept), without disturbing the genuinely spaceless pair.
    val u1 = "https://example.com/articles/2026/08/16/long-shared-slug-here?id=1"
    val u2 = "https://example.com/articles/2026/08/16/long-shared-slug-here?id=2"
    val b64a = "aGVsbG8gd29ybGQgdGhpcyBpcyBhIGxvbmcgYmFzZTY0IGJsb2IgMDAwMDAwMDAx"
    val b64b = "aGVsbG8gd29ybGQgdGhpcyBpcyBhIGxvbmcgYmFzZTY0IGJsb2IgMDAwMDAwMDAy"
    val tb = thai(3, 100)
    val docs = Seq(
      10L -> u1, 11L -> u2, 12L -> b64a, 13L -> b64b,
      30L -> tb, 31L -> tb.updated(50, '๛')).toDF("doc_id", "text")
    val ck = graft.text.MinHashConfig(charK = 5)
    val pairs = MinHashDedup.verifiedPairs(docs, ck)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((30L, 31L)),
      s"only the Thai spaceless pair may verify — ASCII URLs/base64 must stay invisible: $pairs")
    val winners = MinHashDedup.dedupWinners(docs, ck)
      .collect().map(_.getLong(0)).toSet
    assert(winners == Set(10L, 11L, 12L, 13L, 30L),
      s"every ASCII doc kept, Thai variant deduped: $winners")
    // dispatch parity on exactly these shapes: Column, native, and the
    // X124 SQL arithmetic all say ASCII→word, Thai→char
    val disp = docs.select(col("doc_id"),
      graft.text.TextAnalysis.spaceless(col("text"), 3).as("d"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(disp == Map(10L -> false, 11L -> false, 12L -> false,
      13L -> false, 30L -> true, 31L -> true), s"dispatch: $disp")
  }

  test("ShingleHash charK universe matches shinglesAuto on adversarial docs (incl. surrogate pairs)") {
    import spark.implicits._
    // the native dispatch + code-point k-grams and the Column twin
    // (spaceless → charShingles via substr, else word shingles) must
    // agree on the DISTINCT shingle count per doc — including astral
    // chars, where UTF-16 charAt windows would diverge from the
    // code-point windows substr/DuckDB substring use
    val astral = "𝔘" // 𝔘 U+1D518, one code point, two chars
    val docs = Seq(
      (1L, "short"), (2L, ""), (3L, "one two three four five six"),
      (4L, (0x4e00 to 0x4e60).map(_.toChar).mkString),
      (5L, astral * 8 + "abc" + astral * 3),
      (6L, "ab cd"), (7L, "a b c d e f g h i j k l m n o p q r"),
      // wordy but LONG tokens (avg ≥ 16): dispatches to char grams
      (8L, Seq.fill(6)((0x4e00 to 0x4e20).map(_.toChar).mkString).mkString(" ")))
      .toDF("doc_id", "text")
    val viaNative = nativeUniverse(docs, 3, 5, runLevel = false)
    val viaSpark = docs.select(col("doc_id"),
      size(array_distinct(
        graft.text.TextAnalysis.shinglesAuto(col("text"), 3, 5))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaNative == viaSpark, s"native=$viaNative spark=$viaSpark")
    // the astral doc really went through the char path with code-point
    // windows: 11 code points → 7 distinct 5-gram windows at most
    assert(viaNative(5L) > 0 && viaNative(5L) <= 7, s"astral windows: ${viaNative(5L)}")
  }

  test("runLevel: an embedded spaceless quote pairs with its standalone doc; doc-level misses it") {
    import spark.implicits._
    // the canonical mixed-script miss: doc 10 is a standalone Thai
    // quote (doc-level spaceless → char grams); doc 20 embeds the SAME
    // quote in a short English wrapper (doc-level → word path, the
    // quote is ONE opaque token) — under doc-level charK the two sign
    // at different granularities and can never meet. Run-level
    // char-grams doc 20's run too, so the pair verifies. Controls:
    // 30/31 a wordy near-dup pair (both configs find it), 40 an
    // unrelated mixed doc (its own Thai run must not pair).
    // doc 20 must be ASCII-MAJORITY (else the doc-level dispatch
    // already char-grams the whole doc and the pair is found): 24
    // wrapper words ≈ 170 ASCII chars around a 120-cp quote. Under
    // run-level its shingle set = 22 word shingles + 116 run grams;
    // doc 10 contributes the same 116 grams → Jaccard ≈ 0.84 ≥ 0.8.
    val quote = thai(11, 120)
    val intro = (1 to 12).map(i => s"intro$i").mkString(" ")
    val outro = (1 to 12).map(i => s"outro$i").mkString(" ")
    val wordy = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      10L -> quote,
      20L -> s"$intro $quote $outro",
      30L -> wordy,
      31L -> ((1 to 40).map(i => s"w$i") :+ "tail").mkString(" "),
      40L -> s"$intro ${thai(99, 120)} $outro").toDF("doc_id", "text")
    val docLevel = graft.text.MinHashConfig(charK = 5)
    val runLevel = graft.text.MinHashConfig(charK = 5, runLevel = true)
    def pairs(cfg: graft.text.MinHashConfig): Set[(Long, Long)] =
      MinHashDedup.verifiedPairs(docs, cfg)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDoc = pairs(docLevel)
    val viaRun = pairs(runLevel)
    assert(!viaDoc.contains((10L, 20L)),
      s"doc-level must MISS the embedded quote (the gap runLevel closes): $viaDoc")
    assert(viaRun.contains((10L, 20L)),
      s"run-level must catch the embedded quote: $viaRun")
    assert(viaDoc.contains((30L, 31L)) && viaRun.contains((30L, 31L)),
      s"the wordy pair is found under BOTH configs: $viaDoc / $viaRun")
    assert(!viaRun.exists(p => p._1 == 40L || p._2 == 40L),
      s"unrelated mixed doc must not pair: $viaRun")
  }

  test("ShingleHash runLevel universe matches shinglesAuto runLevel on mixed/adversarial docs") {
    import spark.implicits._
    val astral = "𝔘"
    val wrap = (1 to 14).map(i => s"wrapper$i").mkString(" ")  // ~130 ASCII chars
    val docs = Seq(
      (1L, "plain ascii words only here"),
      (2L, s"$wrap ${thai(1, 50)} $wrap"),                   // one run, ASCII majority
      (3L, s"$wrap ${thai(2, 20)} mid ${thai(3, 30)} $wrap"), // two runs
      (4L, thai(4, 80)),                                     // homogeneous → doc-level char path
      (5L, s"$wrap ${thai(5, 15)}"),                         // run BELOW 16 cp → word only
      (6L, s"$wrap $astral${astral}b ${thai(6, 17)}"),       // astral short run + long run
      (7L, ""), (8L, "one two")).toDF("doc_id", "text")
    val viaNative = nativeUniverse(docs, 3, 5, runLevel = true)
    val viaSpark = docs.select(col("doc_id"),
      size(array_distinct(
        graft.text.TextAnalysis.shinglesAuto(col("text"), 3, 5, runLevel = true))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaNative == viaSpark, s"native=$viaNative spark=$viaSpark")
    // doc 2 really contributed run grams on TOP of its word shingles
    val wordOnly = docs.select(col("doc_id"),
      size(array_distinct(
        graft.text.TextAnalysis.shingles(col("text"), 3))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaNative(2L) > wordOnly(2L) + 40,
      s"doc 2 must add ~46 run grams: run-level ${viaNative(2L)} vs word ${wordOnly(2L)}")
    // doc 5's 15-cp run is below the run threshold: word path only —
    // the same universe the plain word shingling sees
    assert(viaNative(5L) == wordOnly(5L),
      s"doc 5 short-run universe: ${viaNative(5L)} vs ${wordOnly(5L)}")
  }

  test("ShingleHash codegen path equals interpreted eval on every dispatch shape") {
    import spark.implicits._
    // signDoc is a static call from generated code (the CodePointUnits
    // idiom) — CODEGEN_ONLY exercises doGenCode, NO_CODEGEN the
    // interpreted nullSafeEval; the signatures must be identical
    // across word, doc-level char, run-level and degenerate shapes
    // (a doc with no shingles signs null on both paths)
    val wrap = (1 to 14).map(i => s"wrapper$i").mkString(" ")
    val docs = Seq(
      (1L, "plain ascii words only here today"),
      (2L, thai(1, 80)),
      (3L, s"$wrap ${thai(2, 40)} $wrap"),
      (4L, ""), (5L, "https://example.com/short?x=1")).toDF("doc_id", "text")
    def universes(mode: String): Map[Long, Seq[Long]] = {
      val before = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try docs.select(col("doc_id"),
          org.apache.spark.sql.GraftColumnBridge.column(
            graft.functions.ShingleHash(
              org.apache.spark.sql.GraftColumnBridge.expression(col("text")),
              3, 5, runLevel = true, numHashes = 64)).as("h"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).getOrElse(Seq.empty)).toMap
      finally spark.conf.set("spark.sql.codegen.factoryMode", before)
    }
    val gen = universes("CODEGEN_ONLY")
    val interp = universes("NO_CODEGEN")
    assert(gen == interp, s"codegen ≠ interpreted: ${gen.keys.filter(k => gen(k) != interp(k))}")
    assert(gen(2L).nonEmpty && gen(3L).nonEmpty && gen(4L).isEmpty)
  }

  test("readSignatures and banded readers refuse a runLevel mismatch; legacy tables are doc-level") {
    val rl = graft.text.MinHashConfig(charK = 5, runLevel = true)
    val dl = graft.text.MinHashConfig(charK = 5)
    val path = java.nio.file.Files.createTempDirectory("graft_sig_rl").toString
    MinHashDedup.writeSignatures(cat.documents, path, rl)
    assert(MinHashDedup.readSignatures(spark, path, rl).count() > 0)
    val e1 = intercept[IllegalArgumentException] {
      MinHashDedup.readSignatures(spark, path, dl)
    }
    assert(e1.getMessage.contains("runLevel"), e1.getMessage)
    // legacy (pre-column) tables can only have been built doc-level
    val legacy = java.nio.file.Files.createTempDirectory("graft_sig_norl").toString
    spark.read.parquet(path).drop("cfg_runlevel")
      .write.mode("overwrite").parquet(legacy)
    assert(MinHashDedup.readSignatures(spark, legacy, dl).count() > 0)
    val e2 = intercept[IllegalArgumentException] {
      MinHashDedup.readSignatures(spark, legacy, rl)
    }
    assert(e2.getMessage.contains("runLevel"), e2.getMessage)
    // the banded index pins runLevel identically
    val band = java.nio.file.Files.createTempDirectory("graft_band_rl").toString
    MinHashDedup.writeBandedIndex(
      MinHashDedup.readSignatures(spark, path, rl), band, rl)
    assert(MinHashDedup.readBandedIndex(spark, band, rl).count() > 0)
    val e3 = intercept[IllegalArgumentException] {
      MinHashDedup.readBandedIndex(spark, band, dl)
    }
    assert(e3.getMessage.contains("runLevel"), e3.getMessage)
  }

  test("readSignatures refuses a charK mismatch, including legacy tables without the column") {
    val ck = graft.text.MinHashConfig(charK = 5)
    val path = java.nio.file.Files.createTempDirectory("graft_sig_chark").toString
    MinHashDedup.writeSignatures(cat.documents, path, ck)
    // same config reads back fine
    assert(MinHashDedup.readSignatures(spark, path, ck).count() > 0)
    // a word-only run must refuse the charK table and vice versa
    val e1 = intercept[IllegalArgumentException] {
      MinHashDedup.readSignatures(spark, path)
    }
    assert(e1.getMessage.contains("charK"), e1.getMessage)
    // legacy table (written before the column existed) can only have
    // been built word-only: accept charK=0, refuse charK>0
    val legacy = java.nio.file.Files.createTempDirectory("graft_sig_nock").toString
    spark.read.parquet(path).drop("cfg_chark")
      .write.mode("overwrite").parquet(legacy)
    val e2 = intercept[IllegalArgumentException] {
      MinHashDedup.readSignatures(spark, legacy, ck)
    }
    assert(e2.getMessage.contains("charK"), e2.getMessage)
    assert(MinHashDedup.readSignatures(spark, legacy).count() > 0)
    // the BANDED index pins charK the same way — a word-only index
    // under a charK run signed spaceless docs with zero shingles, so
    // its buckets can never nominate the pairs the fallback catches,
    // and the one-doc provenance probe cannot see it
    val bandDir = java.nio.file.Files.createTempDirectory("graft_band_chark").toString
    MinHashDedup.writeBandedIndex(
      MinHashDedup.signatures(cat.documents, ck), bandDir, ck)
    assert(MinHashDedup.readBandedIndex(spark, bandDir, ck).count() > 0)
    val e3 = intercept[IllegalArgumentException] {
      MinHashDedup.readBandedIndex(spark, bandDir)
    }
    assert(e3.getMessage.contains("charK"), e3.getMessage)
    // legacy banded index (no cfg_chark column): word-only reads pass,
    // charK runs are refused
    val bandLegacy = java.nio.file.Files.createTempDirectory("graft_band_nock").toString
    spark.read.parquet(bandDir).drop("cfg_chark")
      .write.mode("overwrite").parquet(bandLegacy)
    val e4 = intercept[IllegalArgumentException] {
      MinHashDedup.readBandedIndex(spark, bandLegacy, ck)
    }
    assert(e4.getMessage.contains("charK"), e4.getMessage)
    assert(MinHashDedup.readBandedIndex(spark, bandLegacy).count() > 0)
  }

  test("readSignatures refuses tables without a matching scheme version") {
    val path = java.nio.file.Files.createTempDirectory("graft_sig_ver").toString
    MinHashDedup.writeSignatures(cat.documents, path)
    assert(MinHashDedup.readSignatures(spark, path).count() == cat.documents.count())
    // unversioned (pre-scheme-change) table must be rejected loudly
    val legacy = java.nio.file.Files.createTempDirectory("graft_sig_legacy").toString
    MinHashDedup.signatures(cat.documents).write.mode("overwrite").parquet(legacy)
    intercept[IllegalArgumentException] {
      MinHashDedup.readSignatures(spark, legacy)
    }
  }

  test("persisted banded index: dedup from it equals direct; mismatches refused") {
    val sigDir = java.nio.file.Files.createTempDirectory("graft_banded_sig").toString
    val bandDir = java.nio.file.Files.createTempDirectory("graft_banded_idx").toString
    MinHashDedup.writeSignatures(cat.documents, sigDir)
    val sigs = MinHashDedup.readSignatures(spark, sigDir)
    MinHashDedup.writeBandedIndex(sigs, bandDir)
    val banded = MinHashDedup.readBandedIndex(spark, bandDir)
    // repeat-run entry (no shingle/sign/band pass) ≡ the direct pipeline
    val direct = MinHashDedup.dedupWinners(cat.documents)
      .collect().map(_.getLong(0)).toSeq
    val viaBanded = MinHashDedup.dedupWinnersFromBanded(cat.documents, banded)
      .collect().map(_.getLong(0)).toSeq
    assert(viaBanded == direct)
    // a config mismatch (different banding) must be refused loudly — the
    // band hashes would simply never collide where they should
    val other = graft.text.MinHashConfig(bands = 32)
    val e = intercept[IllegalArgumentException] {
      MinHashDedup.readBandedIndex(spark, bandDir, other)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // an unversioned table (pre-scheme build) must be refused too
    val legacy = java.nio.file.Files.createTempDirectory("graft_banded_legacy").toString
    banded.write.mode("overwrite").parquet(legacy)
    intercept[IllegalArgumentException] {
      MinHashDedup.readBandedIndex(spark, legacy)
    }
  }

  test("duplicate clusters equal driver-side union-find (incl. a transitive chain)") {
    import spark.implicits._
    // synthetic chain 1-2, 2-3 plus separate pair 10-11: clusters must
    // collapse transitively
    val chain = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val got = MinHashDedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // real pairs at sf0.01: compare against union-find on the same edges
    val pairs = MinHashDedup.verifiedPairs(cat.documents)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val want = TestGraphs.unionFind(pairs.toSeq)
    val gotReal = MinHashDedup.duplicateClusters(
      MinHashDedup.verifiedPairs(cat.documents))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotReal == want)
  }
}
