package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_distinct, array_intersect, array_join, asc, ascii, broadcast, coalesce, col, concat, count, desc, element_at, exp, explode, greatest, length, lit, max, md5, min, octet_length, regexp_replace, round, size, slice, substring, sum, transform, typedLit, upper, when}

import graft.core.Engine
import graft.functions.ZOrderValue
import graft.media.MediaPipeline
import graft.ops.{Catalog, Profile, Scale}
import graft.text.{MinHashDedup, SimHash, TextAnalysis}
import graft.vector.Ann

/** Operators beyond the 55-query contract: the LLM-pipeline surface
  * (dedup, similarity search, text analysis, multimodal plumbing)
  * mandated by BASELINE.json's north star.
  *
  * Nearly every extra is oracle-checked (137 of 140 driver queries): either
  * directly DuckDB-expressible, or — for the index-backed paths
  * X11/X14/X15/X16/X29/X38/X60/X61 — checked against the MIRRORED
  * persisted artifact parquet: the signature/centroid generation is
  * engine-specific (xxhash64 / non-canonical float sums), but the
  * bucket self-join, exact-Jaccard verify, winner/cluster algebra and
  * centroid probe downstream of the persisted files are plain SQL.
  * Since r8 the media stats (X10, X25–X27), the BPE token frequencies
  * (X59) and the compression signal (X69) join that family: the
  * engine-specific pass (decode / encode / native deflate) runs once
  * into mirrored parquet and the declared queries are the
  * exact-integer relational downstreams. The remaining rows-only
  * queries (X37, X57–X58) are inherently un-oracle-checkable — sketch
  * unions, iterative BPE training — and are pinned by property tests
  * instead (recall vs
  * exact, fingerprint stability, probe-all ≡ brute-force, driver-side
  * reference implementations). X65's TRAINING is in that family too,
  * but its scoring half persists the weight/feature parquet and is
  * oracle-checked downstream of those files.
  */
object Extras {

  private def q(fn: Catalog => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      Engine.configure(spark)
      fn(Catalog(spark, dir))
    }

  /** Cache key for a derived artifact: format version + algorithm
    * config + directory + file size + mtime, folded through a 64-bit
    * digest — a regenerated corpus, changed algorithm parameters, or a
    * colliding path string never reuses a stale artifact.
    */
  private def stamp(dir: String, table: String, config: String): String = {
    val f = new java.io.File(dir, s"$table.parquet")
    val s = s"v2:$config:$dir:${f.length}:${f.lastModified}"
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  /** Name prefix of every persisted per-corpus artifact under
    * java.io.tmpdir, and the name of the stable-mirror root beside them
    * — the one place artifact naming lives (Bench's build witness reads
    * both).
    */
  private[graft] val ArtifactPrefix = "graft_"
  private[graft] val OracleIdxDir = ArtifactPrefix + "oracle_idx"

  /** Root of the STABLE-path mirrors of the per-corpus index artifacts.
    * The DuckDB oracle SQL is static text, so it cannot chase the
    * stamped cache directories — index-backed queries mirror their
    * artifact here (one fixed name per artifact kind) and the oracle
    * reads these files with `read_parquet`. The mirror carries the same
    * content stamp as its source and is refreshed whenever the stamp
    * changes, so an oracle run always sees the artifact of the corpus
    * the queries just ran on (the driver runs Verify, THEN DuckDB).
    */
  private val oracleIdxRoot =
    new java.io.File(sys.props("java.io.tmpdir"), OracleIdxDir).toString

  /** Mirror a (small, local) artifact directory to the stable oracle
    * path `oracleIdxRoot/name`, skipping the copy when the stamp marker
    * already matches. Plain recursive file copy: layout (including
    * partition directories) is preserved exactly.
    *
    * Refresh is STAGED + renamed: the tree is copied to a sibling temp
    * dir (marker written last) and swapped in with two renames, so a
    * concurrent reader never observes a half-copied mirror. The fixed
    * name is last-writer-wins by design — the oracle SQL is static text
    * per the driver contract (it cannot chase stamped paths), and the
    * supported flow is sequential: Verify writes the mirror, THEN
    * DuckDB reads it. Interleaving Verify runs for DIFFERENT corpora
    * with one deferred oracle pass is outside the contract.
    *
    * `precondition` runs once per refresh (never on a fresh-stamp hit)
    * BEFORE the mirror becomes visible — index-backed oracles use it to
    * fail loudly when the corpus violates an assumption baked into
    * their static SQL, instead of silently diverging.
    */
  private def mirrorStable(
      src: String,
      name: String,
      stampValue: String,
      precondition: () => Unit): String = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    val dst = Paths.get(oracleIdxRoot, name)
    val marker = dst.resolve("_GRAFT_STAMP")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == stampValue
    if (!fresh) {
      precondition()
      def rmTree(p: Path): Unit = if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
      }
      Files.createDirectories(dst.getParent)
      // sweep debris of earlier failed refreshes (a crash between the
      // two moves or mid-copy leaves .stage/.old trees behind)
      Files.list(dst.getParent).forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(s".$name-stage") || n.startsWith(s".$name-old-")) rmTree(p)
      }
      val stage = Files.createTempDirectory(dst.getParent, s".$name-stage")
      try {
        val srcPath = Paths.get(src)
        Files.walk(srcPath).forEach { p =>
          val rel = stage.resolve(srcPath.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(rel)
          else {
            Files.createDirectories(rel.getParent)
            Files.copy(p, rel, StandardCopyOption.REPLACE_EXISTING)
          }
        }
        Files.write(stage.resolve("_GRAFT_STAMP"), stampValue.getBytes("UTF-8"))
        val old = dst.resolveSibling(s".$name-old-${System.nanoTime}")
        if (Files.exists(dst)) Files.move(dst, old)
        Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
        rmTree(old)
      } catch {
        case t: Throwable => rmTree(stage); throw t
      }
    }
    dst.toString
  }

  /** The one protocol of every persisted per-corpus artifact (the
    * production shape: an index or heavy report is built once per
    * corpus and read by every later query):
    *  - it lives at `java.io.tmpdir/graft_<prefix>_<stamp>`, the stamp
    *    folding `key` with the identity of the corpus `table` file —
    *    `key` must carry a format version plus every parameter the
    *    build depends on, so neither a regenerated corpus nor a changed
    *    call site ever reuses a stale artifact;
    *  - `build` writes it there only when one of its completion
    *    `markers` (paths under the directory) is missing;
    *  - `read` opens it; a refusal (a corrupt or half-written directory,
    *    a store of another scheme) rebuilds exactly once — this is a
    *    cache, never a reason to fail the query;
    *  - a non-empty `mirror` refreshes the stable oracle copy
    *    ([[mirrorStable]]) under `mirrorStamp(stamp)`, running
    *    `precondition` over the read artifact only on a refresh.
    * Index-directory artifacts pass `identity` and get the directory.
    */
  private[graft] def artifact[A](
      c: Catalog, prefix: String, key: String, read: String => A,
      table: String = "documents",
      markers: Seq[String] = Seq("_SUCCESS"),
      mirror: String = "",
      mirrorStamp: String => String = identity,
      precondition: A => Unit = (_: A) => ())(build: String => Unit): A = {
    val st = stamp(c.dir, table, key)
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"$ArtifactPrefix${prefix}_$st").toString
    if (!markers.forall(m => new java.io.File(dir, m).exists())) build(dir)
    val a =
      try read(dir)
      catch {
        case scala.util.control.NonFatal(_) => build(dir); read(dir)
      }
    if (mirror.nonEmpty)
      mirrorStable(dir, mirror, mirrorStamp(st), () => precondition(a))
    a
  }

  /** Per-corpus persisted MinHash signature table (written once to the
    * JVM temp dir, keyed by the corpus content stamp; signatures are a
    * pure function of the corpus so reuse is sound). Shared by X15 +
    * X16 — the expensive shingle+sign pass is paid a single time.
    */
  private def sigTable(c: Catalog): DataFrame = {
    val cfg = graft.text.MinHashConfig()
    // the signature-scheme version is part of the key, so a scheme bump
    // can never even SEE an old-format table; readSignatures refusing
    // anyway (corrupt/partial artifact) rebuilds it
    artifact(c, "minhash_sigs",
      s"mh:v${MinHashDedup.SignatureVersion}:${cfg.shingleSize}:${cfg.numHashes}:${cfg.bands}",
      MinHashDedup.readSignatures(c.spark, _))(
      MinHashDedup.writeSignatures(c.documents, _))
  }

  /** Per-corpus persisted banded member table (id, sigh, band, bucket)
    * over the documents `sigs` signs under `cfg` — repeat dedup runs
    * read it straight off parquet — mirrored as `mirror` (also its
    * directory prefix) for its index-backed oracle. The key is `stampPrefix` (kind, scheme version
    * and any text-cleaning contract the documents went through) plus
    * the banding geometry, and the charK/runLevel flags when ON.
    *
    * The oracles read the SAME banded member rows the Spark path
    * consumes — the bucket self-join + exact-Jaccard verify downstream
    * is plain SQL once the index is parquet. Their static SQL
    * enumerates buckets UNCAPPED, while the Spark paths degrade
    * oversized buckets (> cfg.maxBucket) to linear star/chunk
    * candidates — so the oracle is only declared for corpora without
    * such piles; the precondition turns that assumption into a loud
    * failure instead of a silent hash mismatch, checked once per mirror
    * refresh (the banded table is 8-byte keys, metadata-cheap). The
    * MIRROR stamp extends the artifact stamp with the cap and a guard
    * version: pre-guard mirrors and cap changes must re-run the
    * precondition, not ride a stale fresh-stamp hit.
    */
  private def bandedIndex(c: Catalog, stampPrefix: String, mirror: String,
      cfg: graft.text.MinHashConfig)(sigs: => DataFrame): DataFrame =
    artifact(c, mirror,
      s"$stampPrefix:${cfg.shingleSize}:${cfg.numHashes}:${cfg.bands}" +
        (if (cfg.charK > 0) s":k${cfg.charK}" else "") +
        (if (cfg.runLevel) "r1" else ""),
      MinHashDedup.readBandedIndex(c.spark, _, cfg),
      mirror = mirror, mirrorStamp = st => s"$st:cap${cfg.maxBucket}:guard1",
      precondition = (banded: DataFrame) => {
        val over = banded.groupBy("band", "bucket").count()
          .filter(col("count") > cfg.maxBucket).count()
        require(over == 0,
          s"index-backed oracle precondition violated: $over buckets of the $mirror " +
            s"index exceed maxBucket=${cfg.maxBucket}; the capped Spark dedup and its " +
            "uncapped SQL oracle would diverge on this corpus — raise maxBucket or " +
            "demote that oracle's queries to rows-only for it")
      })(MinHashDedup.writeBandedIndex(sigs, _, cfg))

  /** The banded index of the raw corpus, behind X15/X16/X29/X38 — built
    * FROM the cached signature table so a cold cache pays the signature
    * pass once, not twice.
    */
  private def bandedTable(c: Catalog): DataFrame =
    bandedIndex(c, s"mhb:v${MinHashDedup.SignatureVersion}", "minhash_banded",
      graft.text.MinHashConfig())(sigTable(c))

  /** Per-corpus persisted stage-0 substring-clean table — the X121 v2
    * curation basis: (doc_id, n_tokens, dup_tokens, clean_text) of the
    * NON-benchmark slice under the X118/X119 window contract (w=10).
    * The v2 banded index is built over exactly this text, so both ride
    * one stamped artifact and can never drift apart.
    */
  private def cleanCorpusTable(c: Catalog): DataFrame =
    stampedArtifact(c, "subclean",
      s"subclean:v${graft.text.SubstringDedup.AlgorithmVersion}:w10") {
      graft.text.SubstringDedup.cleanCorpus(
        c.documents.filter(col("source") =!= "src0"), 10)
    }

  /** The v2 curation document view: every non-benchmark row's text
    * replaced by its stage-0 span-cleaned text; the benchmark slice
    * (source = 'src0') untouched — substring dedup transforms the
    * TRAINING corpus, never the held-out set it is gated against.
    */
  private def v2Documents(c: Catalog): DataFrame = {
    val bench = c.documents.filter(col("source") === "src0")
    graft.text.SubstringDedup
      .withCleanText(c.documents.filter(col("source") =!= "src0"),
        cleanCorpusTable(c))
      .select(bench.columns.map(col): _*)
      .unionByName(bench)
  }

  /** The banded index over the V2 documents (cleaned corpus ∪
    * benchmark), mirrored as `minhash_banded_v2` for the X121 oracle.
    * The stage-0 clean contract (substring-dedup algorithm version +
    * the w=10 window) rides the key, so a substring-dedup semantics
    * change rebuilds this index instead of reusing one built over old
    * cleaned text.
    */
  private def bandedV2Table(c: Catalog): DataFrame = {
    val cfg = graft.text.MinHashConfig()
    bandedIndex(c, s"mhbv2:v${MinHashDedup.SignatureVersion}:" +
      s"sc${graft.text.SubstringDedup.AlgorithmVersion}w10",
      "minhash_banded_v2", cfg)(MinHashDedup.signatures(v2Documents(c), cfg))
  }

  /** The X93 manifest (v1 order: verdicts on raw text, channels from
    * the persisted artifacts) — shared by X93 and X122.
    */
  private def x93Manifest(c: Catalog): DataFrame =
    graft.pipeline.TrainingSet.curationManifest(
      c.documents.filter(col("source") =!= "src0"),
      c.documents.filter(col("source") === "src0"),
      bandedTable(c),
      c.embeddings,
      nearDupPairs = Some(crossNearDupsTable(c)),
      ngramScores = Some(contaminationTable(c)),
      corpusPairs = Some(vpairsTable(c)))

  /** The X121 manifest (v2 order: substring span cut first, every
    * stage over the cleaned text, channels from scratch) — shared by
    * X121 and X122.
    */
  private def x121Manifest(c: Catalog): DataFrame =
    graft.pipeline.TrainingSet.curationManifestV2(
      c.documents.filter(col("source") =!= "src0"),
      c.documents.filter(col("source") === "src0"),
      bandedV2Table(c),
      c.embeddings)

  /** Stamp-key fragment carrying every curationManifest parameter the
    * two manifest builds run with (their defaults, spelled out — a
    * default change must never ride a stale manifest) plus the manual
    * manifest-assembly version (bump on any semantic change to the
    * stage chain itself, the signature-scheme version idiom).
    */
  private[graft] def manifestParamsKey: String = {
    // EVERY fragment derives from the values the builds actually run
    // with — the MinHash ones from the config objects they pass, the
    // scalar ones from TrainingSet.CurationDefaults (the builders'
    // actual default arguments) — so a default change anywhere re-keys
    // the store automatically instead of riding a stale literal
    def cfg(c: graft.text.MinHashConfig): String =
      s"t${c.threshold}s${c.shingleSize}b${c.bands}h${c.numHashes}c${c.maxBucket}" +
        // rendered only when ON so pre-existing stores keep their keys
        (if (c.charK > 0) s"k${c.charK}" else "") +
        (if (c.runLevel) "r1" else "")
    val D = graft.pipeline.TrainingSet.CurationDefaults
    def bit(b: Boolean): String = if (b) "1" else "0"
    s"mv1:n${D.N}:ng${D.NgramThreshold}:cos${D.CosThreshold}" +
      s":dedup${cfg(D.CorpusDedup)}" +
      s":decon${cfg(D.DeconDedup)}" +
      s":ppl${D.PplBuckets}:mix${D.MixtureStrata}${D.MixtureAlpha}" +
      s":seed${D.Seed}:minid${bit(D.MinIdDedupWinners)}" +
      s":span${D.MaxSpanTokens.map(_.toString).getOrElse("-")}" +
      s":qm${if (D.QualityModel.isEmpty) "-" else "set"}" +
      s":norm${bit(D.NormalizeFirst)}" +
      // rendered only when ON so pre-existing stores keep their keys
      (if (D.CharTokens) ":sct1" else "") +
      (if (D.RunLevel) ":srl1" else "")
  }

  /** [[x93Manifest]] from the write-once stamped store — the persisted
    * release manifest an order-impact audit reads. Keyed on every
    * version + parameter the manifest content depends on (the channel
    * artifacts it reads are themselves stamped, so their semantic
    * versions ride [[manifestParamsKey]]'s assembly version).
    */
  private def x93ManifestStored(c: Catalog): DataFrame =
    stampedArtifact(c, "manifest_v1",
      s"manifest_v1:1:sig${MinHashDedup.SignatureVersion}:$manifestParamsKey")(
      x93Manifest(c))

  /** [[x121Manifest]] from the write-once stamped store (the span cut
    * and the from-scratch channels are paid once per corpus; X121
    * itself keeps running the chain live — it certifies the first-run
    * state, this certifies the audit-over-stored-manifests state).
    */
  private def x121ManifestStored(c: Catalog): DataFrame =
    stampedArtifact(c, "manifest_v2",
      s"manifest_v2:1:sub${graft.text.SubstringDedup.AlgorithmVersion}" +
        s":sig${MinHashDedup.SignatureVersion}" +
        s":w${graft.pipeline.TrainingSet.CurationDefaults.WindowTokens}" +
        s":$manifestParamsKey")(
      x121Manifest(c))

  // ---- run-level curation fixture (X128): the X127 4-class corpus +
  // lang strata + a quote-embedding benchmark, the artifacts the
  // composed run-level release reads ----

  /** MinHash configs of the run-level release: embedded runs sign as
    * char 5-grams alongside the word remainder (X126's mechanism) in
    * BOTH the corpus near-dup stage and the decon channel.
    */
  private[graft] val RlCorpusCfg =
    graft.text.MinHashConfig(charK = 5, runLevel = true)
  private[graft] val RlDeconCfg =
    graft.text.MinHashConfig(threshold = 0.5, charK = 5, runLevel = true)

  /** The X127 fixture corpus with the mixture strata riding along:
    * originals (wordy), variants A/B embedding the same 95-cp Thai
    * quote between stretches of the original's words, and the
    * homogeneous Thai doc — each class keeping its source doc's lang.
    * Built via the typedLit block-string transliteration (Spark `chr`
    * wraps mod 256, so chr arithmetic can never build the fixture).
    */
  private def rlWithThai(c: Catalog): DataFrame = {
    val thaiAlpha = (0 until 26)
      .map(i => new String(Character.toChars(0x0e01 + i)))
    c.documents.filter(col("doc_id") < 120)
      .select(col("doc_id"), col("lang"), col("text"),
        regexp_replace(col("text"), " ", "").as("s0"))
      .filter(col("s0").rlike("^[a-z]+$") && length(col("s0")) >= 100)
      .select(col("doc_id"), col("lang"), col("text"),
        array_join(transform(
          graft.text.TextAnalysis.charUnits(substring(col("s0"), 1, 100)),
          ch => element_at(typedLit(thaiAlpha), ascii(ch) - 96)), "").as("th"))
  }

  private def rlFixture(c: Catalog): DataFrame = {
    val withThai = rlWithThai(c)
    val quote = substring(col("th"), 1, 95)
    withThai.select(col("doc_id"), col("lang"), col("text"))
      .unionByName(withThai.select((col("doc_id") + 100000L).as("doc_id"),
        col("lang"),
        concat(substring(col("text"), 1, 100), lit(" "), quote, lit(" "),
          substring(col("text"), 101, 60)).as("text")))
      .unionByName(withThai.select((col("doc_id") + 200000L).as("doc_id"),
        col("lang"),
        concat(substring(col("text"), 1, 100), lit(" "), quote, lit(" "),
          substring(col("text"), 161, 60)).as("text")))
      .unionByName(withThai.select((col("doc_id") + 300000L).as("doc_id"),
        col("lang"), col("th").as("text")))
  }

  /** The benchmark the run-level release decontaminates against: an
    * ASCII prefix of each original plus a 60-cp prefix of its Thai
    * quote — the quote-embedding contamination class that doc-level
    * shingling cannot see (the quote is ONE opaque token on the word
    * side) and run-level char grams catch.
    */
  private def rlBench(c: Catalog): DataFrame =
    rlWithThai(c).select((col("doc_id") + 400000L).as("doc_id"),
      concat(substring(col("text"), 1, 80), lit(" "),
        substring(col("th"), 1, 60)).as("text"))

  /** Persisted stage-0 run-level clean table of the fixture — the text
    * the run-level banded index must be built over (the v2 contract:
    * one text pipeline end to end).
    */
  private def rlCleanTable(c: Catalog): DataFrame =
    stampedArtifact(c, "rlclean",
      s"rlclean:v${graft.text.SubstringDedup.AlgorithmVersion}:w10") {
      graft.text.SubstringDedup.cleanCorpusRunLevel(rlFixture(c), 10)
    }

  /** The banded index over the run-level documents (cleaned fixture ∪
    * benchmark) under [[RlCorpusCfg]], mirrored as `minhash_banded_rl`
    * for the X128 oracle.
    */
  private def bandedRlTable(c: Catalog): DataFrame =
    bandedIndex(c, s"mhbrl:v${MinHashDedup.SignatureVersion}:" +
      s"sc${graft.text.SubstringDedup.AlgorithmVersion}w10",
      "minhash_banded_rl", RlCorpusCfg)(MinHashDedup.signatures(
      graft.text.SubstringDedup.withCleanText(rlFixture(c), rlCleanTable(c))
        .select("doc_id", "text")
        .unionByName(rlBench(c).select("doc_id", "text")), RlCorpusCfg))

  /** A derived report stored as one parquet table by the [[artifact]]
    * protocol (the production shape: a heavy report is computed once
    * per corpus and every downstream consumer reads the stored rows; a
    * half-written dir whose _SUCCESS survived an interleaved writer
    * rebuilds once instead of poisoning every later run).
    */
  private def stampedArtifact(c: Catalog, prefix: String, key: String)(
      build: => DataFrame): DataFrame =
    artifact(c, prefix, key, dir => c.spark.read.parquet(dir))(
      build.write.mode("overwrite").parquet(_))

  /** Per-corpus persisted cross-doc 5-gram hit lists (doc_id, ps) —
    * the exact-substring-dedup intermediate
    * ([[TextAnalysis.crossDocHitLists]]), computed once per corpus
    * stamp so the X67 coverage audit and the X68 rewrite share ONE
    * shingle shuffle instead of paying it twice. All-integer content —
    * persisting it cannot perturb either oracle. v1 guards against
    * shingle/tokenizer semantic changes (the sigTable SignatureVersion
    * idiom); n rides the stamp so a call-site order change can never
    * read a stale-order artifact.
    */
  private def hitListsTable(c: Catalog, n: Int = 5): DataFrame =
    stampedArtifact(c, "hitlists", s"hitlists:v1:$n") {
      TextAnalysis.crossDocHitLists(c.documents, n)
    }

  /** Per-corpus persisted capped n-gram PAIR-COUNTS table — the shared
    * (i, j, c, sz_i, sz_j) kernel behind the X05 Jaccard and X99
    * containment measures, computed once per (corpus, n=3, maxDf=50)
    * stamp (the verified-pairs sharing idiom, VERDICT r10 item 4): the
    * shingle self-join — the dominant cost of BOTH queries — runs one
    * time, and each measure is a filter+projection over the stored
    * integer rows. Values unchanged by persistence (the counts are a
    * pure deterministic function of the inputs; both oracles recompute
    * them from the documents table and stay green).
    */
  private def ngramPairCountsTable(c: Catalog): DataFrame =
    stampedArtifact(c, "npc", "npc:v1:n3:df50") {
      TextAnalysis.ngramPairCounts(c.documents, n = 3, maxDf = 50)
    }

  /** Per-corpus persisted benchmark n-gram contamination scores — the
    * X30 report as a stored artifact; the X30 declared query and X90's
    * verbatim channel share one corpus shingle pass.
    */
  private def contaminationTable(c: Catalog, n: Int = 5): DataFrame =
    stampedArtifact(c, "contamination", s"contamination:v1:$n") {
      TextAnalysis.contaminationScores(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"), n)
    }.orderBy("doc_id")

  /** Per-corpus persisted benchmark near-dup pairs — the X46 report as
    * a stored artifact: the banded candidate + exact-verify chain runs
    * once per corpus, and both the X46 declared query and X90's
    * near-dup channel read the same rows. Values are unchanged (the
    * read re-applies the (i, j) order the hash expects).
    */
  private def crossNearDupsTable(c: Catalog): DataFrame = {
    val cfg = graft.text.MinHashConfig(threshold = 0.5)
    stampedArtifact(c, "xnd",
      s"xnd:v${MinHashDedup.SignatureVersion}:${cfg.shingleSize}:" +
        s"${cfg.numHashes}:${cfg.bands}:${cfg.threshold}") {
      MinHashDedup.crossNearDupsFromBanded(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"),
        bandedTable(c), cfg)
    }.orderBy("i", "j")
  }

  /** Per-corpus persisted VERIFIED near-dup pair table — the central
    * artifact a production dedup run publishes (banded candidates +
    * exact-Jaccard verify, paid once per corpus stamp): the X29 star
    * clustering, X78 winner starring, X84 report and X93's curation
    * dedup stage all read the same rows instead of re-paying the
    * verify chain per query. X16 deliberately stays on the from-
    * scratch chain (label propagation over freshly verified pairs), so
    * one declared cluster query still exercises the full pipeline, and
    * X07/X15/X38 keep benching the verify chain itself. Values are
    * unchanged by persistence (the pair table is deterministic; the
    * oracles recompute it from the banded mirror and stay green).
    */
  private def vpairsTable(c: Catalog): DataFrame = {
    val cfg = graft.text.MinHashConfig()
    stampedArtifact(c, "vpairs",
      s"vpairs:v${MinHashDedup.SignatureVersion}:${cfg.shingleSize}:" +
        s"${cfg.numHashes}:${cfg.bands}:${cfg.threshold}:${cfg.maxBucket}") {
      MinHashDedup.verifiedPairsFromBanded(c.documents, bandedTable(c), cfg)
    }.orderBy("i", "j")
  }

  /** Per-corpus persisted IVF index, built once (same stamp scheme as
    * [[sigTable]]) — X14 then measures the partition-pruned PROBE its
    * name advertises, not a rebuild.
    */
  private def ivfIndexDir(c: Catalog): String =
    // the X11/X14 oracles probe the SAME persisted centroids/vectors the
    // Spark path reads (and that X11's inline centroid choice matches by
    // construction — writeIndex derives them deterministically)
    artifact(c, "ivf_index", "ivf:16", identity, table = "embeddings",
      markers = Seq("vectors/_SUCCESS"), mirror = "ivf")(
      graft.vector.Ivf.writeIndex(c.embeddings, _, nLists = 16))

  /** Per-corpus persisted k-means centroids (8 lists, 4 Lloyd
    * iterations over the hash-sampled start — [[graft.vector.Ivf
    * .refineCentroids]]), built once per corpus stamp and MIRRORED for
    * the X60/X61 oracles. Persisting matters beyond caching: float
    * summation order inside Lloyd's mean is not canonical across
    * partitionings, so the persisted file IS the clustering's identity —
    * both engines (and repeat Spark runs) read the same bytes, and
    * everything downstream (assignment argmax, profile, dedup verdict)
    * is exactly reproducible SQL over them.
    */
  private def kmeansCentroidsDir(c: Catalog): String =
    artifact(c, "kmeans", "kmeans:8:4", identity, table = "embeddings",
      mirror = "kmeans") { dir =>
      val emb = c.embeddings
      graft.vector.Ivf.refineCentroids(emb, graft.vector.Ivf.centroids(emb, 8),
        iters = 4, dim = Ann.dimOf(emb)).write.mode("overwrite").parquet(dir)
    }

  /** Per-corpus learned BPE merge table, trained once per (corpus,
    * config) and replayed from an in-JVM cache thereafter. Sound
    * because the table is a pure deterministic function of the corpus
    * (lexicographic tiebreaks) and numMerges rows small — without the
    * cache X57/X58/X59 would each re-run the iterative trainer on the
    * same corpus for byte-identical output.
    */
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, String, String, Long)]]()

  /** The X63 literal query: mid/high-df corpus words so idf spread,
    * length normalization and multi-term accumulation all exercise.
    * One definition feeds both the Spark builder and the SQL oracle.
    */
  private val bm25QueryTerms = Seq("hash", "join", "vector")

  /** Per-corpus trained quality-classifier model (hashed-BoW logistic
    * regression, target = src0 seed vs raw rest), trained once per
    * corpus stamp. Cached like [[bpeCache]]: the GD loop is
    * deterministic per JVM given the cached featurized layout, and
    * X65 must not re-run 20 training jobs per Verify invocation.
    */
  private val lrCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.text.QualityClassifier.Model]()

  private def lrModel(c: Catalog): graft.text.QualityClassifier.Model = {
    // the stamp carries EVERY training hyperparameter the call fixes
    val key = stamp(c.dir, "documents", "logreg:512:20:lr2.0:l2=1e-6")
    // dim/iters passed explicitly so the stamp string cannot drift
    // from the trainer's defaults
    lrCache.computeIfAbsent(key, _ =>
      graft.text.QualityClassifier.train(
        c.documents.filter(col("source") === "src0"),
        c.documents.filter(col("source") =!= "src0"),
        dim = 512, iters = 20))
  }

  /** Per-corpus persisted winnowing fingerprint table — the DISTINCT
    * (doc_id, f) rows of the k=12/w=4 native rolling-hash kernel,
    * mirrored for the X17 oracle (same generation-vs-downstream split
    * as the MinHash/IVF/k-means/LR artifacts).
    */
  private def winnowFpDir(c: Catalog): String =
    artifact(c, "winnow", "winnow:12:4", identity, mirror = "winnow")(
      TextAnalysis.winnowFingerprints(c.documents, k = 12, w = 4)
        .select(col("doc_id"), explode(col("fps")).as("f"))
        .distinct()
        .write.mode("overwrite").parquet(_))

  /** The ONE ordered chunk stream behind X73/X75 and X116/X117 —
    * 64/48 chunking joined to the X47 shuffle order; `keepText`
    * controls whether the chunk text column rides along (the
    * exact-packing queries slice it, the stats queries only count).
    * LAZY checkpoint: the prefix-sum machinery drives its input
    * through three jobs — without this the explode-heavy chunker
    * re-runs per job (the X81/X53 fix applied here).
    */
  private def orderedChunkStream(c: Catalog, keepText: Boolean): DataFrame = {
    val chunks = TextAnalysis.chunkDocuments(c.documents, maxTokens = 64, stride = 48)
    (if (keepText) chunks else chunks.select("doc_id", "chunk_idx", "n_tokens"))
      .join(graft.ops.Scale.shuffleOrder(
        c.documents.select("doc_id"), "doc_id"), Seq("doc_id"))
      .localCheckpoint(false)
  }

  /** The shared X73/X75 packed-chunk stream: 64/48 chunking, the X47
    * shuffle order, 256-token packs.
    */
  private def packedChunks(c: Catalog): DataFrame =
    graft.pipeline.TrainingSet.packChunks(
      orderedChunkStream(c, keepText = false), packTokens = 256L)

  /** The [[packedChunks]] stream EXACT-packed (chunk text kept — the
    * pieces carry their token slices) — shared by X116 + X117.
    */
  private def exactPieces(c: Catalog): DataFrame =
    graft.pipeline.TrainingSet.packExactChunks(
      orderedChunkStream(c, keepText = true), packTokens = 256L)

  /** Per-corpus persisted sign-LSH (hyperplane) ANN index — the
    * bucket-partitioned corpus of [[graft.vector.Ann.writeIndex]] at
    * nPlanes=8/seed=42, mirrored for the X09 oracle.
    */
  private def annIndexDir(c: Catalog): String =
    artifact(c, "annlsh", "annlsh:8:42", identity, table = "embeddings",
      markers = Seq("vectors/_SUCCESS"), mirror = "annlsh")(
      Ann.writeIndex(c.embeddings, _, nPlanes = 8, seed = 42L))

  /** Per-corpus persisted simhash token-hash table — (doc_id, h), one
    * row per token INSTANCE, mirrored for the X08 oracle (same
    * generation-vs-downstream split as the other index artifacts).
    */
  private def simhashTokDir(c: Catalog): String =
    artifact(c, "simhashtok", "simhashtok:v1", identity, mirror = "simhash_tok")(
      SimHash.tokenHashes(c.documents).write.mode("overwrite").parquet(_))

  /** Persisted perceptual-hash table for X103 (the media-artifact
    * split): dHash64 over every original payload AND its 16×16
    * resized/re-encoded twin, one row per (doc_id, variant). The
    * decode+hash pass is engine-specific (Java2D bilinear resize) and
    * runs once; the declared query — banded Hamming near-dup pairs —
    * is exact integer math both engines reproduce over these 8-byte
    * hashes.
    */
  private def phashDir(c: Catalog): String =
    artifact(c, "phash", "phash:v1:dhash8x8+rs16", identity,
      markers = Seq("hashes/_SUCCESS"), mirror = "phash") { dir =>
      val media = MediaPipeline.toMediaTable(c.documents)
      MediaPipeline.perceptualHashes(media)
        .withColumn(
          "variant", org.apache.spark.sql.functions.lit("orig"))
        .unionByName(
          MediaPipeline
            .perceptualHashes(MediaPipeline.resizedMedia(media, 16, 16))
            .withColumn(
              "variant", org.apache.spark.sql.functions.lit("rs16")))
        .select("doc_id", "variant", "kind", "phash")
        .write.mode("overwrite").parquet(s"$dir/hashes")
    }

  /** Per-corpus persisted product-quantization index for X104/X105
    * (m=8 subspaces × 16 centroids × 3 Lloyd iterations over the
    * 64-dim embeddings — 8-byte codes, 32× below raw float32):
    * `$dir/codebook` + `$dir/codes`, built once per corpus stamp and
    * MIRRORED for the oracles. Persisting is identity, not caching —
    * training float summation order is not canonical across
    * partitionings, so both engines (and repeat runs) read the SAME
    * codebook, and the declared ADC scan is reproducible double math
    * over those bytes.
    */
  private def pqIndexDir(c: Catalog): String =
    artifact(c, "pq", "pq:8:16:3", identity, table = "embeddings",
      markers = Seq("codes/_SUCCESS"), mirror = "pq") { dir =>
      val emb = c.embeddings
      graft.vector.Pq.writeIndex(emb, dir, m = 8, ks = 16, iters = 3,
        dim = Ann.dimOf(emb))
    }

  /** The X104/X105 query side: corpus vectors 0–2 as
    * (query_id, qvec) — the L06/X101 query-set convention.
    */
  private def pqQueries(c: Catalog): DataFrame =
    c.embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Per-corpus persisted RESIDUAL PQ index for X108/X109 (IVFADC
    * proper): the same m=8 × ks=16 × 3-Lloyd budget as the plain X104
    * index, but trained/encoded on each vector's residual against its
    * coarse centroid. The coarse quantizer is [[ivfIndexDir]]'s
    * hash-sampled start REFINED by 4 plain L2-Lloyd iterations
    * (residual encoding is only as good as the variance the coarse
    * quantizer explains — X110 surfaces exactly that ratio, and L2
    * means with L2 assignment are what make it < 1), persisted
    * INSIDE the artifact as `$dir/cents` because every stored code is
    * a residual against those exact floats. `$dir/cents` +
    * `$dir/codebook` + `$dir/codes` (vec_id, list_id, codes), built
    * once per corpus stamp and MIRRORED for the oracles.
    */
  private def pqrIndexDir(c: Catalog): String =
    artifact(c, "pqr", "pqr:8:16:3:ivf16km4l2", identity, table = "embeddings",
      markers = Seq("codes/_SUCCESS"), mirror = "pqr") { dir =>
      val base = c.spark.read.parquet(s"${ivfIndexDir(c)}/centroids")
      val dim = Ann.dimOf(c.embeddings)
      // L2-Lloyd means, NOT the spherical refinement: the residual
      // tier's metric is squared-L2 end-to-end (see Pq.residualVectors)
      val refined = graft.vector.Ivf.refineCentroidsL2(
        c.embeddings, base, iters = 4, dim = dim)
      graft.vector.Pq.writeResidualIndex(c.embeddings, refined, dir,
        m = 8, ks = 16, iters = 3, dim = dim)
    }

  /** The X114/X115 query side: corpus vectors 0–24 as
    * (query_id, qvec) — WIDER than the 3-query [[pqQueries]] set
    * deliberately: recall@5 over 3 queries moves in steps of 1/15 and
    * cannot resolve the plain-vs-OPQ comparison the two queries exist
    * to report; 25 queries give 1/125 resolution.
    */
  private def opqQueries(c: Catalog): DataFrame =
    c.embeddings.filter(col("vec_id") < 25)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Per-corpus persisted OPQ artifact for X114/X115: the SAME
    * m=8 × ks=16 × 3-Lloyd budget as the plain X104 index, but with a
    * learned orthogonal rotation (3 OPQ alternations, Ge et al. 2013 —
    * see [[graft.vector.Opq]]) applied before the subspace split.
    * `$dir/rotation` + `$dir/codebook` + `$dir/codes`, built once per
    * corpus stamp and MIRRORED for the oracles.
    */
  private def opqIndexDir(c: Catalog): String =
    artifact(c, "opq", "opq:8:16:3:oi3", identity, table = "embeddings",
      markers = Seq("codes/_SUCCESS"), mirror = "opq") { dir =>
      val emb = c.embeddings
      graft.vector.Opq.writeIndex(emb, dir, m = 8, ks = 16, iters = 3,
        dim = Ann.dimOf(emb), opqIters = 3)
    }

  /** Persisted decoded-media feature artifacts for X10/X25 (VERDICT r7
    * item 3 — the X65/X08/X09 artifact split applied to media): the
    * DECODE half (javax.imageio over the synthesized payloads, bilinear
    * resize, luma histograms) is engine-specific GENERATION, run once
    * per corpus and persisted; the luma histogram is stored as
    * micro-unit BIGINTs (round(f×10⁶)) so every declared downstream
    * aggregate is exact integer math both engines reproduce
    * bit-for-bit. Layout: `$dir/feat` = original payload features,
    * `$dir/resized` = features of the 16×16 thumbnails re-decoded
    * through the same codec path.
    */
  private def mediaFeatDir(c: Catalog): String =
    artifact(c, "mediafeat", "mediafeat:v1:16x16", identity,
      markers = Seq("feat/_SUCCESS", "resized/_SUCCESS"), mirror = "media") { dir =>
      val media = MediaPipeline.toMediaTable(c.documents)
      def micro(d: org.apache.spark.sql.Dataset[graft.media.DecodedMedia]): DataFrame =
        d.toDF().select(col("doc_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"),
          transform(col("features"),
            f => round(f.cast("double") * lit(1e6)).cast("long")).as("f_micro"))
      micro(MediaPipeline.decodeAndFeaturize(media))
        .write.mode("overwrite").parquet(s"$dir/feat")
      micro(MediaPipeline.decodeAndFeaturize(MediaPipeline.resizedMedia(media, 16, 16)))
        .write.mode("overwrite").parquet(s"$dir/resized")
    }

  /** Persisted decoded-audio features for X26 (same artifact split):
    * javax.sound WAV decode + RMS/zero-crossing extraction persisted
    * once, RMS as micro-unit BIGINT; the declared query is the
    * relational stats downstream.
    */
  private def audioFeatDir(c: Catalog): String =
    artifact(c, "audiofeat", "audiofeat:v1", identity, mirror = "audio_feat")(
      graft.media.AudioPipeline
        .decodeAndFeaturize(graft.media.AudioPipeline.toAudioTable(c.documents))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("sample_rate"),
          col("n_samples"), col("duration_ms"),
          round(col("rms") * lit(1e6)).cast("long").as("rms_micro"),
          col("zero_crossings"))
        .write.mode("overwrite").parquet(_))

  /** Persisted sampled clip frames for X27 (same artifact split): GFTV
    * demux + every-2nd-frame PNG decode persisted once over the first
    * 100 docs, frame luma as micro-unit BIGINT.
    */
  private def clipFrameDir(c: Catalog): String =
    artifact(c, "clipframes", "clipframes:v1:k2:first100", identity,
      mirror = "clip_frames")(
      graft.media.ClipPipeline
        .sampleFrames(graft.media.ClipPipeline.toClipTable(
          c.documents.orderBy("doc_id").limit(100)), everyK = 2)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"),
          round(col("f0").cast("double") * lit(1e6)).cast("long").as("f0_micro"))
        .write.mode("overwrite").parquet(_))

  /** Persisted scoring artifacts for X65 (VERDICT r6 item 5): the
    * trained weight vector AND the featurized raw corpus, both parquet,
    * both mirrored for the oracle. The split of responsibilities is the
    * same as the MinHash/IVF/k-means artifacts: training (distributed
    * float gradient sums — layout-deterministic only to last-ulp) and
    * featurization (Spark xxhash64) are engine-specific GENERATION;
    * everything downstream — Σ v·w per doc, the sigmoid, the 6-dp
    * round, the top-20 — is fixed scalar SQL both engines run over the
    * same persisted bytes.
    */
  private def lrScoringDir(c: Catalog): String =
    artifact(c, "lr", "logreg:512:20:lr2.0:l2=1e-6:score", identity,
      markers = Seq("feats/_SUCCESS"), mirror = "lr") { dir =>
      graft.text.QualityClassifier.saveModel(c.spark, lrModel(c), s"$dir/weights")
      graft.text.QualityClassifier
        .featurize(c.documents.filter(col("source") =!= "src0"), dim = 512)
        .select(col("doc_id"), explode(col("feats")).as("s"))
        .select(col("doc_id"), col("s.f").as("f"), col("s.v").as("v"))
        .write.mode("overwrite").parquet(s"$dir/feats")
    }

  /** Persisted BPE-encoded corpus for X59 (VERDICT r7 item 6): the
    * iterative trainer + rank-greedy encode are the engine-specific
    * GENERATION half (spec-pinned vs a driver-side sequential replay);
    * the persisted (doc_id, pos, token) parquet is relational bytes,
    * and the declared query — token frequencies — is plain SQL both
    * engines run over the same file.
    */
  private def bpeEncodedDir(c: Catalog): String =
    artifact(c, "bpeenc", "bpeenc:v1:m12", identity, mirror = "bpe_encoded")(
      graft.text.Bpe.encodeDocuments(c.documents, bpeMerges(c, 12))
        .write.mode("overwrite").parquet(_))

  /** Persisted DEFLATE lengths for X69 (same artifact split): the
    * native codegen'd deflate expression is the engine-specific half
    * (no portable SQL zlib); the persisted per-doc byte counts are
    * plain integers, and the declared ratio query is one exact division
    * both engines run over the same file.
    */
  private def deflateDir(c: Catalog): String =
    artifact(c, "deflate", "deflate:v1", identity, mirror = "deflate")(
      c.documents.select(col("doc_id"),
        octet_length(col("text")).as("raw_bytes"),
        graft.functions.VectorFunctions.deflateLen(col("text")).as("deflate_bytes"))
        .write.mode("overwrite").parquet(_))

  private def bpeMerges(c: Catalog, numMerges: Int): DataFrame = {
    val key = stamp(c.dir, "documents", s"bpe:$numMerges")
    val rows = bpeCache.computeIfAbsent(key, _ =>
      graft.text.Bpe.learnMerges(c.documents, numMerges)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))))
    val spark = c.spark
    import spark.implicits._
    rows.toSeq.toDF("step", "left", "right", "pair_count")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- text analysis (oracle-checked) --
    "X01_token_stats" -> q(c => TextAnalysis.tokenStats(c.documents)),
    "X02_quality" -> q(c =>
      TextAnalysis.qualityFeatures(c.documents).orderBy("doc_id").limit(200)),
    "X03_langid" -> q(c => TextAnalysis.langIdConfusion(c.documents)),
    // conversion funnel + cohort retention over events (oracle-checked)
    "X41_funnel" -> q(c =>
      graft.ops.EventAnalytics.funnel(c.events, Seq("signup", "click", "purchase"))),
    "X42_retention" -> q(c => graft.ops.EventAnalytics.hourlyRetention(c.events)),
    "X43_time_to_convert" -> q(c =>
      graft.ops.EventAnalytics.timeToConvert(c.events, "signup", "purchase")),
    // Gopher-style repetition filters (oracle-checked)
    "X39_repetition" -> q(c => TextAnalysis.repetitionStats(c.documents)),
    // per-rule quality verdict pass + corpus-unigram fluency score
    // (oracle-checked)
    "X44_filter_verdicts" -> q(c => TextAnalysis.filterVerdicts(c.documents)),
    // near-dup benchmark decontamination: LSH candidates from the
    // persisted banded index (side split by source — a doc's signature
    // doesn't depend on its side), exact-verified at 0.5. Downstream of
    // the mirrored parquet, so fully oracle-checked; the spec still
    // pins planted near-copy detection + agreement with the
    // from-scratch crossNearDups
    "X46_neardup_decontaminate" -> q(c => crossNearDupsTable(c)),
    "X45_unigram_logprob" -> q(c => TextAnalysis.unigramLogProb(c.documents)),
    // corpus-wide segment (line/paragraph) dedup, CCNet shape
    // (oracle-checked; multi-segment behavior pinned in ExtrasSpec)
    "X40_segment_dedup" -> q(c => TextAnalysis.segmentDedup(c.documents)),
    // -- dedup (oracle-checked) --
    "X04_fingerprint_dedup" -> q(c =>
      TextAnalysis.fingerprintDedupWinners(c.documents)),
    "X05_ngram_jaccard" -> q(c =>
      TextAnalysis.ngramJaccardPairsFromCounts(
        ngramPairCountsTable(c), threshold = 0.6)),
    // -- embedding near-dup (oracle-checked) --
    "X06_embed_neardup" -> q(c => Ann.allPairsAbove(c.embeddings, 0.4)),
    // -- scale paths (rows-only; property-tested in ExtrasSpec) --
    // end-to-end minhash dedup, signatures computed from scratch. Its
    // result deterministically equals the from-sigs X15 form (signatures
    // are a pure function of the corpus), so it shares the banded-index
    // oracle — which then also pins that the from-scratch signature pass
    // agrees with the persisted artifact scheme. bandedTable is touched
    // ONLY to refresh the oracle mirror for this corpus (the dedup
    // itself re-derives everything from text)
    "X07_minhash_dedup" -> q(c => {
      bandedTable(c)
      MinHashDedup.dedupWinners(c.documents)
    }),
    // simhash fingerprints, the bit-majority fold downstream of the
    // persisted token-hash parquet (hashing is engine-specific; the
    // ±1 bit sums and sign packing are integer SQL) — fully
    // oracle-checked
    "X08_simhash" -> q(c =>
      SimHash.fingerprintsFromHashes(
        c.spark.read.parquet(simhashTokDir(c))).orderBy("doc_id")),
    // ANN top-5 probed from the PERSISTED sign-LSH index (the X14 move
    // for the hyperplane path): the bucketed corpus is a mirrored
    // parquet artifact, the probe reads only the Hamming-ball
    // partitions, and everything downstream — popcount pruning, exact
    // rescore, rounded ranking — is SQL both engines run on the same
    // bytes. k=6/keep=5 mirrors X14's self-exclusion contract
    "X09_ann_top5" -> q(c => {
      val idx = annIndexDir(c)
      val probeVec = c.embeddings.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).toArray
      // re-sort explicitly after the self-exclusion filter: the
      // order-sensitive oracle hash must not depend on Spark preserving
      // intra-partition order through Filter/GlobalLimit (ADVICE r7)
      Ann.probeIndex(c.spark, idx, probeVec, k = 6, nPlanes = 8, probeRadius = 2)
        .filter(col("vec_id") =!= 0)
        .orderBy(desc("cos"), col("vec_id"))
        .limit(5)
    }),
    "X11_ivf_top5" -> q(c => {
      // the oracle reads the mirrored centroids (identical to the
      // inline choice by construction) — make sure they exist even when
      // X11 runs before X14
      ivfIndexDir(c)
      graft.vector.Ivf.ivfTopK(c.embeddings, probeId = 0, k = 5, nLists = 16, nProbe = 4)
    }),
    // per-kind stats over the PERSISTED decoded-media features (decode
    // runs once into the mirrored parquet; the declared query is the
    // exact-integer relational downstream both engines run) — fully
    // oracle-checked since r8
    "X10_media_features" -> q(c =>
      c.spark.read.parquet(s"${mediaFeatDir(c)}/feat")
        .groupBy("kind")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bytes").as("total_bytes"),
          min("width").as("min_w"), max("width").as("max_w"),
          min("height").as("min_h"), max("height").as("max_h"),
          round(sum(element_at(col("f_micro"), 1)).cast("double") /
            count(lit(1)) / lit(1e6), 6).as("avg_f0"))
        .orderBy("kind")),
    // tf-idf on top of the L04 document-frequency block (oracle-checked)
    "X13_tfidf_top3" -> q(c => TextAnalysis.tfIdfTopTerms(c.documents, k = 3)),
    // banded sign-LSH near-dup: the scale path for X06 (recall >= 0.9 vs
    // the exact pairs, pinned in ExtrasSpec; precision 1.0 by re-score)
    // cost-routed: at s=0.4 the derived banding geometry cannot prune
    // (expected candidate mass >= the cartesian), so bandedPairsAbove
    // takes its exact-scan route; at near-dup thresholds (s >= ~0.8)
    // the same call plans the banded bucket join
    "X12_embed_neardup_lsh" -> q(c => Ann.bandedPairsAbove(c.embeddings, 0.4)),
    // index-backed probe: write the bucket-partitioned IVF index, then
    // answer the probe from a partition-pruned read — demonstrates the
    // persisted-index surface end to end
    "X14_ivf_index_probe" -> q(c => {
      val idx = ivfIndexDir(c) // built once per corpus
      val probeVec = c.embeddings.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).toArray
      graft.vector.Ivf.probeIndex(c.spark, idx, probeVec, k = 6, nProbe = 4)
        .filter(col("vec_id") =!= 0).limit(5)
    }),
    // dedup from a persisted signature table: the signature pass (the
    // dominant dedup cost) is paid once per corpus; repeat calls reuse
    // it. Deterministic (signatures are a pure function of the corpus),
    // and ExtrasSpec pins from-signatures ≡ direct.
    "X15_minhash_from_sigs" -> q(c => {
      // the oracle reads the mirrored BANDED table (same candidates by
      // construction — banding is a pure function of the signatures,
      // and from-sigs ≡ from-banded is spec-pinned); ensure the mirror
      // exists even when X15 runs before X38
      bandedTable(c)
      MinHashDedup.dedupWinners(c.documents, sigs = Some(sigTable(c)))
    }),
    // dedup from the persisted BANDED index: the cheapest repeat-run
    // entry — skips the shingle+sign pass AND the banding shuffle;
    // ExtrasSpec pins from-banded ≡ direct
    "X38_minhash_from_banded" -> q(c =>
      MinHashDedup.dedupWinnersFromBanded(c.documents, bandedTable(c))),
    // transitive duplicate clusters over the verified near-dup graph
    // (property-tested against driver-side union-find in ExtrasSpec);
    // candidates come from the shared persisted signature table
    "X16_dup_clusters" -> q(c =>
      MinHashDedup.duplicateClusters(
        MinHashDedup.verifiedPairsFromBanded(c.documents, bandedTable(c)))),
    // dedup audit report (one row per duplicate-cluster size: cluster
    // count, docs the min-id rule removes, character mass removed) —
    // the summary table every dedup run publishes; fully oracle-checked
    // (recursive-CTE clusters + the same two aggregates)
    "X84_dedup_report" -> q(c => {
      // bandedTable(c) refreshes the oracle mirror the recursive-CTE
      // oracle reads; the Spark path rides the persisted pair artifact.
      // The banded index also feeds the capped-bucket exposure columns
      // (VERDICT r10 item 3): recall degradation surfaces as DATA in
      // the published report, not just an executor-log WARN
      val banded = bandedTable(c)
      MinHashDedup.dedupReport(
        c.documents,
        MinHashDedup.duplicateClusters(vpairsTable(c)),
        // the cap travels with the index it was built under
        banded = Some((banded, graft.text.MinHashConfig().maxBucket)))
    }),
    // quality-aware winner per X16 cluster: keep the most-informative
    // member (max distinct tokens, min doc_id tie) instead of min-id —
    // the production starring rule when near-dup copies differ in
    // completeness; fully oracle-checked (recursive-CTE clusters +
    // the same window in both engines)
    "X78_quality_winners" -> q(c => {
      bandedTable(c) // refreshes the oracle mirror (X84's idiom)
      MinHashDedup.qualityAwareWinners(c.documents,
        MinHashDedup.duplicateClusters(vpairsTable(c)))
    }),
    // rolling-hash winnowing fingerprint near-dup pairs, the pair stage
    // downstream of the persisted fingerprint parquet (generation is the
    // engine-specific native kernel; df-filter + self-join + Jaccard are
    // integer SQL) — fully oracle-checked; property specs additionally
    // pin exact-dup 1.0 scoring and layout invariance
    "X17_winnow_pairs" -> q(c =>
      TextAnalysis.winnowPairsFromFingerprints(
        c.spark.read.parquet(winnowFpDir(c)), threshold = 0.5)),
    // sequence packing into 4096-token bins (oracle-checked)
    "X18_packing" -> q(c => TextAnalysis.packIntoBins(c.documents, maxTokens = 4096L)),
    // one-pass table profile (oracle-checked)
    "X19_profile" -> q(c => graft.ops.Profile.profile(c.documents)),
    // canonical text normalization (oracle-checked on the normalized
    // string itself; norm_fp is engine-hash-specific so not emitted)
    "X21_normalize" -> q(c =>
      graft.text.TextAnalysis.normalizedDocs(c.documents).select("doc_id", "norm")),
    // pivot with an explicit value list (oracle-checked)
    "X22_pivot" -> q(c =>
      graft.ops.Reshape.pivotCounts(c.orders, "o_orderpriority", "o_orderstatus",
        Seq("F", "O", "P"))),
    // native melt / unpivot (oracle-checked)
    "X23_unpivot" -> q(c =>
      graft.ops.Reshape.meltNumeric(c.part, Seq("p_partkey"), Seq("p_size", "p_retailprice"))),
    // native merge-based as-of join exec (custom LogicalPlan + Strategy
    // + SparkPlan) — the EXACT plan that serves J10, additionally
    // oracle-checked here against DuckDB's native ASOF (one builder, no
    // copy that could drift)
    "X20_asof_native" -> q(c => graft.ops.RelationalQueries.queries("J10")(c)),
    // BPE-ish pre-token counts vs whitespace counts per language
    // (oracle-checked: the regex is valid with identical semantics in
    // Java regex and DuckDB's RE2)
    "X24_bpe_token_stats" -> q(c => TextAnalysis.tokenCountComparison(c.documents)),
    // decode → resize → re-featurize, from the SAME persisted artifact
    // pair: per-doc luma shift of the 16x16 thumbnail vs the original
    // (exact micro-int subtraction; dims/batch shape still pinned in
    // ExtrasSpec) — fully oracle-checked since r8
    "X25_media_resize" -> q(c => {
      val d = mediaFeatDir(c)
      val orig = c.spark.read.parquet(s"$d/feat")
        .select(col("doc_id"), col("kind").as("src_kind"),
          element_at(col("f_micro"), 1).as("f0a"))
      val rs = c.spark.read.parquet(s"$d/resized")
        .select(col("doc_id"), col("width"), col("height"),
          element_at(col("f_micro"), 1).as("f0b"))
      orig.join(rs, Seq("doc_id"))
        .select(col("doc_id"), col("src_kind"), col("width"), col("height"),
          round((col("f0b") - col("f0a")).cast("double") / lit(1e6), 6).as("f0_shift"))
        .orderBy("doc_id")
    }),
    // real WAV decode (JDK javax.sound) persisted once; the declared
    // query groups the true decoded sample counts / rates and the
    // micro-int RMS — fully oracle-checked since r8 (tone ground truth
    // still pinned in ExtrasSpec)
    "X26_audio_features" -> q(c =>
      c.spark.read.parquet(audioFeatDir(c))
        .groupBy("sample_rate", "n_samples")
        .agg(count(lit(1)).as("n_docs"),
          max("duration_ms").as("duration_ms"),
          round(sum("rms_micro").cast("double") / count(lit(1)) / lit(1e6), 6)
            .as("avg_rms"),
          sum("zero_crossings").as("total_zc"))
        .orderBy("sample_rate", "n_samples")),
    // frame-sampled clip features from the persisted demux+decode pass:
    // per-doc frame counts and mean sampled-frame luma (exact micro-int
    // aggregates) — fully oracle-checked since r8 (container round-trip
    // and sampling still pinned in ExtrasSpec)
    "X27_clip_frames" -> q(c =>
      c.spark.read.parquet(clipFrameDir(c))
        .groupBy("doc_id")
        .agg(max("n_frames").as("n_frames"), count(lit(1)).as("n_sampled"),
          min("width").as("w"), min("height").as("h"),
          round(sum("f0_micro").cast("double") / count(lit(1)) / lit(1e6), 6)
            .as("avg_f0"))
        .orderBy("doc_id")),
    // int8-quantized candidate scan + exact re-rank. The 4×80 recall
    // geometry sits in the non-pruning sign-LSH regime at s=0.4
    // (expected candidate mass 5× the cartesian; measured: its DISTINCT
    // candidates were 98.6% of all pairs at sf0.1), so the cost router
    // takes the exact quantized scan — value-identical, recall 1 by the
    // per-pair bound, and 3× faster than forcing the banding (2.6 s vs
    // 8.4 s at sf0.1). At near-dup thresholds the same call routes to
    // the banded bucket join. maxBucket explicit so plan construction
    // derives nothing (a 0 cap would cost a corpus count() per call)
    "X28_quantized_neardup" -> q(c =>
      graft.vector.Quantize.bandedQuantizedPairsAbove(
        c.embeddings, 0.4, nPlanes = 4, nBands = 80, maxBucket = 4096)),
    // large-star/small-star connected components — the general-graph
    // O(log n)-round twin of X16 (spec-pinned equal to label propagation
    // and to union-find; converges on chain graphs where propagation
    // needs O(n) rounds)
    "X29_dup_clusters_stars" -> q(c => {
      bandedTable(c) // refreshes the oracle mirror (X84's idiom)
      graft.ops.ConnectedComponents.components(vpairsTable(c))
    }),
    // benchmark decontamination: 5-gram overlap of every corpus doc
    // against the held-out src0 set (oracle-checked)
    "X30_decontaminate" -> q(c => contaminationTable(c)),
    // per-source PII totals over both-engine-valid patterns
    // (oracle-checked; detection itself is spec-pinned on synthetic PII)
    "X31_pii_stats" -> q(c => TextAnalysis.piiStats(c.documents)),
    // deterministic train/val/test split with the PORTABLE md5 coin —
    // fully oracle-checked (any md5-bearing engine reproduces the
    // assignment); the xxhash64 production twin is spec-pinned to the
    // same weight/growth-stability contract in ScaleSpec
    // split-leakage report: verified near-dup pairs (persisted banded
    // index, exact Jaccard >= 0.8) crossing the 80/10/10 md5 split —
    // the eval-contamination audit a split must pass; fully
    // oracle-checked
    "X77_split_leakage" -> q(c =>
      graft.pipeline.TrainingSet.splitLeakage(
        c.documents, bandedTable(c),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
    "X32_hash_split" -> q(c =>
      Scale.md5Split(c.documents, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("total_chars"))
        .orderBy("split")),
    // per-language deterministic Bernoulli sample, same portable coin
    "X33_stratified_sample" -> q(c =>
      Scale.md5StratifiedSample(c.documents, "doc_id", "lang",
          Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.125))
        .select("doc_id", "lang").orderBy("doc_id")),
    // deterministic pseudo-random TRAINING ORDER (corpus shuffle):
    // portable md5 coin + the two-pass bucketed global row number — no
    // single-partition window anywhere; fully oracle-checked
    "X47_shuffle_order" -> q(c =>
      Scale.shuffleOrder(c.documents.select("doc_id"), "doc_id")
        .orderBy("shuffle_pos")),
    // target-mixture resampling (language re-balancing): the largest
    // no-upsampling corpus matching the target ratios, portable-coin
    // deterministic — counts and cutoffs are metadata-sized, the corpus
    // itself is one map-side filter; fully oracle-checked
    "X48_mixture_resample" -> q(c =>
      Scale.mixtureResample(c.documents.select("doc_id", "lang"), "doc_id", "lang",
          Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))
        .orderBy("doc_id")),
    // temperature-flattened mixture (exponential smoothing, n^0.5 per
    // language — lang is the corpus's uneven stratum): the standard
    // multilingual up-weighting of small strata without upsampling —
    // fully oracle-checked (the oracle recomputes pow from the same
    // integer counts)
    "X74_temperature_mixture" -> q(c =>
      Scale.temperatureResample(c.documents.select("doc_id", "lang"),
          "doc_id", "lang", alpha = 0.5)
        .orderBy("doc_id")),
    // token-budget epoch plan (1 B tokens, alpha=0.5 over source): the
    // data-planning table reading "which stratum repeats how often to
    // fill its temperature-flattened budget share" — fully
    // oracle-checked (same integer token sums, same pow/division order).
    // (TextAnalysis.domainStats, the CC-style per-domain URL audit, is
    // library+spec only: this corpus contains zero URLs, so a declared
    // query over it would be permanently empty — vacuous as an oracle.)
    "X79_epoch_plan" -> q(c =>
      graft.pipeline.TrainingSet.epochPlan(c.documents, "source",
        budgetTokens = 1000000000L, alpha = 0.5)),
    // budget-cut corpus snapshot (5 000 tokens in shuffle order): which
    // documents a fixed token budget sees, frozen deterministically
    // BEFORE packing/batching — distributed prefix sum over the
    // portable-coin order, no single-partition window; fully
    // oracle-checked
    "X80_budget_cut" -> q(c =>
      graft.pipeline.TrainingSet.budgetCut(c.documents, budgetTokens = 5000L)),
    // fixed-SIZE per-stratum eval sample (25 docs per language, smallest
    // coins win): the coin-cutoff prune makes the per-stratum sort touch
    // ~k rows instead of the whole stratum; fully oracle-checked against
    // the naive full-corpus window definition
    "X49_eval_sample" -> q(c =>
      Scale.stratifiedTopK(c.documents.select("doc_id", "lang"), "doc_id", "lang", k = 25)
        .orderBy("doc_id")),
    // sliding context-window chunker (64-token chunks, stride 48):
    // map-side HOFs only, zero shuffles; fully oracle-checked
    "X50_chunking" -> q(c =>
      TextAnalysis.chunkDocuments(c.documents, maxTokens = 64, stride = 48)),
    // exact per-group percentiles (PERCENTILE_CONT linear interpolation
    // — the cross-engine definition, oracle-checked); the sketch-based
    // scale twin is Scale.approxPercentiles, accuracy-pinned in spec
    "X34_percentiles" -> q(c =>
      Profile.groupPercentiles(c.documents, "lang", col("n_chars"),
        Seq(0.25, 0.5, 0.75, 0.9))),
    // bloom-prefiltered semi join: result EXACTLY equals the plain semi
    // join (no false negatives), so it shares that oracle — the bloom
    // image only cuts shuffle volume before the exact join
    "X35_bloom_semijoin" -> q(c =>
      Scale.bloomSemiJoin(c.orders, "o_custkey",
          c.customer.filter(col("c_acctbal") > 9000), "c_custkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("total"))
        .orderBy("o_orderpriority")),
    // native codegen'd Morton (Z-order) key — the write-side layout
    // primitive behind Scale.zorderCluster; oracle-checked against the
    // same mask-and-shift arithmetic spelled out in portable SQL
    "X36_zorder" -> q(c =>
      c.part.select(col("p_partkey"), col("p_size"),
          ZOrderValue(col("p_partkey").cast("long"), col("p_size").cast("long")).as("z"))
        .orderBy("z", "p_partkey").limit(200)),
    // persisted-sketch distinct counts: per-source HLL images plus the
    // lossless union rollup (rows-only: sketch estimates are
    // DataSketches-specific; error + union≡direct pinned in ScaleSpec)
    "X37_hll_distinct" -> q(c =>
      Scale.hllEstimates(
        Scale.hllSketches(c.documents, "source", col("text")), "source")),
    // N-ary (3-key) Morton key — multi-dimensional data-skipping layout;
    // oracle-checked against the same round-robin bit interleave
    // spelled out in portable SQL (20 bits per dimension)
    "X51_zorder3" -> q(c =>
      c.part.select(col("p_partkey"), col("p_size"),
          length(col("p_name")).cast("long").as("name_len"),
          graft.functions.ZOrderValueN(
            col("p_partkey").cast("long"), col("p_size").cast("long"),
            length(col("p_name")).cast("long")).as("z3"))
        .orderBy("z3", "p_partkey").limit(200)),
    // batched exact kNN JOIN (every 50th vector as the query batch):
    // broadcast queries, ONE corpus scan, per-query top-5 on the
    // rounded score — the oracle twin of the LSH-bucketed annKnnJoin
    // (probe-all ≡ this, VectorIndexSpec-pinned)
    "X52_knn_join" -> q(c =>
      Ann.knnJoin(c.embeddings.filter(col("vec_id") % 50 === 0), c.embeddings, k = 5)),
    // vocabulary coverage curve (top 500 words + cumulative token
    // share): vocab-sized table, global rank + prefix sum through the
    // bucketed two-pass machinery; fully oracle-checked
    "X53_vocab_coverage" -> q(c => TextAnalysis.vocabCoverage(c.documents, topV = 500)),
    // padding-efficient length-bucketed batches over the chunk stream:
    // one bucket per batch bounds within-batch length spread (and
    // padding waste) below bucketWidth; per-bucket shuffle via ONE
    // global two-pass row number over a composite (bucket-hex ++ coin)
    // key that splits WITHIN a length bucket — never a window
    // partitioned by the few coarse bucket keys; fully oracle-checked
    "X56_length_batches" -> q(c =>
      graft.pipeline.TrainingSet.lengthBucketedBatches(
          TextAnalysis.chunkDocuments(c.documents, maxTokens = 64, stride = 48)
            .select("doc_id", "chunk_idx", "n_tokens"),
          bucketWidth = 16, batchSize = 8)
        .orderBy("doc_id", "chunk_idx")),
    // token-budget sequence packing of the training-order chunk stream
    // (the X50+X18 composition, VERDICT r6 item 7): each chunk assigned
    // the pack where its token run starts, plus its in-pack offset —
    // integer-only prefix-sum arithmetic, fully oracle-checked
    "X73_token_packing" -> q(c =>
      packedChunks(c)
        .select("doc_id", "chunk_idx", "n_tokens", "shuffle_pos", "pack_id", "pack_off")
        .orderBy("doc_id", "chunk_idx")),
    // per-pack padding-efficiency audit of the same packed stream:
    // chunk count, fill and pad tokens per pack (overflow packs pad 0)
    // — the measurement that justifies packing; fully oracle-checked
    "X75_pack_stats" -> q(c =>
      graft.pipeline.TrainingSet.packStats(packedChunks(c), packTokens = 256L)),
    // EXACT token-budget packing (the model-ready sink's layout,
    // TrainingSet.writeExactPacks): the X73 stream with the straddling
    // chunk SPLIT at the pack boundary — one row per piece with its
    // pack, in-chunk index, in-pack offset and text; every non-final
    // pack totals exactly 256 tokens and a chunk's pieces partition
    // its tokens (TrainingSetSpec pins both); fully oracle-checked
    // including the piece text
    "X116_exact_packing" -> q(c =>
      exactPieces(c)
        .select("doc_id", "chunk_idx", "piece_idx", "pack_id", "pack_off",
          "piece_tokens", "piece")
        .orderBy("doc_id", "chunk_idx", "piece_idx")),
    // the packed sink's per-pack manifest: piece/doc counts, token
    // total (= the budget for every non-final pack — `exact` says so
    // per row) and the training-order span, the table a loader reads
    // to plan its pack ranges without scanning pieces; fully
    // oracle-checked
    "X117_pack_manifest" -> q(c =>
      graft.pipeline.TrainingSet.packManifest(exactPieces(c), packTokens = 256L)),
    // exact substring-level dedup (Lee et al. ACL 2022, restated as
    // stride-1 window fingerprinting): maximal duplicated token spans
    // per doc, canonical first occurrence exempt; fully oracle-checked.
    // The string-keyed oracle twin — the hashed scale path is pinned
    // row-identical in SubstringDedupSpec
    "X118_substring_dup_spans" -> q(c =>
      graft.text.SubstringDedup.duplicatedSpans(c.documents, minTokens = 10)
        .orderBy("doc_id", "span_start")),
    // the span-cut corpus: uncovered tokens rejoined, per-doc token
    // accounting (n_tokens − dup_tokens = tokens of clean_text,
    // spec-pinned corpus-wide); fully oracle-checked incl. the text
    "X119_substring_dedup_clean" -> q(c =>
      graft.text.SubstringDedup.cleanCorpus(c.documents, minTokens = 10)
        .orderBy("doc_id")),
    // MapReduce secondary sort, instantiated: per-user event-gap stats
    // needing time-ordered values — repartition by key + ONE in-task
    // external sort + an O(1)-per-group streaming fold (flatMapGroups
    // would buffer whole groups); exact µs gaps, fully oracle-checked
    "X55_event_gaps" -> q(c =>
      graft.ops.TypedReduce.eventGapStats(c.events, gapThresholdSec = 3600L)),
    // distributed BPE merge training: corpus scanned once for the word
    // vocab, then each merge step is a vocab-sized pair count + a
    // 1-row argmax + a vocab-sized merge map (rows-only: K sequential
    // argmax steps are not expressible as one static SQL; BpeSpec pins
    // exact equality with a driver-side reference implementation)
    "X57_bpe_merges" -> q(c => bpeMerges(c, 12)),
    // corpus token stats under the learned merges: the VOCAB is
    // encoded (merge replay over distinct words), then joined back —
    // each distinct word pays the replay once, not once per occurrence
    "X58_bpe_encode_stats" -> q(c =>
      graft.text.Bpe.encodeStats(c.documents, bpeMerges(c, 12))),
    // one-pass corpus encode (rank-greedy apply, per-partition word
    // memo) persisted once per corpus; the declared query is the
    // top-20 token frequency SQL downstream of that parquet — fully
    // oracle-checked since r8 (encode itself stays spec-pinned ≡
    // sequential replay)
    "X59_bpe_token_freq" -> q { c =>
      c.spark.read.parquet(bpeEncodedDir(c))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("token")).limit(20)
    },
    // tokenizer fertility by language (tokens/word, chars/token) over
    // the SAME persisted encoded corpus — the multilingual tokenizer
    // health table; fully oracle-checked (count aggregates + an exact
    // double division downstream of the mirrored parquet)
    "X83_tokenizer_fertility" -> q(c =>
      graft.text.Bpe.fertilityByLang(
        c.spark.read.parquet(bpeEncodedDir(c)), c.documents)),
    // k-means cluster health profile over the PERSISTED centroids
    // (membership + member→centroid cosine distribution; oracle-checked
    // against the mirrored centroid parquet — assignment argmax and the
    // aggregate are plain SQL downstream of the persisted file)
    "X60_kmeans_clusters" -> q(c =>
      graft.vector.SemDedup.clusterProfile(
        c.embeddings, c.spark.read.parquet(kmeansCentroidsDir(c)))),
    // SemDeDup cluster-blocked semantic near-dup dedup: pairwise cosine
    // only WITHIN a k-means cluster, lowest id kept per neighborhood
    // (oracle-checked over the same mirrored centroids)
    "X61_semantic_dedup" -> q(c =>
      graft.vector.SemDedup.semanticDedup(
        c.embeddings, c.spark.read.parquet(kmeansCentroidsDir(c)), threshold = 0.4)),
    // cluster-stratified diversity sample (10 per k-means cluster,
    // smallest portable coins win): semantic-coverage subset selection,
    // the complement of X61's redundancy removal — fully oracle-checked
    // over the same mirrored centroids
    "X82_diversity_sample" -> q(c =>
      graft.vector.SemDedup.diversitySample(
        c.embeddings, c.spark.read.parquet(kmeansCentroidsDir(c)), k = 10)),
    // semantic-outlier prune: vectors whose cosine to their ASSIGNED
    // centroid is below the floor — the embedding-space junk audit run
    // before the corpus feeds training; map-side assignment + filter,
    // fully oracle-checked over the same mirrored centroids
    "X85_semantic_outliers" -> q(c =>
      graft.vector.SemDedup.outliers(
        c.embeddings, c.spark.read.parquet(kmeansCentroidsDir(c)), minCos = 0.3)),
    // DSIR importance weights: target = the held-out src0 seed set,
    // raw = the rest of the corpus; add-one unigram log-likelihood
    // ratio per doc (fully oracle-checked — two count aggregates, a
    // vocab join and a per-doc mean are portable SQL)
    "X62_importance_weights" -> q(c =>
      graft.text.Dsir.importanceWeights(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"))),
    // BM25 ranked retrieval for a literal query — the retrieval half
    // of targeted decontamination / seed-set expansion; fully
    // oracle-checked (fixed-order scalar arithmetic, integer corpus
    // sums, both engines bit-identical)
    "X63_bm25_topk" -> q(c =>
      graft.text.Bm25.topK(c.documents, bm25QueryTerms, k = 20)),
    // Efraimidis–Spirakis weighted sample without replacement (weights
    // = token counts): fixed-size importance sampling in one scan via
    // the portable md5 coin — fully oracle-checked
    "X64_weighted_sample" -> q(c =>
      Scale.weightedSample(
        c.documents.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("bigint").as("n_tokens")),
        "doc_id", col("n_tokens"), k = 50)),
    // cross-document duplicated 5-gram coverage (exact-substring dedup
    // signal, Lee et al. 2021): per-doc fraction of tokens covered by
    // an n-gram shared with another doc; span union is a per-doc
    // integer fold — fully oracle-checked (the oracle explodes spans
    // instead; same integers)
    "X67_dup_ngram_coverage" -> q(c => {
      val n = 5 // one binding feeds artifact and fold — they cannot drift
      TextAnalysis.crossDocDupCoverageFrom(c.documents, hitListsTable(c, n), n)
    }),
    // compression-ratio quality signal (MassiveText-style): DEFLATE
    // length over raw length, per doc. The codegen'd native deflate
    // expression runs once into the persisted artifact (no portable
    // SQL zlib); the declared ratio is exact integer division both
    // engines run over the same bytes — fully oracle-checked since r8
    // (monotonicity law and determinism still spec-pinned)
    "X69_compression_ratio" -> q(c =>
      c.spark.read.parquet(deflateDir(c))
        .withColumn("compression_ratio",
          round(col("deflate_bytes").cast("double") /
            greatest(col("raw_bytes"), lit(1)).cast("double"), 6))
        .orderBy("doc_id")),
    // the transform half of exact-substring dedup: rewrite docs with
    // cross-doc-shared 5-gram spans cut out (map-side range fold per
    // doc); fully oracle-checked — exact string equality
    "X68_remove_shared_spans" -> q(c => {
      val n = 5
      TextAnalysis.removeSharedSpansFrom(c.documents, hitListsTable(c, n), n)
    }),
    // batched BM25 over a query TABLE (queries = first 5 tokens of
    // docs 0-2): the inverted-index join form — postings built once,
    // per-query top-5 through a query-partitioned window; fully
    // oracle-checked
    "X66_bm25_join" -> q(c =>
      graft.text.Bm25.knnJoin(
        c.documents,
        c.documents.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"),
            slice(TextAnalysis.tokens(col("text")), 1, 5).as("terms")),
        k = 5)),
    // hard-negative mining for retrieval training: per positive doc
    // (docs 0-2), top-5 BM25 docs over the positive's FULL token set,
    // excluding the positive itself and its verified near-dups (banded
    // candidates + exact Jaccard >= 0.5 from the persisted index) —
    // the DPR/ANCE negatives recipe with the false-negative guard;
    // fully oracle-checked
    "X76_hard_negatives" -> q(c => {
      val qdocs = c.documents.filter(col("doc_id") < 3).select("doc_id", "text")
      val nd = MinHashDedup.crossNearDupsFromBanded(
        c.documents, qdocs, bandedTable(c),
        graft.text.MinHashConfig(threshold = 0.5))
      graft.text.Bm25.hardNegatives(c.documents, qdocs, nd, k = 5)
    }),
    // fastText/CCNet-style LEARNED quality filter: hashed-BoW logistic
    // regression (target = src0 seed vs raw rest), every raw doc
    // scored, 20 most target-like kept. Training stays rows-only by
    // construction (distributed float gradient sums), but SCORING runs
    // downstream of the persisted weight + feature parquet and is
    // oracle-checked: both engines compute σ(Σ v·w) over the same bytes
    // (QualityClassifierSpec still pins separation quality + descent)
    "X65_quality_classifier" -> q(c => {
      val base = lrScoringDir(c)
      val feats = c.spark.read.parquet(s"$base/feats")
      val wts = c.spark.read.parquet(s"$base/weights")
      feats.join(broadcast(wts), Seq("f"))
        .groupBy("doc_id")
        .agg(round(lit(1.0) / (lit(1.0) +
          exp(-sum(col("v") * col("weight")))), 6).as("p_target"))
        .orderBy(desc("p_target"), asc("doc_id")).limit(20)
    }),
    // bigram-LM fluency score (the CCNet LM-filter shape): mean
    // add-one-smoothed conditional log10 p(w2|w1) per doc under the
    // corpus's own bigram model — fully oracle-checked (integer counts,
    // fixed-order scalar arithmetic, 6-dp round like X45)
    "X70_bigram_logprob" -> q(c =>
      TextAnalysis.bigramLogProb(c.documents)),
    // CCNet head/middle/tail: tertile buckets over the bigram-LM rank
    // (distributed global row number, exact integer bucket math) —
    // fully oracle-checked
    "X81_perplexity_buckets" -> q(c =>
      TextAnalysis.perplexityBuckets(c.documents, nBuckets = 3)),
    // full-corpus PII redaction rewrite (the scrub pass before
    // training-data export): typed placeholders over the both-engine
    // PII patterns, phone before ipv4 — fully oracle-checked by exact
    // string equality
    "X71_pii_redact" -> q(c =>
      c.documents
        .select(col("doc_id"), TextAnalysis.piiRedact(col("text")).as("text"))
        .orderBy("doc_id")),
    // surgical benchmark decontamination: CUT the 5-gram spans a doc
    // shares with the benchmark (src0), keep the remainder — the
    // span-level complement of X30's doc-level drop; fully
    // oracle-checked by exact string equality
    "X72_scrub_benchmark" -> q(c =>
      TextAnalysis.scrubBenchmarkSpans(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"), n = 5)),
    // corpus snapshot diff (simulated v2: docs 0-49 dropped, 450+ kept,
    // every 7th overlapping doc uppercased): per-doc added/removed/
    // changed from a fingerprint full outer join; fully oracle-checked
    "X54_corpus_diff" -> q(c =>
      TextAnalysis.corpusDiff(
        c.documents.filter(col("doc_id") < 450),
        c.documents.filter(col("doc_id") >= 50)
          .withColumn("text",
            org.apache.spark.sql.functions.when(col("doc_id") % 7 === 0,
              org.apache.spark.sql.functions.upper(col("text")))
              .otherwise(col("text"))))),
    // vocabulary-novelty curve over 20 equal-count corpus buckets:
    // new word types per bucket + cumulative vocab — all-integer, fully
    // oracle-checked
    "X86_novelty_curve" -> q(c =>
      TextAnalysis.noveltyCurve(c.documents, nBuckets = 20)),
    // distribution-shift audit: pairwise KL + total variation between
    // the train/val/test unigram distributions of the X32 md5 split —
    // fully oracle-checked (6-dp rounded float aggregates)
    "X87_split_divergence" -> q(c =>
      TextAnalysis.splitDivergence(c.documents,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
    // embedding-space eval contamination: eval vectors (10% md5 slice)
    // whose nearest train neighbor clears the L07 similarity bar —
    // the semantic complement of X30/X46/X77; fully oracle-checked
    "X88_semantic_leakage" -> q(c =>
      graft.vector.Ann.semanticLeakage(c.embeddings,
        evalFrac = 0.1, threshold = 0.35)),
    // Zipf rank-frequency fit over the top-500 word types: OLS slope /
    // intercept / r² of ln(cnt) on ln(rk) — fully oracle-checked
    "X89_zipf_fit" -> q(c => TextAnalysis.zipfFit(c.documents, topV = 500)),
    // source-affinity LM matrix: each source's docs scored under every
    // source's bigram LM — the linguistic-distance signal mixture
    // design reads; fully oracle-checked
    "X92_source_lm_matrix" -> q(c =>
      TextAnalysis.sourceLmMatrix(c.documents)),
    // held-out bigram-LM fluency: the model is trained on the md5
    // train slice ONLY and scores every doc — the leakage-free eval
    // discipline (X70's self-trained twin rewards memorized dups);
    // fully oracle-checked
    "X91_heldout_logprob" -> q(c => {
      val sp = Scale.md5Split(c.documents, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      TextAnalysis.bigramLogProbFrom(
          sp.filter(col("split") === "train"), c.documents)
        .join(sp.select("doc_id", "split"), Seq("doc_id"))
        .select("doc_id", "split", "n_bigrams", "mean_logp")
        .orderBy("doc_id")
    }),
    // unified per-doc contamination verdict: verbatim n-gram (X30) +
    // MinHash near-dup off the banded mirror (X46) + embedding cosine
    // (X88) in one release-gate report — fully oracle-checked.
    // bandedTable(c) stays on the call: it refreshes the banded ORACLE
    // mirror X90's SQL candidate CTE reads, even though the Spark path
    // rides the persisted pair artifact
    "X90_decontamination_report" -> q(c =>
      graft.pipeline.TrainingSet.decontaminationReport(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"),
        bandedTable(c),
        c.embeddings,
        nearDupPairs = Some(crossNearDupsTable(c)),
        ngramScores = Some(contaminationTable(c)))),
    // the COMPOSED batch curation manifest: the X90 release gate, X78
    // near-dup starring, X81 perplexity gate and X74 temperature
    // mixture chained SEQUENTIALLY (each stage over the previous
    // stage's survivors), one verdict row per corpus doc — the "why is
    // doc X in the training set" table; fully oracle-checked (every
    // stage is an oracle-green operator and the composition is doc_id
    // set algebra). Rides the same persisted X30/X46 artifacts as X90.
    "X93_curation_manifest" -> q(x93Manifest),
    // the X79 epoch plan MATERIALIZED as the repeated training stream
    // (1 M-token budget, n^0.5 temperature over source): each doc
    // appears ⌊epochs⌋ times plus a coin-selected residual — expected
    // per-stratum token mass equals the flattened budget share; fully
    // oracle-checked (same plan arithmetic, same md5 coin)
    "X94_epoch_expand" -> q(c =>
      graft.pipeline.TrainingSet.epochExpand(
        c.documents, "source", budgetTokens = 1000000L, alpha = 0.5)),
    // leak-free split: md5 split keyed on the near-dup CLUSTER id
    // (persisted pair artifact), so no verified pair ever crosses a
    // split boundary — the fix for what X77 audits; fully
    // oracle-checked (recursive-CTE clusters + the X32 cutoff chain)
    "X95_leakfree_split" -> q(c => {
      bandedTable(c) // refreshes the oracle mirror (X84's idiom)
      graft.pipeline.TrainingSet.leakFreeSplit(
        c.documents, vpairsTable(c),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),
    // longest verbatim benchmark-overlap run per doc (GPT-3 appendix-C
    // shape): the span-length complement of X30's overlap fraction —
    // all-integer, fully oracle-checked
    "X96_max_overlap_span" -> q(c =>
      TextAnalysis.maxBenchmarkOverlapSpan(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"))),
    // source-pair near-duplication matrix off the persisted verified-
    // pairs artifact — WHERE duplication lives, the mixture designer's
    // double-count signal; fully oracle-checked
    "X97_cross_source_dups" -> q(c => {
      bandedTable(c) // refreshes the oracle mirror (X84's idiom)
      MinHashDedup.crossSourceDupMatrix(c.documents, vpairsTable(c))
    }),
    // curriculum ordering: corpus ranked easiest-first by the X45
    // fluency score and NTILE-cut into 4 stages via the two-pass
    // global rank (no SinglePartition window); fully oracle-checked
    "X98_curriculum" -> q(c =>
      graft.pipeline.TrainingSet.curriculumOrder(c.documents, nStages = 4)),
    // asymmetric n-gram CONTAINMENT pairs (Broder): c/min(|A|,|B|) —
    // catches a doc embedded in a larger one where symmetric Jaccard
    // stays low; same capped kernel as X05; fully oracle-checked
    "X99_ngram_containment" -> q(c =>
      TextAnalysis.ngramContainmentPairsFromCounts(
        ngramPairCountsTable(c), threshold = 0.8)),
    // corpus-vs-reference distribution drift: smoothed unigram KL both
    // ways + total variation (X87's kernel) against a frozen reference
    // snapshot — the ingest drift monitor; fully oracle-checked
    "X100_unigram_drift" -> q(c =>
      TextAnalysis.unigramDrift(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"))),
    // hybrid BM25+cosine retrieval fused by reciprocal-rank (RRF):
    // queries = docs 0-2 (first-5-token terms + their embedding);
    // each channel's top-20 with self excluded, fused 1/(60+rank),
    // fused top-10 — the production retrieval shape behind targeted
    // decontamination; fully oracle-checked
    "X101_hybrid_rrf" -> q(c =>
      graft.text.HybridRetrieval.rrfTopK(
        c.documents,
        c.embeddings,
        c.documents.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"),
            slice(TextAnalysis.tokens(col("text")), 1, 5).as("terms"))
          .join(c.embeddings.select(col("vec_id").as("query_id"),
            col("embedding").as("qvec")), Seq("query_id")),
        k = 10)),
    // held-out LM scoring under interpolated ABSOLUTE-DISCOUNT
    // (Kneser–Ney-style) smoothing — X91's leakage-free discipline
    // with the production smoothing family (continuation-count
    // interpolation, D = 0.75); fully oracle-checked
    "X102_kn_heldout_logprob" -> q(c => {
      val sp = Scale.md5Split(c.documents, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      TextAnalysis.bigramLogProbDiscounted(
          sp.filter(col("split") === "train"), c.documents)
        .join(sp.select("doc_id", "split"), Seq("doc_id"))
        .select("doc_id", "split", "n_bigrams", "mean_logp")
        .orderBy("doc_id")
    }),
    // perceptual-hash image near-dup: banded Hamming <= 7 over the
    // PERSISTED dHash table (originals + 16x16 re-encoded twins) —
    // exact by pigeonhole at 8 bands; the visual dedup channel; the
    // declared query is integer math downstream of the artifact,
    // fully oracle-checked
    "X103_phash_neardup" -> q(c =>
      MediaPipeline.phashNearDupPairs(
        c.spark.read.parquet(s"${phashDir(c)}/hashes"),
        maxHamming = 7)),
    // product-quantized ADC top-5: 8-byte codes + per-query lookup
    // tables over the PERSISTED codebook/codes artifact — the
    // compressed-tier ANN scan (32x below raw float32); fully
    // oracle-checked
    "X104_pq_adc_top5" -> q(c => {
      val idx = pqIndexDir(c)
      graft.vector.Pq.adcTopK(
        c.spark.read.parquet(s"$idx/codes"),
        c.spark.read.parquet(s"$idx/codebook"),
        pqQueries(c), k = 5, dsub = 8)
    }),
    // per-query recall@5 of the PQ ADC result against the exact-L2
    // ground truth — the self-audit a 100 TB operator reads before
    // trusting a compressed index tier; fully oracle-checked
    "X105_pq_recall" -> q(c => {
      val idx = pqIndexDir(c)
      graft.vector.Pq.recallAtK(
        graft.vector.Pq.adcTopK(
          c.spark.read.parquet(s"$idx/codes"),
          c.spark.read.parquet(s"$idx/codebook"),
          pqQueries(c), k = 5, dsub = 8),
        graft.vector.Pq.exactL2TopK(c.embeddings, pqQueries(c), k = 5))
    }),
    // ratio-margin pair mining between the label-0 and label-1
    // embedding sets (the published bitext-mining criterion:
    // neighborhood-normalized cosine, forward nn1 candidates); fully
    // oracle-checked
    "X106_margin_pairs" -> q(c =>
      graft.vector.Ann.marginMinedPairs(
        c.embeddings.filter(col("label") === 0),
        c.embeddings.filter(col("label") === 1),
        k = 4, threshold = 1.02)),
    // IVF+PQ — the production ANN pairing declared as one query:
    // coarse-probe the 4 nearest of the persisted IVF centroids, keep
    // only codes assigned to probed lists, ADC-rank the survivors;
    // every stage (probe ranking, assign argmax, lut, fold, top-5)
    // restated by the oracle over the two mirrored artifacts; fully
    // oracle-checked
    "X107_ivfpq_top5" -> q(c => {
      val pq = pqIndexDir(c)
      val ivf = ivfIndexDir(c)
      graft.vector.Pq.ivfAdcTopK(
        c.embeddings,
        c.spark.read.parquet(s"$pq/codes"),
        c.spark.read.parquet(s"$pq/codebook"),
        c.spark.read.parquet(s"$ivf/centroids"),
        pqQueries(c), k = 5, nProbe = 4, dsub = 8)
    }),
    // IVFADC proper — X107's composition with the RESIDUAL-encoded PQ
    // tier (codes quantize v − c_list, the production recall fix): the
    // per-(query, probed-list) residual lookup table restated by the
    // oracle as the same |x|²−2x·y+|y|² double expansion over the
    // mirrored codebook/codes/centroids; fully oracle-checked
    "X108_ivfadc_top5" -> q(c => {
      val pqr = pqrIndexDir(c)
      graft.vector.Pq.ivfAdcResidualTopK(
        c.spark.read.parquet(s"$pqr/codes"),
        c.spark.read.parquet(s"$pqr/codebook"),
        c.spark.read.parquet(s"$pqr/cents"),
        pqQueries(c), k = 5, nProbe = 4, dsub = 8)
    }),
    // recall@5 of the residual IVFADC result vs exact-L2 ground truth,
    // side by side with the plain-PQ X105 audit — the quality row that
    // shows what residual encoding buys at equal m/ks budget; fully
    // oracle-checked
    "X109_ivfadc_recall" -> q(c => {
      val pqr = pqrIndexDir(c)
      graft.vector.Pq.recallAtK(
        graft.vector.Pq.ivfAdcResidualTopK(
          c.spark.read.parquet(s"$pqr/codes"),
          c.spark.read.parquet(s"$pqr/codebook"),
          c.spark.read.parquet(s"$pqr/cents"),
          pqQueries(c), k = 5, nProbe = 16, dsub = 8),
        graft.vector.Pq.exactL2TopK(c.embeddings, pqQueries(c), k = 5))
    }),
    // the residual-encoding go/no-go ratio: avg |v − c_assigned|² over
    // avg |v|² against the L2-refined coarse quantizer — well below 1
    // means the residual tier beats plain PQ at equal budget; this
    // near-isotropic synthetic corpus reads 0.887 (only ~11% of mass
    // explained), honestly warning the tier buys little here, and the
    // mixed-metric pairing this replaced read 1.33; fully
    // oracle-checked
    "X110_residual_gain" -> q(c =>
      graft.vector.Pq.residualGain(
        c.embeddings,
        c.spark.read.parquet(s"${pqrIndexDir(c)}/cents"))),
    // the production two-stage serve: IVFADC nominates R=50 candidates
    // per query (compressed bytes only), then the exact re-rank
    // re-scores just those 50 with the raw vectors and keeps the true
    // top-5 among them — how a deployment buys back the compressed
    // tier's recall; fully oracle-checked
    "X111_ivfadc_rerank_top5" -> q(c => {
      val pqr = pqrIndexDir(c)
      graft.vector.Pq.rerankExact(
        graft.vector.Pq.ivfAdcResidualTopK(
          c.spark.read.parquet(s"$pqr/codes"),
          c.spark.read.parquet(s"$pqr/codebook"),
          c.spark.read.parquet(s"$pqr/cents"),
          pqQueries(c), k = 50, nProbe = 4, dsub = 8),
        pqQueries(c), c.embeddings, k = 5)
    }),
    // recall@5 of the re-ranked two-stage result at X109's probe
    // budget (nProbe = 16) — read next to X109: the delta between the
    // two rows IS what the exact re-rank stage buys; fully
    // oracle-checked
    "X112_rerank_recall" -> q(c => {
      val pqr = pqrIndexDir(c)
      graft.vector.Pq.recallAtK(
        graft.vector.Pq.rerankExact(
          graft.vector.Pq.ivfAdcResidualTopK(
            c.spark.read.parquet(s"$pqr/codes"),
            c.spark.read.parquet(s"$pqr/codebook"),
            c.spark.read.parquet(s"$pqr/cents"),
            pqQueries(c), k = 50, nProbe = 16, dsub = 8),
          pqQueries(c), c.embeddings, k = 5),
        graft.vector.Pq.exactL2TopK(c.embeddings, pqQueries(c), k = 5))
    }),
    // the probe-budget OPERATING CURVE, both shortlist policies side by
    // side: recall@5 of the full two-stage serve at nProbe ∈
    // {1,2,4,8,16} under (a) the naive FIXED R=50 shortlist and (b) the
    // production ADAPTIVE policy R = max(50, 16·nProbe)
    // (Pq.adaptiveShortlist, exercised through the deployable
    // Pq.ivfAdcServe operator). On this corpus fixed50 reads
    // 0.2→0.4→0.67→0.93→0.80 — the DROP past nProbe=8 is IVFADC
    // shortlist pressure (more probed lists flood the fixed ADC head
    // with quantization-close but truly-far candidates) — while auto
    // reads 0.2→0.4→0.67→1.0→1.0, monotone non-decreasing: the table
    // an operator reads to see both WHY R must grow with the probe
    // budget and that the serve's policy actually delivers it (PqSpec
    // additionally pins auto ≥ fixed at every budget). Per-(policy,
    // nprobe, query) rows over the SAME persisted artifact; fully
    // oracle-checked
    "X113_probe_recall_curve" -> q(c => {
      val pqr = pqrIndexDir(c)
      val codes = c.spark.read.parquet(s"$pqr/codes")
      val cb = c.spark.read.parquet(s"$pqr/codebook")
      val cents = c.spark.read.parquet(s"$pqr/cents")
      val qs = pqQueries(c)
      // one shared ranked scan serves all 10 (policy, budget) branches
      // (Pq.multiBudgetServe — the 10 independent serve chains re-read
      // codes and embeddings per branch); branch rows are pinned
      // identical to the per-budget rerankExact ∘ ivfAdcResidualTopK
      // composition by PqSpec, and the exact ground truth is computed
      // once (lazy checkpoint) instead of once per branch's recall join
      val exact = graft.vector.Pq.exactL2TopK(c.embeddings, qs, k = 5)
        .localCheckpoint(false)
      val branches = Seq(1, 2, 4, 8, 16).flatMap { p =>
        Seq(("fixed50", p, 50),
          ("auto", p, graft.vector.Pq.adaptiveShortlist(p)))
      }
      graft.vector.Pq.multiBudgetRecall(
        graft.vector.Pq.multiBudgetServe(codes, cb, cents, qs,
          c.embeddings, k = 5, branches, dsub = 8),
        exact, branches)
        .select("policy", "nprobe", "shortlist", "query_id",
          "n_hit", "n_exact", "recall")
        .orderBy("policy", "nprobe", "query_id")
    }),
    // the recall-TARGETED serve calibration — X113's curve turned into
    // the knob an operator actually has: for each recall target, the
    // smallest probe budget whose MICRO-averaged calibrated recall
    // (Σ hits / Σ exact over the sample — one integer division, so the
    // number is engine-exact) meets it, with the largest calibrated
    // budget as the honest fallback when none does. This is the
    // decision table Pq.ivfAdcServeAtRecall reads (its one
    // driver-side row); fully oracle-checked
    "X120_serve_calibration" -> q(c => {
      val pqr = pqrIndexDir(c)
      graft.vector.Pq.chooseProbeBudget(
        graft.vector.Pq.probeBudgetCurve(
          c.spark.read.parquet(s"$pqr/codes"),
          c.spark.read.parquet(s"$pqr/codebook"),
          c.spark.read.parquet(s"$pqr/cents"),
          pqQueries(c), c.embeddings, k = 5,
          budgets = Seq(1, 2, 4, 8, 16), dsub = 8),
        Seq(0.3, 0.6, 0.9, 0.99))
    }),
    // the curation manifest V2 — exact substring-level dedup (X118/X119,
    // Lee et al. ACL 2022) as STAGE 0 of the composed release pipeline:
    // duplicated token spans are cut from the corpus text FIRST, then
    // the X93 stage chain (decon channels, near-dup starring, LM gate,
    // mixture) runs entirely over the span-cleaned text, against a
    // banded index built over that same cleaned text. One row per
    // corpus doc: stage-0 token accounting (n_tokens, sub_dup_tokens)
    // + the full v1 verdict schema. Unlike X93 (which reads the
    // persisted channel artifacts), this query runs the channels
    // from scratch — the cleaned text has no pre-existing artifacts,
    // which is exactly the state a release hits the first time it
    // turns substring dedup on; fully oracle-checked
    "X121_curation_manifest_v2" -> q(x121Manifest),
    // the stage-ORDER impact report: the same corpus through BOTH
    // release orders — v1 (X93's artifact-backed manifest: verdicts on
    // raw text) and v2 (X121: substring span cut FIRST, verdicts on
    // cleaned text) — summarized per pipeline. This is the table a
    // release engineer reads to decide whether to pay the span-cut
    // stage: on this corpus it shows the cut subsuming the doc-level
    // near-dup mass (dedup_drops fall to zero) while keeping strictly
    // more unique content; fully oracle-checked. Both manifests come
    // from the write-once stamped store (the production shape — an
    // order-impact audit reads the two releases' persisted manifests,
    // it never re-runs both pipelines): X121 keeps measuring the v2
    // chain from scratch, X122 aggregates stored rows (VERDICT r13
    // item 4 — the shared stages are paid once per corpus, not twice)
    "X122_order_impact" -> q(c => {
      def stats(m: DataFrame, tag: String, subCut: Column) = m.agg(
        count(lit(1)).as("docs"),
        count(when(col("decon_verdict") === "drop", 1)).as("decon_drops"),
        count(when(col("dedup_verdict") === "drop", 1)).as("dedup_drops"),
        coalesce(subCut, lit(0L)).as("sub_cut_tokens"),
        count(when(col("keep"), 1)).as("kept"))
        .select(lit(tag).as("pipeline"), col("docs"), col("decon_drops"),
          col("dedup_drops"), col("sub_cut_tokens"), col("kept"))
      stats(x93ManifestStored(c), "v1_doc_level_first", sum(lit(0L)))
        .unionByName(
          stats(x121ManifestStored(c), "v2_span_cut_first",
            sum(col("sub_dup_tokens"))))
        .orderBy("pipeline")
    }),
    // CCNet-style normalization (Wenzek et al. 2020) vs raw
    // fingerprinting (TextAnalysis.normalizeText: native-codegen'd NFC
    // → casefold → digit fold → punctuation fold → whitespace
    // collapse): each corpus doc gets two planted variants that differ
    // ONLY in normalization-removable ways — v1 swaps 'a' for
    // precomposed U+00E1, v2 swaps 'a' for decomposed 'a'+COMBINING
    // ACUTE (U+0301) and uppercases the whole doc. Raw fingerprints
    // see three distinct documents; normalized fingerprints collapse
    // v1 ≡ v2 (NFC unifies the composition forms, casefold the case) —
    // exactly the near-dup class every raw-text dedup tier misses.
    // One row per union doc: its raw and normalized fingerprint-group
    // sizes and whether only normalization catches it. Oracle: DuckDB
    // nfc_normalize + lower + RE2 \p{N}/\p{P} (the same Unicode
    // categories Java's regex uses); fully oracle-checked — which is
    // what pins the Spark-vs-DuckDB normalization parity itself
    "X123_normalized_dedup" -> q(c => {
      val slice = c.documents.filter(col("doc_id") < 200)
        .select("doc_id", "text")
      val v1 = slice.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "a", "\u00e1").as("text"))
      val v2 = slice.select((col("doc_id") + 200000L).as("doc_id"),
        upper(regexp_replace(col("text"), "a", "a\u0301")).as("text"))
      val u = slice.unionByName(v1).unionByName(v2)
      val fp = u.select(col("doc_id"),
        md5(col("text")).as("rfp"),
        md5(graft.text.TextAnalysis.normalizeText(col("text"))).as("nfp"))
      val rawCnt = fp.groupBy("rfp").agg(count(lit(1)).as("raw_grp"))
      val normCnt = fp.groupBy("nfp").agg(count(lit(1)).as("norm_grp"))
      fp.join(rawCnt, Seq("rfp")).join(normCnt, Seq("nfp"))
        .select(col("doc_id"), col("raw_grp"), col("norm_grp"),
          (col("norm_grp") > col("raw_grp")).as("caught_by_normalization"))
        .orderBy("doc_id")
    }),
    // X124: spaceless-script near-dup shingling — space-stripped docs
    // transliterated a→ก, b→ข, … into the Thai consonant block
    // (U+0E01+, 3-byte UTF-8 — a REAL spaceless script, so the
    // dispatch's majority-non-ASCII guard is exercised on non-BMP-
    // trivial arithmetic), plus one-char-edited variants. Word
    // shingles see ONE token per doc (0 shingles — the whole near-dup
    // class is invisible), while the character-5-gram fallback
    // (TextAnalysis.charShingles, the MinHashConfig.charK path) scores
    // the pair ≈ 0.90 exact Jaccard. Per doc: the word-shingle count
    // (0), the doc-level dispatch verdict (TextAnalysis.spaceless — the
    // same integer arithmetic the native ShingleHash uses, BOTH
    // disjuncts majority-non-ASCII-guarded since r16), the char k-gram
    // stats and the pair's char Jaccard. Oracle: DuckDB substring/list
    // ops restate the code-point windows exactly — which pins the
    // Spark↔DuckDB char-shingle parity itself
    "X124_cjk_char_shingles" -> q(c => {
      val k = 5
      val thaiAlpha = (0 until 26)
        .map(i => new String(Character.toChars(0x0e01 + i)))
      val s1 = c.documents.filter(col("doc_id") < 150)
        .select(col("doc_id"), regexp_replace(col("text"), " ", "").as("s0"))
        .filter(col("s0").rlike("^[a-z]+$") && length(col("s0")) >= 100)
        .select(col("doc_id"),
          array_join(transform(graft.text.TextAnalysis.charUnits(col("s0")),
            ch => element_at(typedLit(thaiAlpha), ascii(ch) - 96)), "").as("s"))
        .select(col("doc_id"), col("s"),
          concat(substring(col("s"), 1, 49), lit("ฯ"),
            col("s").substr(lit(51), length(col("s")))).as("v"))
      def grams(cc: Column) =
        array_distinct(graft.text.TextAnalysis.charShingles(cc, k))
      val g = s1.select(col("doc_id"),
        size(graft.text.TextAnalysis.shingles(col("s"), 3)).cast("long")
          .as("n_word_shingles"),
        graft.text.TextAnalysis.spaceless(col("s"), 3).as("dispatch_char"),
        grams(col("s")).as("ga"), grams(col("v")).as("gb"))
      val jac = round(
        size(array_intersect(col("ga"), col("gb"))).cast("double") /
          (size(col("ga")) + size(col("gb")) -
            size(array_intersect(col("ga"), col("gb")))).cast("double"), 6)
      g.select(col("doc_id"), col("n_word_shingles"), col("dispatch_char"),
          size(col("ga")).cast("long").as("n_char_grams"),
          jac.as("char_jac"), (jac >= 0.8).as("caught_char"))
        .orderBy("doc_id")
    }),
    // X125: substring-tier spaceless dedup — duplicatedSpans with
    // charTokens over a mixed corpus: space-stripped docs (one token
    // each — the WORD windowing is structurally blind to them),
    // planted variants embedding a 40-char run of their original
    // between repeated-char fillers (cross-doc char spans, plus the
    // fillers' own self-/cross-dup runs), and the RAW wordy docs
    // riding along to pin the dispatch boundary (they must take the
    // word path — avg token length ~6 < 16). Oracle: the unified
    // units CASE (chars when len ≥ 16·ntok else words) + the X118
    // window/mark/merge SQL — which pins the whole char-unit
    // machinery, dispatch arithmetic included, against DuckDB
    "X125_cjk_substring_spans" -> q(c => {
      val slice = c.documents.filter(col("doc_id") < 120)
        .select(col("doc_id"), col("text"))
      // spaceless planted docs: space-stripped text transliterated
      // a→一, b→丁, … (char-indexed CJK alphabet, the chr(19968+k)
      // block) — genuinely non-ASCII, so the dispatch's
      // majority-non-ASCII test fires; the raw wordy docs ride along
      // ASCII and must take the word path
      val cjkAlpha = (0 until 26)
        .map(i => new String(Character.toChars(0x4e00 + i)))
      val sp = slice
        .select(col("doc_id"), regexp_replace(col("text"), " ", "").as("s"))
        .filter(col("s").rlike("^[a-z]+$"))
        .select(col("doc_id"),
          array_join(transform(graft.text.TextAnalysis.charUnits(col("s")),
            ch => element_at(typedLit(cjkAlpha), ascii(ch) - 96)), "").as("text"))
      val variants = sp.filter(length(col("text")) >= 80)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("q" * 15), substring(col("text"), 21, 40),
            lit("j" * 15)).as("text"))
      val wordy = slice.select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val u = sp.unionByName(variants).unionByName(wordy)
      graft.text.SubstringDedup
        .duplicatedSpans(u, 10, hashKeys = false, charTokens = true)
        .orderBy("doc_id", "span_start")
    }),
    // X126: RUN-LEVEL spaceless shingling (MinHashConfig.runLevel) —
    // the mixed-script gap the doc-level dispatch cannot see: a
    // standalone Thai doc (base, 100 cp) vs an ASCII-majority English
    // doc embedding 95 of those 100 cp as a quote. Doc-level signs
    // base as char grams and mixed as word shingles → Jaccard 0; the
    // run-level set (word shingles of the run-replaced remainder ∪
    // char 5-grams of each ≥16-cp non-ASCII run) shares the quote's
    // grams → Jaccard ≈ 0.8. Per doc: both dispatch verdicts, the
    // mixed doc's run count, doc-level and run-level Jaccards, and
    // catch flags at 0.7 (a run-level dedup config would set its
    // verify threshold there). Oracle: the X124 gram/dispatch SQL
    // extended with regexp_extract_all/regexp_replace run splitting —
    // which pins the Spark↔DuckDB run-segmentation parity itself
    "X126_runlevel_minhash" -> q(c => {
      val k = 5
      val thaiAlpha = (0 until 26)
        .map(i => new String(Character.toChars(0x0e01 + i)))
      val base0 = c.documents.filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"),
          regexp_replace(col("text"), " ", "").as("s0"))
        .filter(col("s0").rlike("^[a-z]+$") && length(col("s0")) >= 100)
      val pairsDf = base0.select(col("doc_id"),
          col("text"),
          array_join(transform(
            graft.text.TextAnalysis.charUnits(substring(col("s0"), 1, 100)),
            ch => element_at(typedLit(thaiAlpha), ascii(ch) - 96)), "").as("th"))
        .select(col("doc_id"), col("th").as("base_text"),
          concat(substring(col("text"), 1, 50), lit(" "),
            substring(col("th"), 1, 95), lit(" "),
            substring(col("text"), 51, 50)).as("mixed_text"))
      def setDoc(cc: Column) =
        array_distinct(graft.text.TextAnalysis.shinglesAuto(cc, 3, k))
      def setRun(cc: Column) =
        array_distinct(graft.text.TextAnalysis.shinglesAuto(cc, 3, k, runLevel = true))
      def jac(a: Column, b: Column) = round(
        size(array_intersect(a, b)).cast("double") /
          (size(a) + size(b) - size(array_intersect(a, b))).cast("double"), 6)
      pairsDf.select(col("doc_id"),
          graft.text.TextAnalysis.spaceless(col("base_text"), 3).as("dispatch_base"),
          graft.text.TextAnalysis.spaceless(col("mixed_text"), 3).as("dispatch_mixed"),
          size(graft.text.TextAnalysis.scriptRuns(col("mixed_text")))
            .cast("long").as("n_runs_mixed"),
          jac(setDoc(col("base_text")), setDoc(col("mixed_text"))).as("jac_doc"),
          jac(setRun(col("base_text")), setRun(col("mixed_text"))).as("jac_run"))
        .select(col("doc_id"), col("dispatch_base"), col("dispatch_mixed"),
          col("n_runs_mixed"), col("jac_doc"), col("jac_run"),
          (col("jac_doc") >= 0.7).as("caught_doc"),
          (col("jac_run") >= 0.7).as("caught_run"))
        .orderBy("doc_id")
    }),
    // X127: run-level SUBSTRING dedup (SubstringDedup
    // .duplicatedSpansRunLevel) over a planted 4-class corpus:
    // originals (wordy), two mixed variants A/B embedding the same
    // 95-cp Thai quote between stretches of the original's words, and
    // the homogeneous Thai doc. Char tier: A's run is canonical, so B
    // and the homo doc carry 95-unit cut spans — the quote class no
    // doc-level tier can see (A/B are ASCII-majority). Word tier: A/B
    // share their 100-char word prefix with the ORIGINAL (canonical),
    // so both carry word spans over the SPLICED text. Oracle: the
    // X125 window/mark/merge SQL run TWICE — once over the virtual
    // char corpus (runs via regexp_extract_all with zip ordinality +
    // homo whole-docs), then, after rebuilding each mixed doc's
    // cleaned runs into its stretches (string_split_regex + list
    // interleave), once over the spliced word corpus — which pins the
    // whole two-stage composition against DuckDB
    "X127_runlevel_substring" -> q(c => {
      val thaiAlpha = (0 until 26)
        .map(i => new String(Character.toChars(0x0e01 + i)))
      val withThai = c.documents.filter(col("doc_id") < 120)
        .select(col("doc_id"), col("text"),
          regexp_replace(col("text"), " ", "").as("s0"))
        .filter(col("s0").rlike("^[a-z]+$") && length(col("s0")) >= 100)
        .select(col("doc_id"), col("text"),
          array_join(transform(
            graft.text.TextAnalysis.charUnits(substring(col("s0"), 1, 100)),
            ch => element_at(typedLit(thaiAlpha), ascii(ch) - 96)), "").as("th"))
      val quote = substring(col("th"), 1, 95)
      val orig = withThai.select(col("doc_id"), col("text"))
      val va = withThai.select((col("doc_id") + 100000L).as("doc_id"),
        concat(substring(col("text"), 1, 100), lit(" "), quote, lit(" "),
          substring(col("text"), 101, 60)).as("text"))
      val vb = withThai.select((col("doc_id") + 200000L).as("doc_id"),
        concat(substring(col("text"), 1, 100), lit(" "), quote, lit(" "),
          substring(col("text"), 161, 60)).as("text"))
      val homo = withThai.select(
        (col("doc_id") + 300000L).as("doc_id"), col("th").as("text"))
      val u = orig.unionByName(va).unionByName(vb).unionByName(homo)
      graft.text.SubstringDedup.duplicatedSpansRunLevel(u, 10, hashKeys = false)
        .orderBy("doc_id", "tier", "run_idx", "span_start")
    }),
    // X128: the COMPOSED run-level release (VERDICT r16 item 1) — the
    // X121 v2 curation pipeline with runLevel end to end: stage 0 =
    // cleanCorpusRunLevel (X127's two-stage span cut), near-dup stage
    // AND decon channel under MinHashConfig.runLevel (X126's one-pass
    // word∪run signing) off the run-level banded artifact, over the
    // X127 4-class corpus against a quote-embedding benchmark. The
    // manifest carries the stage-0 token accounting incl. the new
    // run_dup_chars column. Oracle: the X127 stage-0 SQL feeding the
    // X121 stage-chain SQL with run-level shingle sets (X126's
    // regexp run splitting) in both verify tiers — the full DuckDB
    // restatement of the composed release.
    "X128_runlevel_curation" -> q(c =>
      graft.pipeline.TrainingSet.curationManifestV2(
        rlFixture(c), rlBench(c), bandedRlTable(c), c.embeddings,
        deconDedup = RlDeconCfg, corpusDedup = RlCorpusCfg,
        runLevel = true)),
    // OPQ vs plain PQ at EQUAL m·ks budget (Ge et al. 2013 — a learned
    // orthogonal rotation before the subspace split; graft.vector.Opq):
    // recall@5 per (variant, query) over 25 queries against the
    // raw-space exact ground truth (rotation is orthogonal, so the
    // ground truth is unchanged). On this near-isotropic corpus the
    // rotation is a modest honest win (avg 0.232 vs 0.216 at 3
    // alternations) — the big wins live on anisotropic corpora
    // (OpqSpec's duplicated-dims fixture: −30% quantization error,
    // strict recall win); fully oracle-checked
    "X114_opq_recall" -> q(c => {
      val pq = pqIndexDir(c)
      val opq = opqIndexDir(c)
      val qs = opqQueries(c)
      // both variants score against the SAME exact ground truth —
      // materialize the tiny top-5 table once, not one exact-L2
      // corpus pass per recallAtK call
      val exact = graft.vector.Pq.exactL2TopK(c.embeddings, qs, k = 5)
        .localCheckpoint(false)
      val recPq = graft.vector.Pq.recallAtK(
        graft.vector.Pq.adcTopK(
          c.spark.read.parquet(s"$pq/codes"),
          c.spark.read.parquet(s"$pq/codebook"),
          qs, k = 5, dsub = 8),
        exact).withColumn("variant", lit("pq"))
      val recOpq = graft.vector.Pq.recallAtK(
        graft.vector.Opq.adcTopK(
          c.spark.read.parquet(s"$opq/codes"),
          c.spark.read.parquet(s"$opq/codebook"),
          c.spark.read.parquet(s"$opq/rotation"),
          qs, k = 5, dsub = 8),
        exact).withColumn("variant", lit("opq"))
      recOpq.unionByName(recPq)
        .select("variant", "query_id", "n_hit", "n_exact", "recall")
        .orderBy("variant", "query_id")
    }),
    // the OPQ training objective made visible: avg |R·x − y|² (y = the
    // PQ reconstruction of the stored codes) for the identity rotation
    // over the plain artifact vs the learned rotation over the OPQ
    // artifact — the number the alternation provably drives down
    // (0.5617 → 0.4843 on this corpus, −14% at equal budget), and the
    // go/no-go an operator reads next to X114's recall (the X110
    // discipline); fully oracle-checked
    "X115_opq_error" -> q(c => {
      val pq = pqIndexDir(c)
      val opq = opqIndexDir(c)
      val dim = Ann.dimOf(c.embeddings)
      val errPq = graft.vector.Opq.quantizationError(c.embeddings,
        graft.vector.Opq.identityRotation(c.spark, dim),
        c.spark.read.parquet(s"$pq/codebook"), dsub = 8)
        .withColumn("variant", lit("pq"))
      val errOpq = graft.vector.Opq.quantizationError(c.embeddings,
        c.spark.read.parquet(s"$opq/rotation"),
        c.spark.read.parquet(s"$opq/codebook"), dsub = 8)
        .withColumn("variant", lit("opq"))
      errOpq.unionByName(errPq)
        .select("variant", "n_vectors", "avg_q_error")
        .orderBy("variant")
    })
  )

  /** DuckDB-dialect oracles for the deterministic extras. The token
    * expressions mirror TextAnalysis exactly: whitespace split, empties
    * dropped, 1-based n-gram shingles.
    */
  /** Shared CTE chain: LSH candidate pairs off the MIRRORED banded
    * member table (plain bucket self-join — no capping term: the band
    * hash space is 2^64, so test corpora never produce an oversized
    * bucket and the Spark path's capped generation is exhaustive too),
    * exact-verified by 3-shingle Jaccard ≥ 0.8 over the SAME documents
    * table — the DuckDB restatement of candidatePairsFromBanded +
    * verifyCandidates. Used by the X15/X16/X29/X38 oracles.
    */
  private def bandedVerifiedCtes: String = {
    val b = s"$oracleIdxRoot/minhash_banded/*.parquet"
    s"""cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b') a
  JOIN read_parquet('$b') b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
      FROM documents WHERE doc_id IN (SELECT doc_id FROM cids)),
sh AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3) u),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN sh a ON cand.i = a.doc_id
                    JOIN sh b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2),
verified AS (SELECT inter.i, inter.j,
    ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
  FROM inter
  JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8)"""
  }

  /** Winners = every document except verified-pair losers (min doc_id
    * wins) — winnersFrom in SQL.
    */
  private def bandedWinnersSql: String =
    s"""WITH $bandedVerifiedCtes
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT j FROM verified)
ORDER BY doc_id""".trim

  /** Connected components over the verified pairs via transitive
    * closure (component id = min reachable doc_id) — the SQL
    * restatement of BOTH min-label propagation (X16) and
    * large-star/small-star (X29), which the specs pin equal.
    */
  private def bandedClustersSql: String =
    s"""WITH RECURSIVE $bandedVerifiedCtes,
edges AS (SELECT i AS a, j AS b FROM verified UNION SELECT j, i FROM verified),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node ORDER BY doc_id""".trim

  /** The persisted-IVF probe in SQL: nProbe nearest centroids by dot
    * product (unrounded, centroid_id tiebreak — Ivf.probeIndex's exact
    * arithmetic), partition-style list pruning, exact re-score rounded
    * to 6 dp. `k` then `keep` mirror the Spark form's limit(k) →
    * filter(≠probe) → limit(keep).
    */
  private def ivfProbeSql(k: Int, keep: Int): String = {
    val cents = s"$oracleIdxRoot/ivf/centroids/*.parquet"
    val vecs = s"$oracleIdxRoot/ivf/vectors/*/*.parquet"
    s"""WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
lists AS (SELECT centroid_id
  FROM read_parquet('$cents'), probe
  ORDER BY list_inner_product(centroid::DOUBLE[], probe.embedding::DOUBLE[]) DESC, centroid_id
  LIMIT 4),
topk AS (SELECT v.vec_id,
                ROUND(list_inner_product(v.embedding::DOUBLE[], p.embedding::DOUBLE[]), 6) AS cos
         FROM read_parquet('$vecs', hive_partitioning = true) v, probe p
         WHERE v.list_id IN (SELECT centroid_id FROM lists)
         ORDER BY cos DESC, vec_id
         LIMIT $k)
SELECT vec_id, cos FROM topk WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT $keep""".trim
  }

  /** The inline IVF query in SQL: assignment recomputed from the
    * MIRRORED centroids (identical to X11's inline centroid choice —
    * writeIndex derives them deterministically from the corpus), argmax
    * by (dot DESC, centroid_id) exactly like Ivf.assign's struct max.
    */
  private def ivfInlineSql: String = {
    val cents = s"$oracleIdxRoot/ivf/centroids/*.parquet"
    s"""WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
cents AS (SELECT centroid_id, centroid FROM read_parquet('$cents')),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS list_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                      c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c) z
  WHERE rk = 1),
lists AS (SELECT centroid_id FROM cents, probe
  ORDER BY list_inner_product(probe.embedding::DOUBLE[], centroid::DOUBLE[]) DESC, centroid_id
  LIMIT 4)
SELECT a.vec_id, ROUND(list_inner_product(p.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS cos
FROM assigned a, probe p
WHERE a.list_id IN (SELECT centroid_id FROM lists) AND a.vec_id <> 0
ORDER BY cos DESC, vec_id LIMIT 5""".trim
  }

  /** Shared CTE for the X60/X61 oracles: nearest-centroid assignment
    * over the MIRRORED k-means centroid parquet — the same argmax
    * (score desc, centroid_id asc) as [[graft.vector.SemDedup
    * .assignWithScore]], in portable SQL.
    */
  private def kmeansAssignedCte: String = {
    val cents = s"$oracleIdxRoot/kmeans/*.parquet"
    s"""cents AS (SELECT centroid_id, centroid FROM read_parquet('$cents')),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS list_id, sc FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) AS sc,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                      c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c) z
  WHERE rk = 1)"""
  }

  /** The X111/X112 two-stage pipeline parameterized by an unnested
    * (probe budget, policy) table — the shared CTE chain of the X113
    * operating curve and the X120 calibration wrapper (which
    * aggregates the same chain instead of restating it). Ends at the
    * `exact` ground-truth CTE; callers append their own final
    * aggregation.
    */
  private def probeCurveCtes: String = s"""
WITH pr AS (
  SELECT p, policy,
    CASE WHEN policy = 'fixed50' THEN 50 ELSE GREATEST(50, 16 * p) END AS r
  FROM (SELECT unnest([1, 2, 4, 8, 16]) AS p)
  CROSS JOIN (SELECT unnest(['auto', 'fixed50']) AS policy)),
ps AS (SELECT DISTINCT p FROM pr),
cb AS (SELECT sub, cid, centroid
       FROM read_parquet('$oracleIdxRoot/pqr/codebook/*.parquet')),
co AS (SELECT vec_id, list_id, codes
       FROM read_parquet('$oracleIdxRoot/pqr/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet')),
ranked AS (
  SELECT q.query_id, c.centroid_id AS list_id,
    [q.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE
     for i in range(1, len(q.embedding)+1)] AS qr,
    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
      - 2 * list_inner_product(q.embedding::DOUBLE[], c.centroid::DOUBLE[])
      + list_inner_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]),
      c.centroid_id) AS rn
  FROM q CROSS JOIN cents c),
probed AS (
  SELECT ps.p, z.query_id, z.list_id, z.qr
  FROM ranked z CROSS JOIN ps WHERE z.rn <= ps.p),
lut AS (
  SELECT p.p, p.query_id, p.list_id, cb.sub, cb.cid,
    list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                       p.qr[cb.sub*8+1 : cb.sub*8+8])
    - 2 * list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM probed p, cb),
ex AS (SELECT vec_id, list_id, unnest(codes) AS cid,
              generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.p, l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.list_id = e.list_id AND l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2, 3),
short AS (
  SELECT pr.policy, pr.p, pr.r, s.query_id, s.vec_id
  FROM scan s JOIN pr ON pr.p = s.p
  QUALIFY row_number() OVER (PARTITION BY pr.policy, pr.p, s.query_id
                             ORDER BY ROUND(s.d2, 6), s.vec_id) <= pr.r),
approx AS (
  SELECT s.policy, s.p, s.query_id, s.vec_id FROM (
    SELECT s.policy, s.p, s.query_id, s.vec_id,
      ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
        + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6)
        AS d2
    FROM short s
    JOIN q ON q.query_id = s.query_id
    JOIN embeddings e ON e.vec_id = s.vec_id) s
  QUALIFY row_number() OVER (PARTITION BY s.policy, s.p, s.query_id
                             ORDER BY s.d2, s.vec_id) <= 5),
exact AS (
  SELECT q.query_id, e.vec_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
    ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
      - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
      + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6),
    e.vec_id) <= 5)""".trim

  /** The X93 manifest oracle (v1 release order) — referenced by the
    * X93 map entry and nested verbatim inside X122's comparison.
    */
  private def x93OracleSql: String = {
    val b = s"$oracleIdxRoot/minhash_banded/*.parquet"
    s"""
WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
bench AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
ct AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM corpus),
csh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM ct WHERE len(toks) >= 5) u),
bt AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM bench),
bsh AS MATERIALIZED (SELECT DISTINCT s FROM (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM bt WHERE len(toks) >= 5) u),
ng AS MATERIALIZED (SELECT csh.doc_id,
         ROUND(CAST(COUNT(bsh.s) AS DOUBLE) / COUNT(*), 6) AS ngram_frac
       FROM csh LEFT JOIN bsh ON csh.s = bsh.s GROUP BY csh.doc_id),
cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b') a
  JOIN read_parquet('$b') b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id IN (SELECT doc_id FROM corpus)
    AND b.id IN (SELECT doc_id FROM bench)),
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
tt AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
       FROM documents WHERE doc_id IN (SELECT doc_id FROM cids)),
sh05 AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM tt WHERE len(toks) >= 3) u),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh05 GROUP BY doc_id),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN sh05 a ON cand.i = a.doc_id
                    JOIN sh05 b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2),
nd AS (SELECT DISTINCT inter.i AS doc_id
       FROM inter JOIN sz sa ON inter.i = sa.doc_id
                  JOIN sz sb ON inter.j = sb.doc_id
       WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
cemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM corpus)),
bemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM bench)),
sem AS (SELECT c.vec_id AS doc_id,
          ROUND(MAX(list_inner_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS semantic_cos
        FROM cemb c CROSS JOIN bemb b GROUP BY c.vec_id),
m0 AS MATERIALIZED (SELECT c.doc_id,
  COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) AS ngram_frac,
  (nd.doc_id IS NOT NULL) AS near_dup,
  sem.semantic_cos,
  CASE WHEN COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) >= 0.2
         OR nd.doc_id IS NOT NULL
         OR sem.semantic_cos >= 0.35 THEN 'drop' ELSE 'keep' END AS decon_verdict
  FROM corpus c
  LEFT JOIN ng ON c.doc_id = ng.doc_id
  LEFT JOIN nd ON c.doc_id = nd.doc_id
  LEFT JOIN sem ON c.doc_id = sem.doc_id),
s1 AS MATERIALIZED (SELECT doc_id FROM m0 WHERE decon_verdict = 'keep'),
cand8 AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b') a
  JOIN read_parquet('$b') b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
  WHERE a.id IN (SELECT doc_id FROM s1) AND b.id IN (SELECT doc_id FROM s1)),
cid8 AS (SELECT i AS doc_id FROM cand8 UNION SELECT j FROM cand8),
sh8 AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
        FROM documents WHERE doc_id IN (SELECT doc_id FROM cid8)) t
  WHERE len(toks) >= 3) u),
sz8 AS (SELECT doc_id, COUNT(*) AS sz FROM sh8 GROUP BY doc_id),
ix8 AS (SELECT cand8.i, cand8.j, COUNT(*) AS c
         FROM cand8 JOIN sh8 a ON cand8.i = a.doc_id
                    JOIN sh8 b ON cand8.j = b.doc_id AND a.s = b.s
         GROUP BY 1, 2),
ver8 AS (SELECT ix8.i, ix8.j FROM ix8
  JOIN sz8 sa ON ix8.i = sa.doc_id JOIN sz8 sb ON ix8.j = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
edges AS (SELECT i AS a, j AS b FROM ver8 UNION SELECT j, i FROM ver8),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node),
clus AS MATERIALIZED (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
qual AS (SELECT doc_id,
  CAST(len(list_distinct(list_filter(str_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_uniq
  FROM documents WHERE doc_id IN (SELECT doc_id FROM s1)),
mm AS (SELECT clus.cluster_id, clus.doc_id, qual.n_uniq FROM clus JOIN qual USING (doc_id)),
rw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_uniq DESC, doc_id) AS rk FROM mm),
win AS (SELECT doc_id FROM rw WHERE rk = 1),
ded AS MATERIALIZED (SELECT s1.doc_id,
  (cl.doc_id IS NULL OR w.doc_id IS NOT NULL) AS dedup_keep
  FROM s1 LEFT JOIN (SELECT DISTINCT doc_id FROM clus) cl ON s1.doc_id = cl.doc_id
          LEFT JOIN win w ON s1.doc_id = w.doc_id),
s3ids AS MATERIALIZED (SELECT doc_id FROM ded WHERE dedup_keep),
tp AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
       FROM documents WHERE doc_id IN (SELECT doc_id FROM s3ids)),
bgp AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM tp WHERE len(toks) >= 2) u),
mp AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgp GROUP BY w1, w2),
cxp AS (SELECT w1, SUM(c12) AS c1 FROM mp GROUP BY w1),
vp AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM tp) z),
sp AS MATERIALIZED (SELECT bgp.doc_id,
         ROUND(AVG(log10(CAST(mp.c12 + 1 AS DOUBLE) / CAST(cxp.c1 + vp.v AS DOUBLE))), 6) AS mean_logp
       FROM bgp JOIN mp USING (w1, w2) JOIN cxp USING (w1) CROSS JOIN vp
       GROUP BY bgp.doc_id),
rp AS (SELECT doc_id, mean_logp,
         ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS rank FROM sp),
np AS (SELECT COUNT(*) AS n FROM sp),
ppl AS (SELECT rp.doc_id,
          CAST(FLOOR(CAST((rp.rank - 1) * 3 AS DOUBLE) / np.n) AS BIGINT) AS ppl_bucket
        FROM rp, np),
pplv AS MATERIALIZED (SELECT s3ids.doc_id, ppl.ppl_bucket,
           COALESCE(ppl.ppl_bucket < 2, FALSE) AS ppl_keep
         FROM s3ids LEFT JOIN ppl ON s3ids.doc_id = ppl.doc_id),
s4ids AS MATERIALIZED (SELECT doc_id FROM pplv WHERE ppl_keep),
cnt4 AS (SELECT d.lang, COUNT(*) AS n
         FROM documents d JOIN s4ids ON d.doc_id = s4ids.doc_id GROUP BY d.lang),
j4 AS (SELECT lang, n, pow(n, 0.5) AS t FROM cnt4),
tm4 AS (SELECT MIN(n / t) AS tmax FROM j4),
fr4 AS (SELECT lang, CASE WHEN n / t = tmax THEN 'g'
          WHEN tmax * t / n >= 1.0 THEN 'g'
          ELSE printf('%08x', CAST(least(floor(tmax * t / n * 4294967296), 4294967295) AS BIGINT)) END AS cut
        FROM j4 CROSS JOIN tm4),
mix AS (SELECT d.doc_id FROM documents d
        JOIN s4ids ON d.doc_id = s4ids.doc_id
        JOIN fr4 ON d.lang = fr4.lang
        WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || ':' || '42'), 1, 8) < fr4.cut),
mixv AS MATERIALIZED (SELECT s4ids.doc_id, (mix.doc_id IS NOT NULL) AS mixture_keep
         FROM s4ids LEFT JOIN mix ON s4ids.doc_id = mix.doc_id)
SELECT m0.doc_id, m0.ngram_frac, m0.near_dup, m0.semantic_cos, m0.decon_verdict,
  CASE WHEN ded.dedup_keep THEN 'keep' WHEN NOT ded.dedup_keep THEN 'drop' END AS dedup_verdict,
  pplv.ppl_bucket,
  CASE WHEN pplv.ppl_keep THEN 'keep' WHEN NOT pplv.ppl_keep THEN 'drop' END AS ppl_verdict,
  CASE WHEN mixv.mixture_keep THEN 'keep' WHEN NOT mixv.mixture_keep THEN 'drop' END AS mixture_verdict,
  COALESCE(mixv.mixture_keep, FALSE) AS keep
FROM m0
LEFT JOIN ded ON m0.doc_id = ded.doc_id
LEFT JOIN pplv ON m0.doc_id = pplv.doc_id
LEFT JOIN mixv ON m0.doc_id = mixv.doc_id
ORDER BY m0.doc_id
""".trim
  }

  /** The X121 manifest oracle (v2 release order): the X119
    * substring-clean chain (CTEs suffixed 0) produces the corpus the
    * X93 stage chain then runs over — text reads that were
    * `documents` become the cleaned corpus view (union'd with the
    * untouched benchmark where the verify needs both sides), the
    * banded index is the v2 mirror (built over the same cleaned
    * text), and the final row gains the stage-0 token accounting.
    * Referenced by the X121 map entry and nested inside X122.
    */
  private def x121OracleSql: String = {
    val b2 = s"$oracleIdxRoot/minhash_banded_v2/*.parquet"
    s"""
WITH RECURSIVE raw AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
t0 AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM raw),
w0 AS (SELECT doc_id, unnest(generate_series(1, len(words) - 9)) AS p, words FROM t0 WHERE len(words) >= 10),
k0 AS (SELECT doc_id, p, array_to_string(words[p : p+9], ' ') AS win FROM w0),
r0 AS (SELECT doc_id, p,
        COUNT(*) OVER (PARTITION BY win) AS occ,
        ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk
      FROM k0),
h0 AS (SELECT doc_id, p, p + 9 AS e FROM r0 WHERE occ > 1 AND rk > 1),
g0 AS (SELECT doc_id, p, e,
        CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS ng0
      FROM h0),
gg0 AS (SELECT *, SUM(ng0) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp FROM g0),
sp0 AS (SELECT doc_id, MIN(p) AS s, MAX(e) AS e2 FROM gg0 GROUP BY doc_id, grp),
pos0 AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS i FROM t0 WHERE len(words) >= 1),
kept0 AS (SELECT pos0.doc_id, pos0.i, pos0.words[pos0.i] AS wtok
          FROM pos0 LEFT JOIN sp0 ON pos0.doc_id = sp0.doc_id AND pos0.i BETWEEN sp0.s AND sp0.e2
          WHERE sp0.doc_id IS NULL),
agg0 AS (SELECT doc_id, COALESCE(string_agg(wtok, ' ' ORDER BY i), '') AS clean_text FROM kept0 GROUP BY doc_id),
dup0 AS (SELECT doc_id, SUM(e2 - s + 1) AS dup_tokens FROM sp0 GROUP BY doc_id),
stage0 AS MATERIALIZED (SELECT t0.doc_id,
    CAST(len(t0.words) AS BIGINT) AS n_tokens,
    CAST(COALESCE(dup0.dup_tokens, 0) AS BIGINT) AS sub_dup_tokens,
    COALESCE(agg0.clean_text, '') AS clean_text
  FROM t0 LEFT JOIN dup0 ON t0.doc_id = dup0.doc_id
          LEFT JOIN agg0 ON t0.doc_id = agg0.doc_id),
corpus AS (SELECT doc_id, clean_text AS text FROM stage0),
bench AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
alltext AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM bench),
ct AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM corpus),
csh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM ct WHERE len(toks) >= 5) u),
bt AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM bench),
bsh AS MATERIALIZED (SELECT DISTINCT s FROM (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM bt WHERE len(toks) >= 5) u),
ng AS MATERIALIZED (SELECT csh.doc_id,
         ROUND(CAST(COUNT(bsh.s) AS DOUBLE) / COUNT(*), 6) AS ngram_frac
       FROM csh LEFT JOIN bsh ON csh.s = bsh.s GROUP BY csh.doc_id),
cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b2') a
  JOIN read_parquet('$b2') b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id IN (SELECT doc_id FROM corpus)
    AND b.id IN (SELECT doc_id FROM bench)),
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
tt AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
       FROM alltext WHERE doc_id IN (SELECT doc_id FROM cids)),
sh05 AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM tt WHERE len(toks) >= 3) u),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh05 GROUP BY doc_id),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN sh05 a ON cand.i = a.doc_id
                    JOIN sh05 b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2),
nd AS (SELECT DISTINCT inter.i AS doc_id
       FROM inter JOIN sz sa ON inter.i = sa.doc_id
                  JOIN sz sb ON inter.j = sb.doc_id
       WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
cemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM corpus)),
bemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM bench)),
sem AS (SELECT c.vec_id AS doc_id,
          ROUND(MAX(list_inner_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS semantic_cos
        FROM cemb c CROSS JOIN bemb b GROUP BY c.vec_id),
m0 AS MATERIALIZED (SELECT c.doc_id,
  COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) AS ngram_frac,
  (nd.doc_id IS NOT NULL) AS near_dup,
  sem.semantic_cos,
  CASE WHEN COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) >= 0.2
         OR nd.doc_id IS NOT NULL
         OR sem.semantic_cos >= 0.35 THEN 'drop' ELSE 'keep' END AS decon_verdict
  FROM corpus c
  LEFT JOIN ng ON c.doc_id = ng.doc_id
  LEFT JOIN nd ON c.doc_id = nd.doc_id
  LEFT JOIN sem ON c.doc_id = sem.doc_id),
s1 AS MATERIALIZED (SELECT doc_id FROM m0 WHERE decon_verdict = 'keep'),
cand8 AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b2') a
  JOIN read_parquet('$b2') b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
  WHERE a.id IN (SELECT doc_id FROM s1) AND b.id IN (SELECT doc_id FROM s1)),
cid8 AS (SELECT i AS doc_id FROM cand8 UNION SELECT j FROM cand8),
sh8 AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
        FROM corpus WHERE doc_id IN (SELECT doc_id FROM cid8)) t
  WHERE len(toks) >= 3) u),
sz8 AS (SELECT doc_id, COUNT(*) AS sz FROM sh8 GROUP BY doc_id),
ix8 AS (SELECT cand8.i, cand8.j, COUNT(*) AS c
         FROM cand8 JOIN sh8 a ON cand8.i = a.doc_id
                    JOIN sh8 b ON cand8.j = b.doc_id AND a.s = b.s
         GROUP BY 1, 2),
ver8 AS (SELECT ix8.i, ix8.j FROM ix8
  JOIN sz8 sa ON ix8.i = sa.doc_id JOIN sz8 sb ON ix8.j = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
edges AS (SELECT i AS a, j AS b FROM ver8 UNION SELECT j, i FROM ver8),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node),
clus AS MATERIALIZED (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
qual AS (SELECT doc_id,
  CAST(len(list_distinct(list_filter(str_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_uniq
  FROM corpus WHERE doc_id IN (SELECT doc_id FROM s1)),
mm AS (SELECT clus.cluster_id, clus.doc_id, qual.n_uniq FROM clus JOIN qual USING (doc_id)),
rw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_uniq DESC, doc_id) AS rk FROM mm),
win AS (SELECT doc_id FROM rw WHERE rk = 1),
ded AS MATERIALIZED (SELECT s1.doc_id,
  (cl.doc_id IS NULL OR w.doc_id IS NOT NULL) AS dedup_keep
  FROM s1 LEFT JOIN (SELECT DISTINCT doc_id FROM clus) cl ON s1.doc_id = cl.doc_id
          LEFT JOIN win w ON s1.doc_id = w.doc_id),
s3ids AS MATERIALIZED (SELECT doc_id FROM ded WHERE dedup_keep),
tp AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
       FROM corpus WHERE doc_id IN (SELECT doc_id FROM s3ids)),
bgp AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM tp WHERE len(toks) >= 2) u),
mp AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgp GROUP BY w1, w2),
cxp AS (SELECT w1, SUM(c12) AS c1 FROM mp GROUP BY w1),
vp AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM tp) z),
sp AS MATERIALIZED (SELECT bgp.doc_id,
         ROUND(AVG(log10(CAST(mp.c12 + 1 AS DOUBLE) / CAST(cxp.c1 + vp.v AS DOUBLE))), 6) AS mean_logp
       FROM bgp JOIN mp USING (w1, w2) JOIN cxp USING (w1) CROSS JOIN vp
       GROUP BY bgp.doc_id),
rp AS (SELECT doc_id, mean_logp,
         ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS rank FROM sp),
np AS (SELECT COUNT(*) AS n FROM sp),
ppl AS (SELECT rp.doc_id,
          CAST(FLOOR(CAST((rp.rank - 1) * 3 AS DOUBLE) / np.n) AS BIGINT) AS ppl_bucket
        FROM rp, np),
pplv AS MATERIALIZED (SELECT s3ids.doc_id, ppl.ppl_bucket,
           COALESCE(ppl.ppl_bucket < 2, FALSE) AS ppl_keep
         FROM s3ids LEFT JOIN ppl ON s3ids.doc_id = ppl.doc_id),
s4ids AS MATERIALIZED (SELECT doc_id FROM pplv WHERE ppl_keep),
cnt4 AS (SELECT d.lang, COUNT(*) AS n
         FROM documents d JOIN s4ids ON d.doc_id = s4ids.doc_id GROUP BY d.lang),
j4 AS (SELECT lang, n, pow(n, 0.5) AS t FROM cnt4),
tm4 AS (SELECT MIN(n / t) AS tmax FROM j4),
fr4 AS (SELECT lang, CASE WHEN n / t = tmax THEN 'g'
          WHEN tmax * t / n >= 1.0 THEN 'g'
          ELSE printf('%08x', CAST(least(floor(tmax * t / n * 4294967296), 4294967295) AS BIGINT)) END AS cut
        FROM j4 CROSS JOIN tm4),
mix AS (SELECT d.doc_id FROM documents d
        JOIN s4ids ON d.doc_id = s4ids.doc_id
        JOIN fr4 ON d.lang = fr4.lang
        WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || ':' || '42'), 1, 8) < fr4.cut),
mixv AS MATERIALIZED (SELECT s4ids.doc_id, (mix.doc_id IS NOT NULL) AS mixture_keep
         FROM s4ids LEFT JOIN mix ON s4ids.doc_id = mix.doc_id)
SELECT m0.doc_id, s0.n_tokens, s0.sub_dup_tokens,
  m0.ngram_frac, m0.near_dup, m0.semantic_cos, m0.decon_verdict,
  CASE WHEN ded.dedup_keep THEN 'keep' WHEN NOT ded.dedup_keep THEN 'drop' END AS dedup_verdict,
  pplv.ppl_bucket,
  CASE WHEN pplv.ppl_keep THEN 'keep' WHEN NOT pplv.ppl_keep THEN 'drop' END AS ppl_verdict,
  CASE WHEN mixv.mixture_keep THEN 'keep' WHEN NOT mixv.mixture_keep THEN 'drop' END AS mixture_verdict,
  COALESCE(mixv.mixture_keep, FALSE) AS keep
FROM m0
JOIN stage0 s0 ON m0.doc_id = s0.doc_id
LEFT JOIN ded ON m0.doc_id = ded.doc_id
LEFT JOIN pplv ON m0.doc_id = pplv.doc_id
LEFT JOIN mixv ON m0.doc_id = mixv.doc_id
ORDER BY m0.doc_id
""".trim
  }

  /** The X128 manifest oracle (run-level release order): the X127
    * two-stage substring SQL becomes stage 0 (char windows over the
    * virtual run corpus, splice, word windows over the spliced text,
    * plus the clean-text rebuild and per-doc token accounting), and
    * the X121 stage chain runs over that cleaned corpus with RUN-LEVEL
    * shingle sets (the X126 regexp run-splitting SQL) in BOTH verify
    * tiers — near-dup decon at 0.5 and the corpus dedup stage at 0.8 —
    * candidates off the `minhash_banded_rl` mirror. Strata for the
    * mixture stage come from the fixture's lang column.
    */
  private def x128OracleSql: String = {
    val brl = s"$oracleIdxRoot/minhash_banded_rl/*.parquet"
    s"""
WITH RECURSIVE p0 AS (
  SELECT doc_id, lang, text, replace(text, ' ', '') AS s0
  FROM documents WHERE doc_id < 120),
f0 AS (
  SELECT doc_id, lang, text, substring(s0, 1, 100) AS s1
  FROM p0 WHERE regexp_matches(s0, '^[a-z]+$$') AND length(s0) >= 100),
th AS (
  SELECT doc_id, lang, text, array_to_string(list_transform(
    generate_series(1, length(s1)), i -> chr(unicode(s1[i:i]) + 3488)), '') AS t
  FROM f0),
u AS (
  SELECT doc_id, lang, text FROM th
  UNION ALL
  SELECT doc_id + 100000, lang, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 101, 60) FROM th
  UNION ALL
  SELECT doc_id + 200000, lang, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 161, 60) FROM th
  UNION ALL
  SELECT doc_id + 300000, lang, t FROM th),
bench AS (
  SELECT doc_id + 400000 AS doc_id,
    substring(text, 1, 80) || ' ' || substring(t, 1, 60) AS text
  FROM th),
cls AS (
  SELECT doc_id, text,
    (length(text) >= 16 * len(list_filter(str_split(text, ' '), x -> x <> ''))
      AND 2 * length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))
        >= length(text)) AS sp
  FROM u),
vruns AS (
  SELECT doc_id, list_zip(regexp_extract_all(text, '[^\\x00-\\x7F]{16,}'),
    generate_series(1, len(regexp_extract_all(text, '[^\\x00-\\x7F]{16,}')))) AS zz
  FROM cls WHERE NOT sp),
vhet AS (
  SELECT doc_id, z[1] AS t, CAST(z[2] AS INT) - 1 AS run_idx
  FROM (SELECT doc_id, unnest(zz) AS z FROM vruns)),
vd AS (
  SELECT doc_id, 0 AS run_idx, text AS t FROM cls WHERE sp
  UNION ALL
  SELECT doc_id, run_idx, t FROM vhet),
cw AS (
  SELECT doc_id, run_idx, unnest(generate_series(1, length(t) - 9)) AS p, t
  FROM vd WHERE length(t) >= 10),
ck AS (SELECT doc_id, run_idx, p, substring(t, p, 10) AS win FROM cw),
cr AS (SELECT doc_id, run_idx, p,
         COUNT(*) OVER (PARTITION BY win) AS occ,
         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, run_idx, p) AS rk
       FROM ck),
chh AS (SELECT doc_id, run_idx, p, p + 9 AS e FROM cr WHERE occ > 1 AND rk > 1),
cg AS (SELECT doc_id, run_idx, p, e,
         CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id, run_idx ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           THEN 1 ELSE 0 END AS ng
       FROM chh),
cgg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id, run_idx ORDER BY p
          ROWS UNBOUNDED PRECEDING) AS grp FROM cg),
cspans AS (
  SELECT doc_id, run_idx, MIN(p) AS span_start, MAX(e) AS span_end,
         MAX(e) - MIN(p) + 1 AS span_tokens
  FROM cgg GROUP BY doc_id, run_idx, grp),
rdup AS (SELECT doc_id, SUM(span_tokens) AS run_cut FROM cspans GROUP BY doc_id),
cov AS (
  SELECT doc_id, run_idx, unnest(generate_series(span_start, span_end)) AS q
  FROM cspans),
allpos AS (
  SELECT doc_id, run_idx, unnest(generate_series(1, length(t))) AS q, t FROM vd),
kept AS (
  SELECT ap.doc_id, ap.run_idx, ap.q, substring(ap.t, ap.q, 1) AS uu
  FROM allpos ap LEFT JOIN cov c
    ON ap.doc_id = c.doc_id AND ap.run_idx = c.run_idx AND ap.q = c.q
  WHERE c.q IS NULL),
ckagg AS (
  SELECT doc_id, run_idx, string_agg(uu, '' ORDER BY q) AS clean
  FROM kept GROUP BY doc_id, run_idx),
cclean AS (
  SELECT vd.doc_id, vd.run_idx, COALESCE(k.clean, '') AS clean
  FROM vd LEFT JOIN ckagg k
    ON vd.doc_id = k.doc_id AND vd.run_idx = k.run_idx),
runsclean AS (
  SELECT c0.doc_id, list(c0.clean ORDER BY c0.run_idx) AS cr2
  FROM cclean c0 JOIN cls ON c0.doc_id = cls.doc_id
  WHERE NOT cls.sp GROUP BY c0.doc_id),
spl0 AS (
  SELECT c.doc_id, string_split_regex(c.text, '[^\\x00-\\x7F]{16,}') AS st,
    COALESCE(r.cr2, CAST([] AS VARCHAR[])) AS cr2
  FROM (SELECT doc_id, text FROM cls WHERE NOT sp) c
  LEFT JOIN runsclean r ON c.doc_id = r.doc_id),
spliced AS (
  SELECT doc_id, array_to_string(list_transform(
    generate_series(1, len(st)), i -> st[i] || COALESCE(cr2[i], '')), '') AS text
  FROM spl0),
wt AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
       FROM spliced),
ww AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS p, toks
       FROM wt WHERE len(toks) >= 10),
wk AS (SELECT doc_id, p, array_to_string(toks[p : p + 9], ' ') AS win FROM ww),
wr AS (SELECT doc_id, p, COUNT(*) OVER (PARTITION BY win) AS occ,
         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk FROM wk),
wh AS (SELECT doc_id, p, p + 9 AS e FROM wr WHERE occ > 1 AND rk > 1),
wg AS (SELECT doc_id, p, e,
         CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           THEN 1 ELSE 0 END AS ng
       FROM wh),
wgg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id ORDER BY p
          ROWS UNBOUNDED PRECEDING) AS grp FROM wg),
wspans AS (SELECT doc_id, MIN(p) AS span_start, MAX(e) AS span_end,
             MAX(e) - MIN(p) + 1 AS span_tokens FROM wgg GROUP BY doc_id, grp),
wpos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
         FROM wt WHERE len(toks) >= 1),
wkept AS (SELECT wpos.doc_id, wpos.i, wpos.toks[wpos.i] AS tok
          FROM wpos LEFT JOIN wspans ON wpos.doc_id = wspans.doc_id
            AND wpos.i BETWEEN wspans.span_start AND wspans.span_end
          WHERE wspans.doc_id IS NULL),
wagg AS (SELECT doc_id, COALESCE(string_agg(tok, ' ' ORDER BY i), '') AS clean
         FROM wkept GROUP BY doc_id),
wdup AS (SELECT doc_id, SUM(span_tokens) AS dup FROM wspans GROUP BY doc_id),
stage0 AS MATERIALIZED (
  SELECT cls.doc_id,
    CAST(length(cls.text) AS BIGINT) AS n_tokens,
    CAST(COALESCE(rd.run_cut, 0) AS BIGINT) AS sub_dup_tokens,
    CAST(COALESCE(rd.run_cut, 0) AS BIGINT) AS run_dup_chars,
    cc.clean AS clean_text
  FROM cls
  JOIN cclean cc ON cls.doc_id = cc.doc_id AND cc.run_idx = 0
  LEFT JOIN rdup rd ON cls.doc_id = rd.doc_id
  WHERE cls.sp
  UNION ALL
  SELECT s.doc_id,
    CAST(len(wt.toks) AS BIGINT) AS n_tokens,
    CAST(COALESCE(wd.dup, 0) AS BIGINT) AS sub_dup_tokens,
    CAST(COALESCE(rd.run_cut, 0) AS BIGINT) AS run_dup_chars,
    COALESCE(wa.clean, '') AS clean_text
  FROM spliced s
  JOIN wt ON s.doc_id = wt.doc_id
  LEFT JOIN wdup wd ON s.doc_id = wd.doc_id
  LEFT JOIN wagg wa ON s.doc_id = wa.doc_id
  LEFT JOIN rdup rd ON s.doc_id = rd.doc_id),
corpus AS (SELECT doc_id, clean_text AS text FROM stage0),
alltext AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM bench),
rl0 AS (
  SELECT doc_id, text AS x,
    list_filter(str_split(text, ' '), w -> w <> '') AS toks,
    length(text) AS ls,
    length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS nasc,
    regexp_replace(text, '[^\\x00-\\x7F]{16,}', ' ', 'g') AS rem,
    regexp_extract_all(text, '[^\\x00-\\x7F]{16,}') AS runs
  FROM alltext),
rl1 AS (
  SELECT doc_id, x, toks, ls, runs,
    (2 * nasc >= ls AND (len(toks) < 3 OR ls >= 16 * len(toks))) AS sp,
    list_filter(str_split(rem, ' '), w -> w <> '') AS rtoks
  FROM rl0),
rlsets AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN sp THEN
      list_distinct(list_transform(range(1, ls - 3), i -> substring(x, i, 5)))
    ELSE
      list_distinct(list_concat(
        list_transform(range(1, len(rtoks) - 1),
          i -> array_to_string(rtoks[i:i+2], ' ')),
        flatten(list_transform(runs,
          r -> list_transform(range(1, length(r) - 3),
            i -> substring(r, i, 5))))))
    END AS ss
  FROM rl1),
shr AS (SELECT doc_id, unnest(ss) AS s FROM rlsets),
szall AS (SELECT doc_id, len(ss) AS sz FROM rlsets),
ct AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM corpus),
csh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM ct WHERE len(toks) >= 5) q1),
bt AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM bench),
bsh AS MATERIALIZED (SELECT DISTINCT s FROM (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM bt WHERE len(toks) >= 5) q2),
ng AS MATERIALIZED (SELECT csh.doc_id,
         ROUND(CAST(COUNT(bsh.s) AS DOUBLE) / COUNT(*), 6) AS ngram_frac
       FROM csh LEFT JOIN bsh ON csh.s = bsh.s GROUP BY csh.doc_id),
cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$brl') a
  JOIN read_parquet('$brl') b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id IN (SELECT doc_id FROM corpus)
    AND b.id IN (SELECT doc_id FROM bench)),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN shr a ON cand.i = a.doc_id
                    JOIN shr b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2),
nd AS (SELECT DISTINCT inter.i AS doc_id
       FROM inter JOIN szall sa ON inter.i = sa.doc_id
                  JOIN szall sb ON inter.j = sb.doc_id
       WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
cemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM corpus)),
bemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM bench)),
sem AS (SELECT c.vec_id AS doc_id,
          ROUND(MAX(list_inner_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS semantic_cos
        FROM cemb c CROSS JOIN bemb b GROUP BY c.vec_id),
m0 AS MATERIALIZED (SELECT c.doc_id,
  COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) AS ngram_frac,
  (nd.doc_id IS NOT NULL) AS near_dup,
  sem.semantic_cos,
  CASE WHEN COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) >= 0.2
         OR nd.doc_id IS NOT NULL
         OR sem.semantic_cos >= 0.35 THEN 'drop' ELSE 'keep' END AS decon_verdict
  FROM corpus c
  LEFT JOIN ng ON c.doc_id = ng.doc_id
  LEFT JOIN nd ON c.doc_id = nd.doc_id
  LEFT JOIN sem ON c.doc_id = sem.doc_id),
s1 AS MATERIALIZED (SELECT doc_id FROM m0 WHERE decon_verdict = 'keep'),
cand8 AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$brl') a
  JOIN read_parquet('$brl') b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
  WHERE a.id IN (SELECT doc_id FROM s1) AND b.id IN (SELECT doc_id FROM s1)),
ix8 AS (SELECT cand8.i, cand8.j, COUNT(*) AS c
         FROM cand8 JOIN shr a ON cand8.i = a.doc_id
                    JOIN shr b ON cand8.j = b.doc_id AND a.s = b.s
         GROUP BY 1, 2),
ver8 AS (SELECT ix8.i, ix8.j FROM ix8
  JOIN szall sa ON ix8.i = sa.doc_id JOIN szall sb ON ix8.j = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
edges AS (SELECT i AS a, j AS b FROM ver8 UNION SELECT j, i FROM ver8),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node),
clus AS MATERIALIZED (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
qual AS (SELECT doc_id,
  CAST(len(list_distinct(list_filter(str_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_uniq
  FROM corpus WHERE doc_id IN (SELECT doc_id FROM s1)),
mm AS (SELECT clus.cluster_id, clus.doc_id, qual.n_uniq FROM clus JOIN qual USING (doc_id)),
rw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_uniq DESC, doc_id) AS rk FROM mm),
win AS (SELECT doc_id FROM rw WHERE rk = 1),
ded AS MATERIALIZED (SELECT s1.doc_id,
  (cl.doc_id IS NULL OR w.doc_id IS NOT NULL) AS dedup_keep
  FROM s1 LEFT JOIN (SELECT DISTINCT doc_id FROM clus) cl ON s1.doc_id = cl.doc_id
          LEFT JOIN win w ON s1.doc_id = w.doc_id),
s3ids AS MATERIALIZED (SELECT doc_id FROM ded WHERE dedup_keep),
tp AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
       FROM corpus WHERE doc_id IN (SELECT doc_id FROM s3ids)),
bgp AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM tp WHERE len(toks) >= 2) q3),
mp AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgp GROUP BY w1, w2),
cxp AS (SELECT w1, SUM(c12) AS c1 FROM mp GROUP BY w1),
vp AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM tp) z),
sp AS MATERIALIZED (SELECT bgp.doc_id,
         ROUND(AVG(log10(CAST(mp.c12 + 1 AS DOUBLE) / CAST(cxp.c1 + vp.v AS DOUBLE))), 6) AS mean_logp
       FROM bgp JOIN mp USING (w1, w2) JOIN cxp USING (w1) CROSS JOIN vp
       GROUP BY bgp.doc_id),
rp AS (SELECT doc_id, mean_logp,
         ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS rank FROM sp),
np AS (SELECT COUNT(*) AS n FROM sp),
ppl AS (SELECT rp.doc_id,
          CAST(FLOOR(CAST((rp.rank - 1) * 3 AS DOUBLE) / np.n) AS BIGINT) AS ppl_bucket
        FROM rp, np),
pplv AS MATERIALIZED (SELECT s3ids.doc_id, ppl.ppl_bucket,
           COALESCE(ppl.ppl_bucket < 2, FALSE) AS ppl_keep
         FROM s3ids LEFT JOIN ppl ON s3ids.doc_id = ppl.doc_id),
s4ids AS MATERIALIZED (SELECT doc_id FROM pplv WHERE ppl_keep),
cnt4 AS (SELECT u.lang, COUNT(*) AS n
         FROM u JOIN s4ids ON u.doc_id = s4ids.doc_id GROUP BY u.lang),
j4 AS (SELECT lang, n, pow(n, 0.5) AS t FROM cnt4),
tm4 AS (SELECT MIN(n / t) AS tmax FROM j4),
fr4 AS (SELECT lang, CASE WHEN n / t = tmax THEN 'g'
          WHEN tmax * t / n >= 1.0 THEN 'g'
          ELSE printf('%08x', CAST(least(floor(tmax * t / n * 4294967296), 4294967295) AS BIGINT)) END AS cut
        FROM j4 CROSS JOIN tm4),
mix AS (SELECT uu.doc_id FROM u uu
        JOIN s4ids ON uu.doc_id = s4ids.doc_id
        JOIN fr4 ON uu.lang = fr4.lang
        WHERE substring(md5(CAST(uu.doc_id AS VARCHAR) || ':' || '42'), 1, 8) < fr4.cut),
mixv AS MATERIALIZED (SELECT s4ids.doc_id, (mix.doc_id IS NOT NULL) AS mixture_keep
         FROM s4ids LEFT JOIN mix ON s4ids.doc_id = mix.doc_id)
SELECT m0.doc_id, s0.n_tokens, s0.sub_dup_tokens, s0.run_dup_chars,
  m0.ngram_frac, m0.near_dup, m0.semantic_cos, m0.decon_verdict,
  CASE WHEN ded.dedup_keep THEN 'keep' WHEN NOT ded.dedup_keep THEN 'drop' END AS dedup_verdict,
  pplv.ppl_bucket,
  CASE WHEN pplv.ppl_keep THEN 'keep' WHEN NOT pplv.ppl_keep THEN 'drop' END AS ppl_verdict,
  CASE WHEN mixv.mixture_keep THEN 'keep' WHEN NOT mixv.mixture_keep THEN 'drop' END AS mixture_verdict,
  COALESCE(mixv.mixture_keep, FALSE) AS keep
FROM m0
JOIN stage0 s0 ON m0.doc_id = s0.doc_id
LEFT JOIN ded ON m0.doc_id = ded.doc_id
LEFT JOIN pplv ON m0.doc_id = pplv.doc_id
LEFT JOIN mixv ON m0.doc_id = mixv.doc_id
ORDER BY m0.doc_id
""".trim
  }

  val oracleSql: Map[String, String] = Map(
    // -- index-backed extras, oracle-checked against the MIRRORED
    // persisted artifacts (VERDICT r5 item 3): the signature/centroid
    // GENERATION is engine-specific (xxhash64), but everything
    // downstream of the persisted parquet — bucket self-join, exact
    // Jaccard verify, winner/cluster algebra, centroid probe — is plain
    // SQL DuckDB runs on the same files --
    "X07_minhash_dedup" -> bandedWinnersSql,
    "X15_minhash_from_sigs" -> bandedWinnersSql,
    "X38_minhash_from_banded" -> bandedWinnersSql,
    // sign-LSH ANN probe over the mirrored bucket-partitioned index:
    // probe bucket = vec 0's own partition, candidates = partitions
    // within Hamming radius 2, exact rescore, k=6 then self-exclusion
    // to 5 (X14's contract)
    "X09_ann_top5" -> {
      val vecs = s"$oracleIdxRoot/annlsh/vectors/*/*.parquet"
      s"""
WITH v AS (SELECT vec_id, embedding, CAST(bucket AS BIGINT) AS bucket
           FROM read_parquet('$vecs', hive_partitioning = true)),
probe AS (SELECT embedding AS pe, bucket AS pb FROM v WHERE vec_id = 0),
topk AS (SELECT v.vec_id,
                ROUND(list_inner_product(v.embedding::DOUBLE[], p.pe::DOUBLE[]), 6) AS cos
         FROM v, probe p
         WHERE bit_count(xor(v.bucket, p.pb)) <= 2
         ORDER BY cos DESC, vec_id LIMIT 6)
SELECT vec_id, cos FROM topk WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 5""".trim
    },
    // learned-quality SCORING from the mirrored weight + feature
    // parquet: σ(Σ v·w) per doc, 6-dp round, top-20 — fixed scalar SQL
    // downstream of the persisted artifacts (training itself stays
    // engine-specific and is spec-pinned)
    "X65_quality_classifier" -> s"""
WITH w AS (SELECT f, weight FROM read_parquet('$oracleIdxRoot/lr/weights/*.parquet')),
x AS (SELECT doc_id, f, v FROM read_parquet('$oracleIdxRoot/lr/feats/*.parquet')),
m AS (SELECT doc_id, SUM(v * weight) AS mg FROM x JOIN w USING (f) GROUP BY doc_id)
SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-mg)), 6) AS p_target
FROM m ORDER BY p_target DESC, doc_id LIMIT 20""".trim,
    "X16_dup_clusters" -> bandedClustersSql,
    "X29_dup_clusters_stars" -> bandedClustersSql,
    "X84_dedup_report" -> s"""
WITH RECURSIVE $bandedVerifiedCtes,
edges AS (SELECT i AS a, j AS b FROM verified UNION SELECT j, i FROM verified),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node),
cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
per AS (
  SELECT cluster_id, COUNT(*) AS cluster_size,
         SUM(d.n_chars) - arg_min(d.n_chars, d.doc_id) AS chars_lost
  FROM cl JOIN documents d USING (doc_id) GROUP BY cluster_id),
bstats AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN n > 4096 THEN n END), 0) AS BIGINT) AS capped_member_rows,
         CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_member_rows
  FROM (SELECT COUNT(*) AS n
        FROM read_parquet('$oracleIdxRoot/minhash_banded/*.parquet')
        GROUP BY band, bucket))
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_removed,
  CAST(SUM(chars_lost) AS BIGINT) AS chars_removed,
  s.capped_member_rows, s.total_member_rows,
  ROUND(CAST(s.capped_member_rows AS DOUBLE) /
        GREATEST(s.total_member_rows, 1), 6) AS capped_member_frac
FROM per CROSS JOIN bstats s
GROUP BY cluster_size, s.capped_member_rows, s.total_member_rows
ORDER BY cluster_size
""".trim,
    // simhash from the mirrored token-hash parquet: per-bit ±1 majority
    // vote, sign vector packed into one BIGINT (bit 63 via the
    // Long.MinValue literal — DuckDB's 1<<63 promotes to INT128);
    // disjoint bit values make SUM equal the bitwise OR exactly
    "X08_simhash" -> {
      val f = s"$oracleIdxRoot/simhash_tok/*.parquet"
      s"""
WITH th AS (SELECT doc_id, h FROM read_parquet('$f')),
bits AS (
  SELECT doc_id, g.i,
         SUM(CASE WHEN ((h >> g.i) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
  GROUP BY doc_id, g.i)
SELECT doc_id,
  CAST(SUM(CASE WHEN s >= 0 THEN
    CASE WHEN i = 63 THEN (-9223372036854775807::BIGINT - 1)
         ELSE (1::BIGINT << CAST(i AS INTEGER)) END
    ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id""".trim
    },
    // winnowing pairs from the mirrored fingerprint parquet: df stop
    // filter (<= 50 docs), fingerprint equi self-join, exact set
    // Jaccard >= 0.5 — integer-only arithmetic
    "X17_winnow_pairs" -> {
      val f = s"$oracleIdxRoot/winnow/*.parquet"
      s"""
WITH fp0 AS (SELECT doc_id, f FROM read_parquet('$f')),
rare AS (SELECT f FROM fp0 GROUP BY f HAVING COUNT(*) <= 50),
fp AS (SELECT doc_id, f FROM fp0 WHERE f IN (SELECT f FROM rare)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
          FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT inter.i, inter.j,
       ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
FROM inter
JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5
ORDER BY i, j""".trim
    },
    // cross-corpus near-dup decontamination from the same mirrored
    // banded index: corpus-side vs src0-side candidates on
    // (band, bucket), exact 3-gram shingle Jaccard >= 0.5
    "X46_neardup_decontaminate" -> {
      val b = s"$oracleIdxRoot/minhash_banded/*.parquet"
      s"""
WITH cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b') a
  JOIN read_parquet('$b') b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id IN (SELECT doc_id FROM documents WHERE source <> 'src0')
    AND b.id IN (SELECT doc_id FROM documents WHERE source = 'src0')),
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
      FROM documents WHERE doc_id IN (SELECT doc_id FROM cids)),
sh AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3) u),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN sh a ON cand.i = a.doc_id
                    JOIN sh b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2)
SELECT inter.i, inter.j,
       ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
FROM inter
JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5
ORDER BY i, j""".trim
    },
    "X11_ivf_top5" -> ivfInlineSql,
    "X14_ivf_index_probe" -> ivfProbeSql(k = 6, keep = 5),
    "X60_kmeans_clusters" -> s"""
WITH $kmeansAssignedCte
SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(sc), 6) AS avg_cos,
       ROUND(MIN(sc), 6) AS min_cos,
       ROUND(MAX(sc), 6) AS max_cos
FROM assigned GROUP BY list_id ORDER BY list_id
""".trim,
    "X61_semantic_dedup" -> s"""
WITH $kmeansAssignedCte,
hits AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS dp
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4),
k AS (SELECT j, MIN(i) AS kept_by FROM hits GROUP BY j)
SELECT k.j AS vec_id, k.kept_by, ROUND(h.dp, 6) AS cos
FROM k JOIN hits h ON h.j = k.j AND h.i = k.kept_by
ORDER BY vec_id
""".trim,
    "X82_diversity_sample" -> s"""
WITH $kmeansAssignedCte
SELECT vec_id, list_id FROM (
  SELECT vec_id, list_id, row_number() OVER (PARTITION BY list_id
    ORDER BY substring(md5(CAST(vec_id AS VARCHAR) || ':' || '42'), 1, 8), vec_id) AS rk
  FROM assigned) t
WHERE rk <= 10 ORDER BY list_id, vec_id
""".trim,
    "X85_semantic_outliers" -> s"""
WITH $kmeansAssignedCte
SELECT vec_id, list_id, ROUND(sc, 6) AS cos
FROM assigned WHERE sc < 0.3 ORDER BY vec_id
""".trim,
    "X62_importance_weights" -> """
WITH rw AS (SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS w
            FROM documents WHERE source <> 'src0'),
tw AS (SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS w
       FROM documents WHERE source = 'src0'),
cr AS (SELECT w, COUNT(*) AS cr FROM rw GROUP BY w),
ct AS (SELECT w, COUNT(*) AS ct FROM tw GROUP BY w),
vocab AS (SELECT COALESCE(cr.w, ct.w) AS w,
                 COALESCE(cr.cr, 0) AS cr, COALESCE(ct.ct, 0) AS ct
          FROM cr FULL OUTER JOIN ct ON cr.w = ct.w),
tot AS (SELECT COUNT(*) AS v, SUM(cr) AS r, SUM(ct) AS t FROM vocab),
lr AS (SELECT w,
              ln(CAST(ct + 1 AS DOUBLE) / (t + v)) - ln(CAST(cr + 1 AS DOUBLE) / (r + v)) AS lr
       FROM vocab CROSS JOIN tot)
SELECT rw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(lr.lr), 6) AS dsir_weight
FROM rw JOIN lr ON rw.w = lr.w
GROUP BY rw.doc_id ORDER BY rw.doc_id
""".trim,
    "X63_bm25_topk" -> graft.text.Bm25.topKSql(bm25QueryTerms, k = 20),
    "X66_bm25_join" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
postings AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
             GROUP BY term, doc_id, dl),
dfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term),
stats AS (SELECT COUNT(*) AS n_docs, SUM(CAST(dl AS BIGINT)) AS sum_dl FROM d),
q AS (SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest(toks[1:5]) AS term FROM t WHERE doc_id < 3) z),
scored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 6) AS score
  FROM q JOIN postings p ON q.term = p.term
         JOIN dfx ON q.term = dfx.term
         CROSS JOIN stats
  GROUP BY q.query_id, p.doc_id),
rk AS (SELECT query_id, doc_id, score,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
       FROM scored)
SELECT query_id, doc_id, score FROM rk WHERE r <= 5
ORDER BY query_id, score DESC, doc_id
""".trim,
    "X76_hard_negatives" -> {
      val bnd = s"$oracleIdxRoot/minhash_banded/*.parquet"
      s"""
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
postings AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
             GROUP BY term, doc_id, dl),
dfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term),
stats AS (SELECT COUNT(*) AS n_docs, SUM(CAST(dl AS BIGINT)) AS sum_dl FROM d),
q AS (SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest(toks) AS term FROM t WHERE doc_id < 3) z),
cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$bnd') a
  JOIN read_parquet('$bnd') b ON a.band = b.band AND a.bucket = b.bucket
  WHERE b.id < 3),
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
sh AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3 AND doc_id IN (SELECT doc_id FROM cids)) u),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN sh a ON cand.i = a.doc_id
                    JOIN sh b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2),
nd AS (SELECT inter.i, inter.j FROM inter
  JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
scored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 6) AS score
  FROM q JOIN postings p ON q.term = p.term
         JOIN dfx ON q.term = dfx.term
         CROSS JOIN stats
  GROUP BY q.query_id, p.doc_id),
kept AS (
  SELECT s.query_id, s.doc_id, s.score FROM scored s
  WHERE s.doc_id <> s.query_id
    AND NOT EXISTS (SELECT 1 FROM nd
                    WHERE nd.j = s.query_id AND nd.i = s.doc_id)),
rk AS (SELECT query_id, doc_id, score,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
       FROM kept)
SELECT query_id, doc_id, score FROM rk WHERE r <= 5
ORDER BY query_id, score DESC, doc_id""".trim
    },
    "X64_weighted_sample" -> """
WITH t AS (SELECT doc_id, len(list_filter(str_split(text, ' '), x -> x <> '')) AS n_tokens
           FROM documents)
SELECT doc_id, n_tokens,
       ROUND(ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8))::UBIGINT + 0.5)
                / 4294967296.0)
             / CAST(n_tokens AS DOUBLE), 6) AS es_key
FROM t ORDER BY es_key DESC, doc_id LIMIT 50
""".trim,
    "X67_dup_ngram_coverage" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
sh AS (SELECT doc_id, i AS pos,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS s
       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             FROM t WHERE len(toks) >= 5) u),
shared AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, pos FROM sh JOIN shared USING (s)),
sp AS (SELECT doc_id, COUNT(*) AS shared_pos FROM hits GROUP BY doc_id),
cov AS (SELECT doc_id, COUNT(DISTINCT p) AS covered FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS p FROM hits) z
        GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(sp.shared_pos, 0) AS BIGINT) AS shared_pos,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       ROUND(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / CAST(len(t.toks) AS DOUBLE), 6) AS dup_frac
FROM t LEFT JOIN sp ON t.doc_id = sp.doc_id LEFT JOIN cov ON t.doc_id = cov.doc_id
ORDER BY t.doc_id
""".trim,
    "X68_remove_shared_spans" -> """
WITH t AS (SELECT doc_id, text, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
sh AS (SELECT doc_id, i AS pos,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS s
       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             FROM t WHERE len(toks) >= 5) u),
shared AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, pos FROM sh JOIN shared USING (s)),
cov AS (SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS p FROM hits) z),
tokpos AS (SELECT doc_id, p, toks[p] AS tok
           FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p FROM t) u),
kept AS (SELECT tokpos.doc_id, string_agg(tokpos.tok, ' ' ORDER BY tokpos.p) AS ct
         FROM tokpos LEFT JOIN cov ON tokpos.doc_id = cov.doc_id AND tokpos.p = cov.p
         WHERE cov.p IS NULL
         GROUP BY tokpos.doc_id)
SELECT t.doc_id,
       CASE WHEN h.doc_id IS NULL THEN t.text ELSE COALESCE(k.ct, '') END AS text
FROM t
LEFT JOIN (SELECT DISTINCT doc_id FROM hits) h ON t.doc_id = h.doc_id
LEFT JOIN kept k ON t.doc_id = k.doc_id
ORDER BY t.doc_id
""".trim,
    "X70_bigram_logprob" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
cx AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t) z)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(log10(CAST(m.c12 + 1 AS DOUBLE) / CAST(cx.c1 + v.v AS DOUBLE))), 6) AS mean_logp
FROM bg JOIN m USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
GROUP BY bg.doc_id ORDER BY bg.doc_id
""".trim,
    "X81_perplexity_buckets" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
cx AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t) z),
s AS (SELECT bg.doc_id,
        ROUND(AVG(log10(CAST(m.c12 + 1 AS DOUBLE) / CAST(cx.c1 + v.v AS DOUBLE))), 6) AS mean_logp
      FROM bg JOIN m USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
      GROUP BY bg.doc_id),
r AS (SELECT doc_id, mean_logp,
        ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS rank FROM s),
n AS (SELECT COUNT(*) AS n FROM s)
SELECT r.doc_id, r.mean_logp, r.rank,
  CAST(FLOOR(CAST((r.rank - 1) * 3 AS DOUBLE) / n.n) AS BIGINT) AS bucket
FROM r, n ORDER BY r.rank
""".trim,
    "X71_pii_redact" -> {
      // generated from the SAME PiiPatterns constant the engine uses
      // (and the same email→url→phone→ipv4 order), so the two sides
      // cannot drift; the patterns are both-engine-valid by the X31
      // contract and contain no SQL-quoting metacharacters
      val byName = TextAnalysis.PiiPatterns.toMap
      val redacted = Seq("email", "url", "phone", "ipv4").foldLeft("text") {
        case (acc, name) =>
          val tag = s"[${name.toUpperCase(java.util.Locale.ROOT)}]"
          s"regexp_replace($acc, '${byName(name)}', '$tag', 'g')"
      }
      s"SELECT doc_id, $redacted AS text FROM documents ORDER BY doc_id"
    },
    "X72_scrub_benchmark" -> """
WITH c AS (SELECT doc_id, text, list_filter(str_split(text, ' '), x -> x <> '') AS toks
           FROM documents WHERE source <> 'src0'),
b AS (SELECT list_filter(str_split(text, ' '), x -> x <> '') AS toks
      FROM documents WHERE source = 'src0'),
bs AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS s
       FROM (SELECT toks, unnest(generate_series(1, len(toks) - 4)) AS i
             FROM b WHERE len(toks) >= 5) u),
sh AS (SELECT doc_id, i AS pos,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS s
       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             FROM c WHERE len(toks) >= 5) u),
hits AS (SELECT doc_id, pos FROM sh JOIN bs USING (s)),
cov AS (SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS p FROM hits) z),
tokpos AS (SELECT doc_id, p, toks[p] AS tok
           FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p FROM c) u),
kept AS (SELECT tokpos.doc_id, string_agg(tokpos.tok, ' ' ORDER BY tokpos.p) AS ct
         FROM tokpos LEFT JOIN cov ON tokpos.doc_id = cov.doc_id AND tokpos.p = cov.p
         WHERE cov.p IS NULL
         GROUP BY tokpos.doc_id)
SELECT c.doc_id,
       CASE WHEN h.doc_id IS NULL THEN c.text ELSE COALESCE(k.ct, '') END AS text
FROM c
LEFT JOIN (SELECT DISTINCT doc_id FROM hits) h ON c.doc_id = h.doc_id
LEFT JOIN kept k ON c.doc_id = k.doc_id
ORDER BY c.doc_id
""".trim,
    "X01_token_stats" -> """
WITH t AS (SELECT lang, len(list_filter(str_split(text, ' '), w -> w <> '')) AS tok FROM documents)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
       ROUND(AVG(tok), 4) AS avg_tokens
FROM t GROUP BY lang ORDER BY lang
""".trim,
    "X02_quality" -> """
WITH t AS (SELECT doc_id, n_chars, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM documents)
SELECT doc_id, n_chars, len(toks) AS n_tokens,
       ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS uniq_ratio,
       ROUND(CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks), 4) AS avg_tok_len
FROM t ORDER BY doc_id LIMIT 200
""".trim,
    "X41_funnel" -> """
WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
       WHERE e.event_type = 'click' GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT stage, n_users FROM (
  SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
  UNION ALL SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM s3) f
ORDER BY stage
""".trim,
    "X42_retention" -> """
WITH a AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events)
SELECT a.h, CAST(COUNT(*) AS BIGINT) AS active, CAST(COUNT(b.user_id) AS BIGINT) AS retained
FROM a LEFT JOIN a b ON b.user_id = a.user_id AND b.h = a.h + INTERVAL 1 HOUR
GROUP BY a.h ORDER BY a.h
""".trim,
    "X43_time_to_convert" -> """
WITH f AS (SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t1, MIN(f.t0) AS t0 FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= f.t0 GROUP BY e.user_id),
m AS (SELECT date_diff('second', t0, t1) / 60.0 AS m FROM c)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
  ROUND(MIN(m), 4) AS min_minutes,
  ROUND(quantile_cont(m, 0.5), 4) AS p50_minutes,
  ROUND(quantile_cont(m, 0.9), 4) AS p90_minutes,
  ROUND(MAX(m), 4) AS max_minutes
FROM m
""".trim,
    "X39_repetition" -> """
WITH wl AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS words FROM documents),
w AS (SELECT doc_id, unnest(words) AS w FROM wl),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, COUNT(*) AS n_uniq, MAX(c) AS top FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id, unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bg FROM wl),
bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb, COUNT(*) AS nbu FROM bc GROUP BY doc_id)
SELECT wa.doc_id, wa.n_words,
  ROUND((wa.n_words - wa.n_uniq) / CAST(wa.n_words AS DOUBLE), 6) AS dup_word_frac,
  ROUND(wa.top / CAST(wa.n_words AS DOUBLE), 6) AS top_word_frac,
  ROUND(COALESCE((ba.nb - ba.nbu) / CAST(ba.nb AS DOUBLE), 0.0), 6) AS dup_bigram_frac
FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id ORDER BY wa.doc_id
""".trim,
    "X44_filter_verdicts" -> """
WITH wl AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS words FROM documents),
w AS (SELECT doc_id, unnest(words) AS w FROM wl),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, COUNT(*) AS n_uniq, MAX(c) AS top FROM wc GROUP BY doc_id),
v AS (SELECT doc_id,
  (n_words >= 10 AND n_words <= 100000) AS ok_len,
  (ROUND((n_words - n_uniq) / CAST(n_words AS DOUBLE), 6) <= 0.9) AS ok_dup,
  (ROUND(top / CAST(n_words AS DOUBLE), 6) <= 0.3) AS ok_top
FROM wa)
SELECT doc_id, ok_len, ok_dup, ok_top, (ok_len AND ok_dup AND ok_top) AS keep
FROM v ORDER BY doc_id
""".trim,
    "X45_unigram_logprob" -> """
WITH w AS (SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS w FROM documents),
m AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
t AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM m)
SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(AVG(log10(m.c / t.total)), 6) AS mean_logp
FROM w JOIN m USING (w) CROSS JOIN t
GROUP BY w.doc_id ORDER BY w.doc_id
""".trim,
    "X40_segment_dedup" -> """
WITH s AS (
  SELECT doc_id, unnest(str_split(text, chr(10))) AS seg,
         generate_subscripts(str_split(text, chr(10)), 1) AS idx
  FROM documents
), r AS (
  SELECT doc_id, idx, seg,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
  FROM s
)
SELECT doc_id, COUNT(*) AS n_kept, string_agg(seg, chr(10) ORDER BY idx) AS text_deduped
FROM r WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id
""".trim,
    "X03_langid" -> """
WITH t AS (SELECT lang, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM documents),
c AS (SELECT lang,
  len(list_filter(toks, w -> w IN ('order','group','window'))) AS c_de,
  len(list_filter(toks, w -> w IN ('the','a','fast'))) AS c_en,
  len(list_filter(toks, w -> w IN ('data','table','row'))) AS c_es,
  len(list_filter(toks, w -> w IN ('query','join','merge'))) AS c_fr,
  len(list_filter(toks, w -> w IN ('hash','scan','sort'))) AS c_zh
FROM t),
p AS (SELECT lang, CASE WHEN c_de = m THEN 'de' WHEN c_en = m THEN 'en' WHEN c_es = m THEN 'es'
                        WHEN c_fr = m THEN 'fr' ELSE 'zh' END AS pred_lang
      FROM (SELECT *, greatest(c_de, c_en, c_es, c_fr, c_zh) AS m FROM c) x)
SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang
""".trim,
    "X04_fingerprint_dedup" -> """
SELECT keep_id, n FROM (
  SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n FROM documents GROUP BY md5(text)) x
WHERE n > 1 ORDER BY keep_id
""".trim,
    "X05_ngram_jaccard" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM documents),
sha AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3) u),
rare AS (SELECT s FROM sha GROUP BY s HAVING COUNT(*) <= 50),
sh AS (SELECT sha.doc_id, sha.s FROM sha JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT i, j, ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
FROM inter JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.6
ORDER BY i, j
""".trim,
    "X06_embed_neardup" -> """
SELECT a.vec_id AS i, b.vec_id AS j,
  ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4
ORDER BY i, j
""".trim,
    // X12's threshold-0.4 call sits in the non-pruning sign-LSH regime,
    // so the cost router takes the exact all-pairs scan — the result is
    // deterministically X06's, and the shared oracle pins the ROUTER's
    // decision too: if a geometry change ever sent X12 back down the
    // probabilistic banded path, this hash check would fail loudly
    "X12_embed_neardup_lsh" -> """
SELECT a.vec_id AS i, b.vec_id AS j,
  ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4
ORDER BY i, j
""".trim,
    "X30_decontaminate" -> """
WITH t AS (SELECT doc_id, source, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, source, s FROM (
  SELECT doc_id, source, unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM t WHERE len(toks) >= 5) u),
bs AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
cs AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cs GROUP BY doc_id),
hit AS (SELECT doc_id, COUNT(*) AS n_overlap FROM cs JOIN bs USING (s) GROUP BY doc_id)
SELECT tot.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
  CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
  ROUND(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_shingles, 6) AS overlap_frac
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id ORDER BY tot.doc_id
""".trim,
    "X31_pii_stats" -> """
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_email,
  CAST(SUM(len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%?=&#-]+'))) AS BIGINT) AS n_url,
  CAST(SUM(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}'))) AS BIGINT) AS n_ipv4,
  CAST(SUM(len(regexp_extract_all(text, '\+[0-9][0-9()\-. ]{7,}[0-9]'))) AS BIGINT) AS n_phone
FROM documents GROUP BY source ORDER BY source
""".trim,
    // X28 shares the exact-pairs oracle: within a shared LSH bucket the
    // int8 bound admits every true pair (provable superset + exact
    // re-score), and the 4x80 banding catches every qualifying pair on
    // the test corpora (expected misses ~1e-3, verified at all 3 SFs;
    // seed-fixed, so the equality is reproducible, not flaky)
    "X28_quantized_neardup" -> """
SELECT a.vec_id AS i, b.vec_id AS j,
  ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4
ORDER BY i, j
""".trim,
    "X18_packing" -> """
WITH t AS (SELECT doc_id, CAST(len(list_filter(str_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
SELECT doc_id, n_tokens, CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 4096) AS BIGINT) AS bin
FROM c ORDER BY doc_id
""".trim,
    "X20_asof_native" -> Contract.byId("J10").duckSql,
    "X21_normalize" -> """
SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '  *', ' ', 'g')) AS norm
FROM documents ORDER BY doc_id
""".trim,
    "X22_pivot" -> """
SELECT o_orderpriority,
  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""".trim,
    "X23_unpivot" -> """
SELECT p_partkey, attr, val FROM (
  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part) u
ORDER BY p_partkey, attr
""".trim,
    "X19_profile" -> Seq("doc_id", "lang", "n_chars", "source", "text").map(c =>
      s"""SELECT '$c' AS "column", COUNT($c) AS n_nonnull,
         | COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
         | CAST(MIN($c) AS VARCHAR) AS mn, CAST(MAX($c) AS VARCHAR) AS mx
         | FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),
    "X24_bpe_token_stats" -> """
WITH t AS (SELECT lang,
  CAST(len(list_filter(str_split(text, ' '), w -> w <> '')) AS BIGINT) AS ws,
  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS bpe
FROM documents)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens, ROUND(AVG(bpe), 4) AS avg_bpe_tokens
FROM t GROUP BY lang ORDER BY lang
""".trim,
    // quality-aware winners: the X16 recursive-closure clusters joined
    // with the distinct-token mass, same (n_uniq DESC, doc_id) window
    "X78_quality_winners" -> s"""WITH RECURSIVE $bandedVerifiedCtes,
edges AS (SELECT i AS a, j AS b FROM verified UNION SELECT j, i FROM verified),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node),
clus AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
qual AS (SELECT doc_id,
  CAST(len(list_distinct(list_filter(str_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_uniq
  FROM documents),
m AS (SELECT clus.cluster_id, clus.doc_id, qual.n_uniq FROM clus JOIN qual USING (doc_id)),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_uniq DESC, doc_id) AS rk FROM m),
n AS (SELECT cluster_id, COUNT(*) AS n_members FROM m GROUP BY cluster_id)
SELECT r.cluster_id, r.doc_id AS keep_id, r.n_uniq, n.n_members
FROM r JOIN n USING (cluster_id) WHERE rk = 1 ORDER BY r.cluster_id""".trim,
    "X80_budget_cut" -> """
WITH t AS (SELECT doc_id,
  len(list_filter(str_split(text, ' '), w -> w <> '')) AS n_tokens
  FROM documents),
o AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, row_number() OVER (
    ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8), doc_id) AS shuffle_pos
  FROM t),
c AS (SELECT *, SUM(n_tokens) OVER (ORDER BY shuffle_pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens FROM o)
SELECT doc_id, shuffle_pos, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens - n_tokens < 5000 ORDER BY shuffle_pos
""".trim,
    "X79_epoch_plan" -> """
WITH t AS (SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(list_filter(str_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source HAVING n_tokens > 0),
z AS (SELECT SUM(POW(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM t)
SELECT source, n_docs, n_tokens,
  ROUND(POW(CAST(n_tokens AS DOUBLE), 0.5) / z, 6) AS weight,
  ROUND(CAST(1000000000 AS DOUBLE) * POW(CAST(n_tokens AS DOUBLE), 0.5) / z / CAST(n_tokens AS DOUBLE), 4) AS epochs
FROM t, z ORDER BY source
""".trim,
    "X69_compression_ratio" -> s"""
SELECT doc_id, raw_bytes, deflate_bytes,
  ROUND(CAST(deflate_bytes AS DOUBLE) / GREATEST(raw_bytes, 1), 6) AS compression_ratio
FROM read_parquet('$oracleIdxRoot/deflate/*.parquet') ORDER BY doc_id
""".trim,
    "X59_bpe_token_freq" -> s"""
SELECT token, COUNT(*) AS freq
FROM read_parquet('$oracleIdxRoot/bpe_encoded/*.parquet')
GROUP BY token ORDER BY freq DESC, token LIMIT 20
""".trim,
    "X83_tokenizer_fertility" -> s"""
WITH toks AS (
  SELECT doc_id, COUNT(*) AS n_tokens
  FROM read_parquet('$oracleIdxRoot/bpe_encoded/*.parquet') GROUP BY doc_id),
w AS (
  SELECT doc_id, lang, n_chars,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_words
  FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(n_words) AS BIGINT) AS total_words,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words), 6) AS tokens_per_word,
  ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 6) AS chars_per_token
FROM w JOIN toks USING (doc_id)
GROUP BY lang ORDER BY lang
""".trim,
    // media/audio/clip stats read the SAME mirrored feature parquet the
    // Spark queries just produced — decode is generation, these are the
    // portable exact-integer downstreams (micro-unit BIGINT features)
    "X10_media_features" -> s"""
SELECT kind, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
  MIN(width) AS min_w, MAX(width) AS max_w, MIN(height) AS min_h, MAX(height) AS max_h,
  ROUND(CAST(SUM(f_micro[1]) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_f0
FROM read_parquet('$oracleIdxRoot/media/feat/*.parquet')
GROUP BY kind ORDER BY kind
""".trim,
    "X25_media_resize" -> s"""
SELECT a.doc_id, a.kind AS src_kind, b.width, b.height,
  ROUND(CAST(b.f_micro[1] - a.f_micro[1] AS DOUBLE) / 1e6, 6) AS f0_shift
FROM read_parquet('$oracleIdxRoot/media/feat/*.parquet') a
JOIN read_parquet('$oracleIdxRoot/media/resized/*.parquet') b USING (doc_id)
ORDER BY a.doc_id
""".trim,
    "X26_audio_features" -> s"""
SELECT sample_rate, n_samples, COUNT(*) AS n_docs,
  CAST(MAX(duration_ms) AS BIGINT) AS duration_ms,
  ROUND(CAST(SUM(rms_micro) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_rms,
  CAST(SUM(zero_crossings) AS BIGINT) AS total_zc
FROM read_parquet('$oracleIdxRoot/audio_feat/*.parquet')
GROUP BY sample_rate, n_samples ORDER BY sample_rate, n_samples
""".trim,
    "X27_clip_frames" -> s"""
SELECT doc_id, MAX(n_frames) AS n_frames, COUNT(*) AS n_sampled,
  MIN(width) AS w, MIN(height) AS h,
  ROUND(CAST(SUM(f0_micro) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_f0
FROM read_parquet('$oracleIdxRoot/clip_frames/*.parquet')
GROUP BY doc_id ORDER BY doc_id
""".trim,
    "X77_split_leakage" -> {
      val b = s"$oracleIdxRoot/minhash_banded/*.parquet"
      s"""
WITH cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b') a
  JOIN read_parquet('$b') b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
      FROM documents WHERE doc_id IN (SELECT doc_id FROM cids)),
sh AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3) u),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN sh a ON cand.i = a.doc_id
                    JOIN sh b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2),
verified AS (SELECT inter.i, inter.j,
    ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
  FROM inter
  JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
sp AS (SELECT doc_id, CASE
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.8)}' THEN 'train'
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}' THEN 'val'
    ELSE 'test' END AS split
  FROM documents)
SELECT v.i, v.j, v.jac, si.split AS split_i, sj.split AS split_j
FROM verified v
JOIN sp si ON v.i = si.doc_id JOIN sp sj ON v.j = sj.doc_id
WHERE si.split <> sj.split
ORDER BY i, j""".trim
    },
    "X32_hash_split" -> s"""
WITH t AS (SELECT CASE
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.8)}' THEN 'train'
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}' THEN 'val'
    ELSE 'test' END AS split, n_chars
  FROM documents)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM t GROUP BY split ORDER BY split
""".trim,
    "X33_stratified_sample" -> s"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.5)}')
   OR (lang = 'fr' AND substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.25)}')
   OR (lang = 'de' AND substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.125)}')
ORDER BY doc_id
""".trim,
    "X47_shuffle_order" -> """
SELECT doc_id, row_number() OVER (
  ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8), doc_id) AS shuffle_pos
FROM documents ORDER BY shuffle_pos
""".trim,
    "X48_mixture_resample" -> """
WITH tgt(lang, t) AS (VALUES
  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.4 AS DOUBLE)), ('es', CAST(0.15 AS DOUBLE)),
  ('fr', CAST(0.15 AS DOUBLE)), ('zh', CAST(0.15 AS DOUBLE))),
counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
j AS (SELECT c.lang, c.n, tgt.t FROM counts c JOIN tgt USING (lang)),
tm AS (SELECT MIN(n / t) AS tmax FROM j),
fr AS (SELECT lang, CASE WHEN n / t = tmax THEN 'g'
         WHEN tmax * t / n >= 1.0 THEN 'g'
         ELSE printf('%08x', CAST(least(floor(tmax * t / n * 4294967296), 4294967295) AS BIGINT)) END AS cut
       FROM j CROSS JOIN tm)
SELECT d.doc_id, d.lang FROM documents d JOIN fr USING (lang)
WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || ':' || '42'), 1, 8) < fr.cut
ORDER BY d.doc_id
""".trim,
    "X74_temperature_mixture" -> """
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
j AS (SELECT lang, n, pow(n, 0.5) AS t FROM counts),
tm AS (SELECT MIN(n / t) AS tmax FROM j),
fr AS (SELECT lang, CASE WHEN n / t = tmax THEN 'g'
         WHEN tmax * t / n >= 1.0 THEN 'g'
         ELSE printf('%08x', CAST(least(floor(tmax * t / n * 4294967296), 4294967295) AS BIGINT)) END AS cut
       FROM j CROSS JOIN tm)
SELECT d.doc_id, d.lang FROM documents d JOIN fr USING (lang)
WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || ':' || '42'), 1, 8) < fr.cut
ORDER BY d.doc_id
""".trim,
    "X49_eval_sample" -> """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (
    PARTITION BY lang
    ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8), doc_id) AS rk
  FROM documents) t
WHERE rk <= 25 ORDER BY doc_id
""".trim,
    "X50_chunking" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
s AS (SELECT doc_id, words, len(words) AS n,
             unnest(range(0, greatest(len(words), 1), 48)) AS st FROM t)
SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
  CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens,
  array_to_string(words[st+1 : st+64], ' ') AS chunk
FROM s WHERE st = 0 OR st + 16 < n
ORDER BY doc_id, chunk_idx
""".trim,
    "X34_percentiles" -> """
SELECT lang,
  quantile_cont(n_chars, 0.25) AS p25,
  quantile_cont(n_chars, 0.5) AS p50,
  quantile_cont(n_chars, 0.75) AS p75,
  quantile_cont(n_chars, 0.9) AS p90
FROM documents GROUP BY lang ORDER BY lang
""".trim,
    "X35_bloom_semijoin" -> """
SELECT o_orderpriority, COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
FROM orders
WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal > 9000)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""".trim,
    // the same mask-and-shift bit-spread the native expression computes,
    // spelled out in portable SQL (decimal mask literals: DuckDB 1.0
    // parses 0x literals as 0)
    "X36_zorder" -> """
WITH b AS (SELECT p_partkey, p_size, CAST(p_partkey AS BIGINT) AS x, CAST(p_size AS BIGINT) AS y FROM part),
s1 AS (SELECT p_partkey, p_size, (x | (x << 16)) & 281470681808895 AS x, (y | (y << 16)) & 281470681808895 AS y FROM b),
s2 AS (SELECT p_partkey, p_size, (x | (x << 8)) & 71777214294589695 AS x, (y | (y << 8)) & 71777214294589695 AS y FROM s1),
s3 AS (SELECT p_partkey, p_size, (x | (x << 4)) & 1085102592571150095 AS x, (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
s4 AS (SELECT p_partkey, p_size, (x | (x << 2)) & 3689348814741910323 AS x, (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
s5 AS (SELECT p_partkey, p_size, (x | (x << 1)) & 6148914691236517205 AS x, (y | (y << 1)) & 6148914691236517205 AS y FROM s4)
SELECT p_partkey, p_size, x | (y << 1) AS z FROM s5 ORDER BY z, p_partkey LIMIT 200
""".trim,
    "X51_zorder3" -> """
SELECT p_partkey, p_size, CAST(length(p_name) AS BIGINT) AS name_len,
  CAST(
    list_sum(list_transform(range(0, 20), i -> ((CAST(p_partkey AS BIGINT) >> i) & 1) << (3*i))) +
    list_sum(list_transform(range(0, 20), i -> ((CAST(p_size    AS BIGINT) >> i) & 1) << (3*i + 1))) +
    list_sum(list_transform(range(0, 20), i -> ((CAST(length(p_name) AS BIGINT) >> i) & 1) << (3*i + 2)))
  AS BIGINT) AS z3
FROM part ORDER BY z3, p_partkey LIMIT 200
""".trim,
    "X52_knn_join" -> """
WITH s AS (
  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
    ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
r AS (SELECT qid, vec_id, cos,
  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM s)
SELECT qid, vec_id, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5 ORDER BY qid, rk
""".trim,
    "X53_vocab_coverage" -> """
WITH toks AS (SELECT unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS w FROM documents),
c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w),
t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM c),
r AS (SELECT w, cnt,
  row_number() OVER (ORDER BY cnt DESC, w) AS rk,
  SUM(cnt) OVER (ORDER BY cnt DESC, w ROWS UNBOUNDED PRECEDING) AS run FROM c)
SELECT CAST(rk AS BIGINT) AS rk, w, cnt, ROUND(run / tot, 6) AS coverage
FROM r, t WHERE rk <= 500 ORDER BY rk
""".trim,
    "X54_corpus_diff" -> """
WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 450),
n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
      FROM documents WHERE doc_id >= 50),
j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.doc_id IS NULL THEN 'added'
             WHEN o.text <> n.text THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT doc_id, status FROM j WHERE status <> 'unchanged' ORDER BY doc_id
""".trim,
    "X56_length_batches" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
s AS (SELECT doc_id, words, len(words) AS n,
             unnest(range(0, greatest(len(words), 1), 48)) AS st FROM t),
ch AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens
       FROM s WHERE st = 0 OR st + 16 < n),
k AS (SELECT *, n_tokens // 16 AS bucket,
        substring(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_idx AS VARCHAR) || ':' || '42'), 1, 8) AS coin
      FROM ch),
r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY coin, doc_id, chunk_idx) AS brn FROM k),
bo AS (SELECT bucket, CAST(ceil(COUNT(*) / CAST(8 AS DOUBLE)) AS BIGINT) AS nb FROM k GROUP BY bucket),
o AS (SELECT bucket, COALESCE(SUM(nb) OVER (ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS boff FROM bo)
SELECT r.doc_id, r.chunk_idx, r.n_tokens,
  CAST(o.boff + (r.brn - 1) // 8 AS BIGINT) AS batch_id
FROM r JOIN o USING (bucket) ORDER BY r.doc_id, r.chunk_idx
""".trim,
    "X73_token_packing" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
s AS (SELECT doc_id, words, len(words) AS n,
             unnest(range(0, greatest(len(words), 1), 48)) AS st FROM t),
ch AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens
       FROM s WHERE st = 0 OR st + 16 < n),
sp AS (SELECT doc_id, row_number() OVER (
         ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8), doc_id) AS shuffle_pos
       FROM documents),
r AS (SELECT ch.*, sp.shuffle_pos,
        SUM(ch.n_tokens) OVER (ORDER BY sp.shuffle_pos, ch.chunk_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM ch JOIN sp USING (doc_id))
SELECT doc_id, chunk_idx, n_tokens, CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
  CAST((run - n_tokens) // 256 AS BIGINT) AS pack_id,
  CAST((run - n_tokens) - ((run - n_tokens) // 256) * 256 AS BIGINT) AS pack_off
FROM r ORDER BY doc_id, chunk_idx
""".trim,
    "X75_pack_stats" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
s AS (SELECT doc_id, words, len(words) AS n,
             unnest(range(0, greatest(len(words), 1), 48)) AS st FROM t),
ch AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens
       FROM s WHERE st = 0 OR st + 16 < n),
sp AS (SELECT doc_id, row_number() OVER (
         ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8), doc_id) AS shuffle_pos
       FROM documents),
r AS (SELECT ch.*, sp.shuffle_pos,
        SUM(ch.n_tokens) OVER (ORDER BY sp.shuffle_pos, ch.chunk_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM ch JOIN sp USING (doc_id))
SELECT CAST((run - n_tokens) // 256 AS BIGINT) AS pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(n_tokens) AS BIGINT) AS fill_tokens,
  CAST(greatest(0, 256 - SUM(n_tokens)) AS BIGINT) AS pad_tokens
FROM r GROUP BY 1 ORDER BY pack_id
""".trim,
    // X116/X117: the X73 prefix-sum stream with the straddling chunk
    // SPLIT at the 256-token pack boundary — pieces = the chunk's token
    // span clipped per pack (generate_series over the packs the span
    // touches; a zero-token chunk lands as an empty piece in the pack
    // where it starts), then the per-pack manifest aggregate
    "X116_exact_packing" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
s AS (SELECT doc_id, words, len(words) AS n,
             unnest(range(0, greatest(len(words), 1), 48)) AS st FROM t),
ch AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         words[st+1 : st+64] AS cw,
         CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens
       FROM s WHERE st = 0 OR st + 16 < n),
sp AS (SELECT doc_id, row_number() OVER (
         ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8), doc_id) AS shuffle_pos
       FROM documents),
r AS (SELECT ch.*, sp.shuffle_pos,
        SUM(ch.n_tokens) OVER (ORDER BY sp.shuffle_pos, ch.chunk_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM ch JOIN sp USING (doc_id)),
p AS (SELECT r.*, run - n_tokens AS strt,
        CAST((run - n_tokens) // 256 AS BIGINT) AS b0,
        CAST(CASE WHEN n_tokens = 0 THEN (run - n_tokens) // 256
                  ELSE (run - 1) // 256 END AS BIGINT) AS b1
      FROM r),
pieces AS (SELECT p.*, unnest(generate_series(b0, b1)) AS pack_id FROM p)
SELECT doc_id, chunk_idx,
  CAST(pack_id - b0 AS BIGINT) AS piece_idx,
  CAST(pack_id AS BIGINT) AS pack_id,
  CAST(strt + greatest(0, pack_id*256 - strt) - pack_id*256 AS BIGINT) AS pack_off,
  CAST(least(n_tokens, (pack_id+1)*256 - strt)
       - greatest(0, pack_id*256 - strt) AS BIGINT) AS piece_tokens,
  array_to_string(cw[greatest(0, pack_id*256 - strt)+1 :
                     least(n_tokens, (pack_id+1)*256 - strt)], ' ') AS piece
FROM pieces ORDER BY doc_id, chunk_idx, piece_idx
""".trim,
    "X117_pack_manifest" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
s AS (SELECT doc_id, words, len(words) AS n,
             unnest(range(0, greatest(len(words), 1), 48)) AS st FROM t),
ch AS (SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         CAST(len(words[st+1 : st+64]) AS BIGINT) AS n_tokens
       FROM s WHERE st = 0 OR st + 16 < n),
sp AS (SELECT doc_id, row_number() OVER (
         ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8), doc_id) AS shuffle_pos
       FROM documents),
r AS (SELECT ch.*, sp.shuffle_pos,
        SUM(ch.n_tokens) OVER (ORDER BY sp.shuffle_pos, ch.chunk_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM ch JOIN sp USING (doc_id)),
p AS (SELECT r.*, run - n_tokens AS strt,
        CAST((run - n_tokens) // 256 AS BIGINT) AS b0,
        CAST(CASE WHEN n_tokens = 0 THEN (run - n_tokens) // 256
                  ELSE (run - 1) // 256 END AS BIGINT) AS b1
      FROM r),
pieces AS (
  SELECT p.doc_id, p.shuffle_pos, pk.pack_id,
    least(p.n_tokens, (pk.pack_id+1)*256 - p.strt)
      - greatest(0, pk.pack_id*256 - p.strt) AS piece_tokens
  FROM p, LATERAL (SELECT unnest(generate_series(p.b0, p.b1)) AS pack_id) pk)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_pieces,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(SUM(piece_tokens) AS BIGINT) AS n_tokens,
  CAST(MIN(shuffle_pos) AS BIGINT) AS first_pos,
  CAST(MAX(shuffle_pos) AS BIGINT) AS last_pos,
  SUM(piece_tokens) = 256 AS exact
FROM pieces GROUP BY 1 ORDER BY 1
""".trim,
    // X118/X119: exact substring dedup — stride-1 10-token windows, a
    // key seen more than once marks all but its globally-first
    // occurrence, covered positions merge into maximal spans
    // (gaps-and-islands), X119 cuts them and rejoins the survivors
    "X118_substring_dup_spans" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
w AS (SELECT doc_id, unnest(generate_series(1, len(words) - 9)) AS p, words FROM t WHERE len(words) >= 10),
k AS (SELECT doc_id, p, array_to_string(words[p : p+9], ' ') AS win FROM w),
r AS (SELECT doc_id, p,
        COUNT(*) OVER (PARTITION BY win) AS occ,
        ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk
      FROM k),
h AS (SELECT doc_id, p, p + 9 AS e FROM r WHERE occ > 1 AND rk > 1),
g AS (SELECT doc_id, p, e,
        CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS ng
      FROM h),
gg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp FROM g)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(MIN(p) AS BIGINT) AS span_start,
  CAST(MAX(e) AS BIGINT) AS span_end,
  CAST(MAX(e) - MIN(p) + 1 AS BIGINT) AS span_tokens
FROM gg GROUP BY doc_id, grp ORDER BY doc_id, span_start
""".trim,
    "X119_substring_dedup_clean" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS words FROM documents),
w AS (SELECT doc_id, unnest(generate_series(1, len(words) - 9)) AS p, words FROM t WHERE len(words) >= 10),
k AS (SELECT doc_id, p, array_to_string(words[p : p+9], ' ') AS win FROM w),
r AS (SELECT doc_id, p,
        COUNT(*) OVER (PARTITION BY win) AS occ,
        ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk
      FROM k),
h AS (SELECT doc_id, p, p + 9 AS e FROM r WHERE occ > 1 AND rk > 1),
g AS (SELECT doc_id, p, e,
        CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS ng
      FROM h),
gg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp FROM g),
sp AS (SELECT doc_id, MIN(p) AS s, MAX(e) AS e2 FROM gg GROUP BY doc_id, grp),
pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS i FROM t WHERE len(words) >= 1),
kept AS (SELECT pos.doc_id, pos.i, pos.words[pos.i] AS wtok
         FROM pos LEFT JOIN sp ON pos.doc_id = sp.doc_id AND pos.i BETWEEN sp.s AND sp.e2
         WHERE sp.doc_id IS NULL),
agg AS (SELECT doc_id, COALESCE(string_agg(wtok, ' ' ORDER BY i), '') AS clean_text FROM kept GROUP BY doc_id),
dup AS (SELECT doc_id, SUM(e2 - s + 1) AS dup_tokens FROM sp GROUP BY doc_id)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
  CAST(len(t.words) AS BIGINT) AS n_tokens,
  CAST(COALESCE(dup.dup_tokens, 0) AS BIGINT) AS dup_tokens,
  COALESCE(agg.clean_text, '') AS clean_text
FROM t LEFT JOIN dup ON t.doc_id = dup.doc_id LEFT JOIN agg ON t.doc_id = agg.doc_id
ORDER BY doc_id
""".trim,
    "X55_event_gaps" -> """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
d AS (SELECT user_id,
        us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_us,
  CAST(COALESCE(SUM(CASE WHEN gap > 3600000000 THEN 1 END), 0) AS BIGINT) AS n_long_gaps
FROM d GROUP BY user_id ORDER BY user_id
""".trim,
    "X13_tfidf_top3" -> """
WITH toks AS (SELECT doc_id, unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS w FROM documents),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (SELECT doc_id, tf.w AS w, tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
      FROM tf JOIN dfq ON tf.w = dfq.w CROSS JOIN n),
r AS (SELECT doc_id, w, tfidf,
      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn FROM s)
SELECT doc_id, rn, w, ROUND(tfidf, 6) AS score FROM r WHERE rn <= 3 ORDER BY doc_id, rn
""".trim,
    "X86_novelty_curve" -> """
WITH d AS (SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rn FROM documents),
nd AS (SELECT COUNT(*) AS n FROM documents),
b AS (SELECT CAST(((rn - 1) * 20) // n AS BIGINT) AS bucket, text FROM d, nd),
tk AS (SELECT bucket, unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS w FROM b),
fs AS (SELECT w, MIN(bucket) AS bucket FROM tk GROUP BY w),
nt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types FROM fs GROUP BY bucket),
pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(str_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
       FROM b GROUP BY bucket)
SELECT pb.bucket, pb.n_docs, pb.n_tokens,
  CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY pb.bucket
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM pb LEFT JOIN nt USING (bucket) ORDER BY bucket
""".trim,
    "X87_split_divergence" -> s"""
WITH sp AS (SELECT CASE
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.8)}' THEN 'train'
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}' THEN 'val'
    ELSE 'test' END AS split, text FROM documents),
tk AS (SELECT split, unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS w FROM sp),
c AS (SELECT w,
        SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_train,
        SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS c_val,
        SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS c_test
      FROM tk GROUP BY w),
t AS (SELECT SUM(c_train) AS n_train, SUM(c_val) AS n_val,
        SUM(c_test) AS n_test, COUNT(*) AS v FROM c),
p AS (SELECT CAST(c_train + 1 AS DOUBLE) / CAST(n_train + v AS DOUBLE) AS p_train,
        CAST(c_val + 1 AS DOUBLE) / CAST(n_val + v AS DOUBLE) AS p_val,
        CAST(c_test + 1 AS DOUBLE) / CAST(n_test + v AS DOUBLE) AS p_test
      FROM c, t),
one AS (SELECT
  ROUND(SUM(p_train * ln(p_train / p_val)), 6) AS kl_train_val,
  ROUND(SUM(ABS(p_train - p_val)) / 2, 6) AS tv_train_val,
  ROUND(SUM(p_train * ln(p_train / p_test)), 6) AS kl_train_test,
  ROUND(SUM(ABS(p_train - p_test)) / 2, 6) AS tv_train_test,
  ROUND(SUM(p_val * ln(p_val / p_train)), 6) AS kl_val_train,
  ROUND(SUM(ABS(p_val - p_train)) / 2, 6) AS tv_val_train,
  ROUND(SUM(p_val * ln(p_val / p_test)), 6) AS kl_val_test,
  ROUND(SUM(ABS(p_val - p_test)) / 2, 6) AS tv_val_test,
  ROUND(SUM(p_test * ln(p_test / p_train)), 6) AS kl_test_train,
  ROUND(SUM(ABS(p_test - p_train)) / 2, 6) AS tv_test_train,
  ROUND(SUM(p_test * ln(p_test / p_val)), 6) AS kl_test_val,
  ROUND(SUM(ABS(p_test - p_val)) / 2, 6) AS tv_test_val
  FROM p)
SELECT split_a, split_b, kl, tv FROM (
  SELECT 'train' AS split_a, 'val' AS split_b, kl_train_val AS kl, tv_train_val AS tv FROM one
  UNION ALL SELECT 'train', 'test', kl_train_test, tv_train_test FROM one
  UNION ALL SELECT 'val', 'train', kl_val_train, tv_val_train FROM one
  UNION ALL SELECT 'val', 'test', kl_val_test, tv_val_test FROM one
  UNION ALL SELECT 'test', 'train', kl_test_train, tv_test_train FROM one
  UNION ALL SELECT 'test', 'val', kl_test_val, tv_test_val FROM one)
ORDER BY split_a, split_b
""".trim,
    "X88_semantic_leakage" -> s"""
WITH sp AS (SELECT vec_id, embedding,
    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}'
      THEN 'train' ELSE 'eval' END AS split FROM embeddings),
s AS (SELECT a.vec_id AS eval_id, b.vec_id AS train_id,
    ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
  FROM sp a, sp b WHERE a.split = 'eval' AND b.split = 'train'),
r AS (SELECT eval_id, train_id, cos,
    row_number() OVER (PARTITION BY eval_id ORDER BY cos DESC, train_id) AS rk FROM s)
SELECT eval_id, train_id, cos, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 1 AND cos >= 0.35 ORDER BY eval_id, rk
""".trim,
    "X89_zipf_fit" -> """
WITH toks AS (SELECT unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS w FROM documents),
c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM c),
xy AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
       FROM r WHERE rk <= 500)
SELECT CAST(COUNT(*) AS BIGINT) AS top_v,
  ROUND(regr_slope(y, x), 6) AS slope,
  ROUND(regr_intercept(y, x), 6) AS intercept,
  ROUND(regr_r2(y, x), 6) AS r2
FROM xy
""".trim,
    "X92_source_lm_matrix" -> """
WITH t AS (SELECT doc_id, source, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
bg AS (SELECT doc_id, source, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT source AS model_source, w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2, 3),
cx AS (SELECT model_source, w1, SUM(c12) AS c1 FROM m GROUP BY 1, 2),
v AS (SELECT source AS model_source, COUNT(DISTINCT w) AS v
      FROM (SELECT source, unnest(toks) AS w FROM t) z GROUP BY 1),
pd AS (SELECT bg.doc_id, bg.source, v.model_source,
         AVG(log10(CAST(COALESCE(m.c12, 0) + 1 AS DOUBLE) /
                   CAST(COALESCE(cx.c1, 0) + v.v AS DOUBLE))) AS logp
       FROM bg CROSS JOIN v
       LEFT JOIN m ON v.model_source = m.model_source AND bg.w1 = m.w1 AND bg.w2 = m.w2
       LEFT JOIN cx ON v.model_source = cx.model_source AND bg.w1 = cx.w1
       GROUP BY 1, 2, 3)
SELECT source AS scored_source, model_source,
  CAST(COUNT(*) AS BIGINT) AS n_docs, ROUND(AVG(logp), 6) AS avg_logp
FROM pd GROUP BY 1, 2 ORDER BY scored_source, model_source
""".trim,
    "X91_heldout_logprob" -> s"""
WITH sp AS (SELECT doc_id, text, CASE
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.8)}' THEN 'train'
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}' THEN 'val'
    ELSE 'test' END AS split FROM documents),
t AS (SELECT doc_id, split, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM sp),
bg AS (SELECT doc_id, split, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, split, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE split = 'train' GROUP BY w1, w2),
cx AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(toks) AS w FROM t WHERE split = 'train') z)
SELECT bg.doc_id, bg.split, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(log10(CAST(COALESCE(m.c12, 0) + 1 AS DOUBLE) /
                  CAST(COALESCE(cx.c1, 0) + v.v AS DOUBLE))), 6) AS mean_logp
FROM bg LEFT JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        LEFT JOIN cx ON bg.w1 = cx.w1
        CROSS JOIN v
GROUP BY bg.doc_id, bg.split ORDER BY bg.doc_id
""".trim,
    "X90_decontamination_report" -> {
      val b = s"$oracleIdxRoot/minhash_banded/*.parquet"
      s"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
bench AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
ct AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM corpus),
csh AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM ct WHERE len(toks) >= 5) u),
bt AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM bench),
bsh AS (SELECT DISTINCT s FROM (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
  FROM bt WHERE len(toks) >= 5) u),
ng AS (SELECT csh.doc_id,
         ROUND(CAST(COUNT(bsh.s) AS DOUBLE) / COUNT(*), 6) AS ngram_frac
       FROM csh LEFT JOIN bsh ON csh.s = bsh.s GROUP BY csh.doc_id),
cand AS (
  SELECT DISTINCT a.id AS i, b.id AS j
  FROM read_parquet('$b') a
  JOIN read_parquet('$b') b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id IN (SELECT doc_id FROM corpus)
    AND b.id IN (SELECT doc_id FROM bench)),
cids AS (SELECT i AS doc_id FROM cand UNION SELECT j FROM cand),
t3 AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks
       FROM documents WHERE doc_id IN (SELECT doc_id FROM cids)),
sh3 AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t3 WHERE len(toks) >= 3) u),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh3 GROUP BY doc_id),
inter AS (SELECT cand.i, cand.j, COUNT(*) AS c
          FROM cand JOIN sh3 a ON cand.i = a.doc_id
                    JOIN sh3 b ON cand.j = b.doc_id AND a.s = b.s
          GROUP BY 1, 2),
nd AS (SELECT DISTINCT inter.i AS doc_id
       FROM inter JOIN sz sa ON inter.i = sa.doc_id
                  JOIN sz sb ON inter.j = sb.doc_id
       WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
cemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM corpus)),
bemb AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM bench)),
sem AS (SELECT c.vec_id AS doc_id,
          ROUND(MAX(list_inner_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS semantic_cos
        FROM cemb c CROSS JOIN bemb b GROUP BY c.vec_id)
SELECT c.doc_id,
  COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) AS ngram_frac,
  (nd.doc_id IS NOT NULL) AS near_dup,
  sem.semantic_cos,
  CASE WHEN COALESCE(ng.ngram_frac, CAST(0 AS DOUBLE)) >= 0.2
         OR nd.doc_id IS NOT NULL
         OR sem.semantic_cos >= 0.35 THEN 'drop' ELSE 'keep' END AS verdict
FROM corpus c
LEFT JOIN ng ON c.doc_id = ng.doc_id
LEFT JOIN nd ON c.doc_id = nd.doc_id
LEFT JOIN sem ON c.doc_id = sem.doc_id
ORDER BY c.doc_id
""".trim
    },
    // the composed curation manifest: stage 1 is the X90 oracle chain
    // verbatim; stage 2 restricts the X78 banded/recursive-CTE chain
    // to stage-1 survivors; stage 3 is the X81 LM chain over stage-2
    // survivors; stage 4 the X74 temperature-mixture arithmetic over
    // stage-3 survivors (alpha 0.5, lang strata, seed-42 coin)
    "X93_curation_manifest" -> x93OracleSql,
    "X121_curation_manifest_v2" -> x121OracleSql,
    "X128_runlevel_curation" -> x128OracleSql,
    // X122: both release orders summarized per pipeline — the two
    // manifest statements nested verbatim as derived tables, then one
    // conditional-count aggregate each (v1 cuts nothing by definition)
    "X122_order_impact" -> s"""
WITH m1 AS (SELECT * FROM ($x93OracleSql) z1),
m2 AS (SELECT * FROM ($x121OracleSql) z2)
SELECT 'v1_doc_level_first' AS pipeline,
  CAST(COUNT(*) AS BIGINT) AS docs,
  CAST(COALESCE(SUM(CASE WHEN decon_verdict = 'drop' THEN 1 END), 0) AS BIGINT) AS decon_drops,
  CAST(COALESCE(SUM(CASE WHEN dedup_verdict = 'drop' THEN 1 END), 0) AS BIGINT) AS dedup_drops,
  CAST(0 AS BIGINT) AS sub_cut_tokens,
  CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS kept
FROM m1
UNION ALL
SELECT 'v2_span_cut_first',
  CAST(COUNT(*) AS BIGINT),
  CAST(COALESCE(SUM(CASE WHEN decon_verdict = 'drop' THEN 1 END), 0) AS BIGINT),
  CAST(COALESCE(SUM(CASE WHEN dedup_verdict = 'drop' THEN 1 END), 0) AS BIGINT),
  CAST(COALESCE(SUM(sub_dup_tokens), 0) AS BIGINT),
  CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
FROM m2
ORDER BY pipeline
""".trim,
    // X123: CCNet normalization vs raw fingerprinting — the DuckDB
    // restatement of TextAnalysis.normalizeText is
    // nfc_normalize → lower → \p{N}→'0' → \p{P}+→' ' → whitespace
    // collapse (RE2's Unicode categories match Java's; whitespace is an
    // EXPLICIT class because RE2's \s excludes the vertical tab Java's
    // includes); variants are planted with chr() so no non-ASCII
    // literal rides the SQL string
    "X123_normalized_dedup" -> """
WITH s AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
u AS (
  SELECT doc_id, text FROM s
  UNION ALL
  SELECT doc_id + 100000, replace(text, 'a', chr(225)) FROM s
  UNION ALL
  SELECT doc_id + 200000, upper(replace(text, 'a', 'a' || chr(769))) FROM s),
f AS (SELECT doc_id, md5(text) AS rfp,
  md5(trim(regexp_replace(regexp_replace(regexp_replace(
    lower(nfc_normalize(text)),
    '\p{N}', '0', 'g'), '\p{P}+', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS nfp
  FROM u),
rc AS (SELECT rfp, CAST(COUNT(*) AS BIGINT) AS raw_grp FROM f GROUP BY 1),
nc AS (SELECT nfp, CAST(COUNT(*) AS BIGINT) AS norm_grp FROM f GROUP BY 1)
SELECT CAST(f.doc_id AS BIGINT) AS doc_id, rc.raw_grp, nc.norm_grp,
  nc.norm_grp > rc.raw_grp AS caught_by_normalization
FROM f JOIN rc ON f.rfp = rc.rfp JOIN nc ON f.nfp = nc.nfp
ORDER BY doc_id
""".trim,
    // X124: character-5-gram shingles over space-stripped docs
    // transliterated into the Thai consonant block (chr(unicode+3488):
    // 'a' 97 → U+0E01 3585) + their one-char-edited variants, as
    // code-point substring windows; the dispatch predicate restates
    // TextAnalysis.spaceless's integer arithmetic (majority-non-ASCII
    // AND (ntok < n OR length >= 16*ntok)) verbatim
    "X124_cjk_char_shingles" -> """
WITH p0 AS (
  SELECT doc_id, replace(text, ' ', '') AS s0
  FROM documents WHERE doc_id < 150),
s0 AS (
  SELECT doc_id, array_to_string(list_transform(
    generate_series(1, length(s0)), i -> chr(unicode(s0[i:i]) + 3488)), '') AS s
  FROM p0 WHERE regexp_matches(s0, '^[a-z]+$') AND length(s0) >= 100),
s1 AS (
  SELECT doc_id, s,
    substring(s, 1, 49) || chr(3631) || substring(s, 51, length(s)) AS v
  FROM s0),
g AS (
  SELECT doc_id,
    len(list_filter(str_split(s, ' '), w -> w <> '')) AS ntok,
    length(s) AS ls,
    length(regexp_replace(s, '[\x00-\x7F]', '', 'g')) AS nasc,
    list_distinct(list_transform(range(1, length(s) - 3), i -> substring(s, i, 5))) AS ga,
    list_distinct(list_transform(range(1, length(v) - 3), i -> substring(v, i, 5))) AS gb
  FROM s1),
j AS (
  SELECT doc_id,
    CAST(CASE WHEN ntok >= 3 THEN ntok - 2 ELSE 0 END AS BIGINT) AS n_word_shingles,
    (2 * nasc >= ls AND (ntok < 3 OR ls >= 16 * ntok)) AS dispatch_char,
    CAST(len(ga) AS BIGINT) AS n_char_grams,
    ROUND(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
      CAST(len(ga) + len(gb) - len(list_intersect(ga, gb)) AS DOUBLE), 6) AS char_jac
  FROM g)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_word_shingles, dispatch_char,
  n_char_grams, char_jac, char_jac >= 0.8 AS caught_char
FROM j ORDER BY doc_id
""".trim,
    // X125: the substring tier's char-unit path — units = single chars
    // when len >= 16*ntok (the spacelessRun dispatch, integer
    // arithmetic verbatim) else words; windows join with '' in char
    // mode, ' ' in word mode; then the X118 mark/merge pipeline
    "X125_cjk_substring_spans" -> """
WITH s0 AS (
  SELECT doc_id, replace(text, ' ', '') AS s
  FROM documents WHERE doc_id < 120),
raw AS (
  SELECT doc_id, array_to_string(list_transform(
    generate_series(1, length(s)), i -> chr(unicode(s[i:i]) + 19871)), '') AS text
  FROM s0 WHERE regexp_matches(s, '^[a-z]+$')),
va AS (
  SELECT doc_id + 100000 AS doc_id,
    repeat('q', 15) || substring(text, 21, 40) || repeat('j', 15) AS text
  FROM raw WHERE length(text) >= 80),
wo AS (SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 120),
u AS (SELECT * FROM raw UNION ALL SELECT * FROM va UNION ALL SELECT * FROM wo),
t AS (
  SELECT doc_id,
    CASE WHEN cm0
      THEN list_transform(generate_series(1, length(text)), i -> text[i:i])
      ELSE list_filter(str_split(text, ' '), x -> x <> '') END AS units,
    cm0 AS cm
  FROM (SELECT doc_id, text,
    (length(text) >= 16 * len(list_filter(str_split(text, ' '), x -> x <> ''))
      AND 2 * length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) >= length(text)) AS cm0
    FROM u)),
w AS (SELECT doc_id, unnest(generate_series(1, len(units) - 9)) AS p, units, cm
      FROM t WHERE len(units) >= 10),
k AS (SELECT doc_id, p,
        CASE WHEN cm THEN array_to_string(units[p : p+9], '')
             ELSE array_to_string(units[p : p+9], ' ') END AS win
      FROM w),
r AS (SELECT doc_id, p,
        COUNT(*) OVER (PARTITION BY win) AS occ,
        ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk
      FROM k),
h AS (SELECT doc_id, p, p + 9 AS e FROM r WHERE occ > 1 AND rk > 1),
g AS (SELECT doc_id, p, e,
        CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS ng
      FROM h),
gg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp FROM g)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(MIN(p) AS BIGINT) AS span_start,
  CAST(MAX(e) AS BIGINT) AS span_end,
  CAST(MAX(e) - MIN(p) + 1 AS BIGINT) AS span_tokens
FROM gg GROUP BY doc_id, grp ORDER BY doc_id, span_start
""".trim,
    // X126: run-level shingle sets — per side (base/mixed): the
    // doc-level dispatch (the X124 arithmetic verbatim), word
    // 3-shingles, char 5-grams, runs via regexp_extract_all +
    // remainder via regexp_replace(.., ' ', 'g'); run-level set =
    // remainder word shingles ∪ per-run grams; then both Jaccards
    "X126_runlevel_minhash" -> """
WITH p0 AS (
  SELECT doc_id, text, replace(text, ' ', '') AS s0
  FROM documents WHERE doc_id < 150),
f0 AS (
  SELECT doc_id, text, substring(s0, 1, 100) AS s1
  FROM p0 WHERE regexp_matches(s0, '^[a-z]+$') AND length(s0) >= 100),
th AS (
  SELECT doc_id, text, array_to_string(list_transform(
    generate_series(1, length(s1)), i -> chr(unicode(s1[i:i]) + 3488)), '') AS t
  FROM f0),
pr AS (
  SELECT doc_id, t AS base_text,
    substring(text, 1, 50) || ' ' || substring(t, 1, 95) || ' ' ||
      substring(text, 51, 50) AS mixed_text
  FROM th),
sides AS (
  SELECT doc_id, 0 AS side, base_text AS x FROM pr
  UNION ALL
  SELECT doc_id, 1 AS side, mixed_text AS x FROM pr),
c0 AS (
  SELECT doc_id, side, x,
    list_filter(str_split(x, ' '), w -> w <> '') AS toks,
    length(x) AS ls,
    length(regexp_replace(x, '[\x00-\x7F]', '', 'g')) AS nasc,
    regexp_replace(x, '[^\x00-\x7F]{16,}', ' ', 'g') AS rem,
    regexp_extract_all(x, '[^\x00-\x7F]{16,}') AS runs
  FROM sides),
c1 AS (
  SELECT doc_id, side, x, toks, ls, runs,
    (2 * nasc >= ls AND (len(toks) < 3 OR ls >= 16 * len(toks))) AS sp,
    list_filter(str_split(rem, ' '), w -> w <> '') AS rtoks
  FROM c0),
c2 AS (
  SELECT doc_id, side, sp, len(runs) AS nruns,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> array_to_string(toks[i:i+2], ' '))) AS wsh,
    list_distinct(list_transform(range(1, ls - 3),
      i -> substring(x, i, 5))) AS grams,
    list_distinct(list_transform(range(1, len(rtoks) - 1),
      i -> array_to_string(rtoks[i:i+2], ' '))) AS wshr,
    list_distinct(flatten(list_transform(runs,
      r -> list_transform(range(1, length(r) - 3),
        i -> substring(r, i, 5))))) AS rgrams
  FROM c1),
c3 AS (
  SELECT doc_id, side, sp, nruns,
    CASE WHEN sp THEN grams ELSE wsh END AS set_doc,
    CASE WHEN sp THEN grams
         ELSE list_distinct(list_concat(wshr, rgrams)) END AS set_run
  FROM c2),
j AS (
  SELECT a.doc_id,
    a.sp AS dispatch_base, b.sp AS dispatch_mixed,
    CAST(b.nruns AS BIGINT) AS n_runs_mixed,
    ROUND(CAST(len(list_intersect(a.set_doc, b.set_doc)) AS DOUBLE) /
      CAST(len(a.set_doc) + len(b.set_doc)
        - len(list_intersect(a.set_doc, b.set_doc)) AS DOUBLE), 6) AS jac_doc,
    ROUND(CAST(len(list_intersect(a.set_run, b.set_run)) AS DOUBLE) /
      CAST(len(a.set_run) + len(b.set_run)
        - len(list_intersect(a.set_run, b.set_run)) AS DOUBLE), 6) AS jac_run
  FROM c3 a JOIN c3 b ON a.doc_id = b.doc_id AND a.side = 0 AND b.side = 1)
SELECT CAST(doc_id AS BIGINT) AS doc_id, dispatch_base, dispatch_mixed,
  n_runs_mixed, jac_doc, jac_run,
  jac_doc >= 0.7 AS caught_doc, jac_run >= 0.7 AS caught_run
FROM j ORDER BY doc_id
""".trim,
    // X127: the run-level substring composition — stage 1 char windows
    // over {homo whole-docs ∪ mixed docs' ≥16-cp non-ASCII runs}
    // (canonical order doc_id, run_idx, p), per-vdoc clean rebuild from
    // uncovered positions, splice via string_split_regex interleave,
    // stage 2 word windows over the spliced corpus
    "X127_runlevel_substring" -> """
WITH p0 AS (
  SELECT doc_id, text, replace(text, ' ', '') AS s0
  FROM documents WHERE doc_id < 120),
f0 AS (
  SELECT doc_id, text, substring(s0, 1, 100) AS s1
  FROM p0 WHERE regexp_matches(s0, '^[a-z]+$') AND length(s0) >= 100),
th AS (
  SELECT doc_id, text, array_to_string(list_transform(
    generate_series(1, length(s1)), i -> chr(unicode(s1[i:i]) + 3488)), '') AS t
  FROM f0),
u AS (
  SELECT doc_id, text FROM th
  UNION ALL
  SELECT doc_id + 100000, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 101, 60) FROM th
  UNION ALL
  SELECT doc_id + 200000, substring(text, 1, 100) || ' ' ||
    substring(t, 1, 95) || ' ' || substring(text, 161, 60) FROM th
  UNION ALL
  SELECT doc_id + 300000, t FROM th),
cls AS (
  SELECT doc_id, text,
    (length(text) >= 16 * len(list_filter(str_split(text, ' '), x -> x <> ''))
      AND 2 * length(regexp_replace(text, '[\x00-\x7F]', '', 'g'))
        >= length(text)) AS sp
  FROM u),
vruns AS (
  SELECT doc_id, list_zip(regexp_extract_all(text, '[^\x00-\x7F]{16,}'),
    generate_series(1, len(regexp_extract_all(text, '[^\x00-\x7F]{16,}')))) AS zz
  FROM cls WHERE NOT sp),
vhet AS (
  SELECT doc_id, z[1] AS t, CAST(z[2] AS INT) - 1 AS run_idx
  FROM (SELECT doc_id, unnest(zz) AS z FROM vruns)),
vd AS (
  SELECT doc_id, 0 AS run_idx, text AS t FROM cls WHERE sp
  UNION ALL
  SELECT doc_id, run_idx, t FROM vhet),
cw AS (
  SELECT doc_id, run_idx, unnest(generate_series(1, length(t) - 9)) AS p, t
  FROM vd WHERE length(t) >= 10),
ck AS (SELECT doc_id, run_idx, p, substring(t, p, 10) AS win FROM cw),
cr AS (SELECT doc_id, run_idx, p,
         COUNT(*) OVER (PARTITION BY win) AS occ,
         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, run_idx, p) AS rk
       FROM ck),
chh AS (SELECT doc_id, run_idx, p, p + 9 AS e FROM cr WHERE occ > 1 AND rk > 1),
cg AS (SELECT doc_id, run_idx, p, e,
         CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id, run_idx ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           THEN 1 ELSE 0 END AS ng
       FROM chh),
cgg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id, run_idx ORDER BY p
          ROWS UNBOUNDED PRECEDING) AS grp FROM cg),
cspans AS (
  SELECT doc_id, run_idx, MIN(p) AS span_start, MAX(e) AS span_end,
         MAX(e) - MIN(p) + 1 AS span_tokens
  FROM cgg GROUP BY doc_id, run_idx, grp),
cov AS (
  SELECT doc_id, run_idx, unnest(generate_series(span_start, span_end)) AS q
  FROM cspans),
allpos AS (
  SELECT doc_id, run_idx, unnest(generate_series(1, length(t))) AS q, t FROM vd),
kept AS (
  SELECT ap.doc_id, ap.run_idx, ap.q, substring(ap.t, ap.q, 1) AS uu
  FROM allpos ap LEFT JOIN cov c
    ON ap.doc_id = c.doc_id AND ap.run_idx = c.run_idx AND ap.q = c.q
  WHERE c.q IS NULL),
ckagg AS (
  SELECT doc_id, run_idx, string_agg(uu, '' ORDER BY q) AS clean
  FROM kept GROUP BY doc_id, run_idx),
cclean AS (
  SELECT vd.doc_id, vd.run_idx, COALESCE(k.clean, '') AS clean
  FROM vd LEFT JOIN ckagg k
    ON vd.doc_id = k.doc_id AND vd.run_idx = k.run_idx),
runsclean AS (
  SELECT c0.doc_id, list(c0.clean ORDER BY c0.run_idx) AS cr
  FROM cclean c0 JOIN cls ON c0.doc_id = cls.doc_id
  WHERE NOT cls.sp GROUP BY c0.doc_id),
spl0 AS (
  SELECT c.doc_id, string_split_regex(c.text, '[^\x00-\x7F]{16,}') AS st,
    COALESCE(r.cr, CAST([] AS VARCHAR[])) AS cr
  FROM (SELECT doc_id, text FROM cls WHERE NOT sp) c
  LEFT JOIN runsclean r ON c.doc_id = r.doc_id),
spliced AS (
  SELECT doc_id, array_to_string(list_transform(
    generate_series(1, len(st)), i -> st[i] || COALESCE(cr[i], '')), '') AS text
  FROM spl0),
wt AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
       FROM spliced),
ww AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS p, toks
       FROM wt WHERE len(toks) >= 10),
wk AS (SELECT doc_id, p, array_to_string(toks[p : p + 9], ' ') AS win FROM ww),
wr AS (SELECT doc_id, p, COUNT(*) OVER (PARTITION BY win) AS occ,
         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rk FROM wk),
wh AS (SELECT doc_id, p, p + 9 AS e FROM wr WHERE occ > 1 AND rk > 1),
wg AS (SELECT doc_id, p, e,
         CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           THEN 1 ELSE 0 END AS ng
       FROM wh),
wgg AS (SELECT *, SUM(ng) OVER (PARTITION BY doc_id ORDER BY p
          ROWS UNBOUNDED PRECEDING) AS grp FROM wg),
wspans AS (SELECT doc_id, MIN(p) AS span_start, MAX(e) AS span_end,
             MAX(e) - MIN(p) + 1 AS span_tokens FROM wgg GROUP BY doc_id, grp)
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'char' AS tier,
  CAST(run_idx AS INT) AS run_idx, CAST(span_start AS BIGINT) AS span_start,
  CAST(span_end AS BIGINT) AS span_end, CAST(span_tokens AS BIGINT) AS span_tokens
FROM cspans
UNION ALL
SELECT CAST(doc_id AS BIGINT), 'word', CAST(-1 AS INT), CAST(span_start AS BIGINT),
  CAST(span_end AS BIGINT), CAST(span_tokens AS BIGINT)
FROM wspans
ORDER BY doc_id, tier, run_idx, span_start
""".trim,
    // X79's plan arithmetic at a 1 M budget, then the repetition
    // explode: full epochs via generate_series, the residual via the
    // hexCutoff printf idiom (the X74 oracle's guard) on the portable
    // md5 coin
    "X94_epoch_expand" -> """
WITH t AS (SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(list_filter(str_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source HAVING n_tokens > 0),
z AS (SELECT SUM(POW(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM t),
e AS (SELECT source,
  ROUND(CAST(1000000 AS DOUBLE) * POW(CAST(n_tokens AS DOUBLE), 0.5) / z / CAST(n_tokens AS DOUBLE), 4) AS epochs
  FROM t, z),
c AS (SELECT source, CAST(FLOOR(epochs) AS BIGINT) AS nfull,
             epochs - FLOOR(epochs) AS frac FROM e),
cut AS (SELECT source, nfull,
  printf('%08x', CAST(least(floor(frac * 4294967296), 4294967295) AS BIGINT)) AS cut
  FROM c)
SELECT u.doc_id, u.source, CAST(u.e AS BIGINT) AS epoch FROM (
  SELECT d.doc_id, d.source, unnest(list_concat(
    CASE WHEN cut.nfull >= 1 THEN generate_series(0, cut.nfull - 1)
         ELSE CAST([] AS BIGINT[]) END,
    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':42'), 1, 8) < cut.cut
         THEN [cut.nfull] ELSE CAST([] AS BIGINT[]) END)) AS e
  FROM documents d JOIN cut USING (source)) u
ORDER BY u.doc_id, epoch
""".trim,
    // near-dup clusters via the recursive closure over the banded
    // mirror's verified pairs; split on COALESCE(cluster, doc) with
    // the X32 cutoff chain
    "X95_leakfree_split" -> s"""WITH RECURSIVE $bandedVerifiedCtes,
edges AS (SELECT i AS a, j AS b FROM verified UNION SELECT j, i FROM verified),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, re.r AS r FROM edges e JOIN reach re ON e.b = re.node),
clus AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
g AS (SELECT d.doc_id, COALESCE(clus.cluster_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN clus ON d.doc_id = clus.doc_id)
SELECT doc_id, group_id, CASE
  WHEN substr(md5(CAST(group_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.8)}' THEN 'train'
  WHEN substr(md5(CAST(group_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}' THEN 'val'
  ELSE 'test' END AS split
FROM g ORDER BY doc_id""".trim,
    // gaps-and-islands restatement of the per-doc consecutive-run fold:
    // island id = pos − row_number within the doc's sorted hit positions
    "X96_max_overlap_span" -> """
WITH t AS (SELECT doc_id, source, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM documents),
sh AS (SELECT doc_id, source, i AS pos,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS s
       FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             FROM t WHERE len(toks) >= 5) u),
bs AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN bs USING (s) WHERE sh.source <> 'src0'),
runs AS (SELECT doc_id, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM hits),
rl AS (SELECT doc_id, COUNT(*) AS run FROM runs GROUP BY doc_id, isl),
mx AS (SELECT doc_id, MAX(run) AS max_run FROM rl GROUP BY doc_id),
nh AS (SELECT doc_id, COUNT(*) AS n_hits FROM hits GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(mx.max_run + 4, 0) AS BIGINT) AS max_span_tokens
FROM t LEFT JOIN nh ON t.doc_id = nh.doc_id LEFT JOIN mx ON t.doc_id = mx.doc_id
WHERE t.source <> 'src0'
ORDER BY t.doc_id
""".trim,
    // verified pairs off the banded mirror rolled up by unordered
    // source pair
    "X97_cross_source_dups" -> s"""WITH $bandedVerifiedCtes,
src AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT CASE WHEN si.source <= sj.source THEN si.source ELSE sj.source END AS source_a,
         CASE WHEN si.source <= sj.source THEN sj.source ELSE si.source END AS source_b,
         v.jac
  FROM verified v
  JOIN src si ON v.i = si.doc_id JOIN src sj ON v.j = sj.doc_id)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs, MAX(jac) AS max_jac
FROM lab GROUP BY source_a, source_b ORDER BY source_a, source_b""".trim,
    // X45 scoring + standard ROW_NUMBER/NTILE over (mean_logp DESC,
    // doc_id) — the 6-dp rounded key makes the total order portable
    "X98_curriculum" -> """
WITH w AS (SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS w FROM documents),
m AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
t AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM m),
sc AS (SELECT w.doc_id, ROUND(AVG(log10(m.c / t.total)), 6) AS mean_logp
       FROM w JOIN m USING (w) CROSS JOIN t GROUP BY w.doc_id)
SELECT doc_id, mean_logp,
       CAST(ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS BIGINT) AS ord,
       CAST(NTILE(4) OVER (ORDER BY mean_logp DESC, doc_id) AS BIGINT) AS stage
FROM sc ORDER BY ord
""".trim,
    // X05's capped kernel with the containment denominator; both
    // measures emitted from the same counts
    "X99_ngram_containment" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS toks FROM documents),
sha AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3) u),
rare AS (SELECT s FROM sha GROUP BY s HAVING COUNT(*) <= 50),
sh AS (SELECT sha.doc_id, sha.s FROM sha JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT i, j,
  ROUND(CAST(c AS DOUBLE) / LEAST(sa.sz, sb.sz), 6) AS containment,
  ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jac
FROM inter JOIN sz sa ON inter.i = sa.doc_id JOIN sz sb ON inter.j = sb.doc_id
WHERE CAST(c AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.8
ORDER BY i, j
""".trim,
    // X87's smoothing over the union vocabulary, two sides, two rows
    "X100_unigram_drift" -> """
WITH tk AS (
  SELECT CASE WHEN source = 'src0' THEN 'ref' ELSE 'cur' END AS split,
         unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS w
  FROM documents),
c AS (SELECT w,
        SUM(CASE WHEN split = 'cur' THEN 1 ELSE 0 END) AS c_cur,
        SUM(CASE WHEN split = 'ref' THEN 1 ELSE 0 END) AS c_ref
      FROM tk GROUP BY w),
t AS (SELECT SUM(c_cur) AS n_cur, SUM(c_ref) AS n_ref, COUNT(*) AS v FROM c),
p AS (SELECT CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + v AS DOUBLE) AS p_cur,
             CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + v AS DOUBLE) AS p_ref
      FROM c, t),
one AS (SELECT
  ROUND(SUM(p_cur * ln(p_cur / p_ref)), 6) AS kl_cur_ref,
  ROUND(SUM(ABS(p_cur - p_ref)) / 2, 6) AS tv_cur_ref,
  ROUND(SUM(p_ref * ln(p_ref / p_cur)), 6) AS kl_ref_cur,
  ROUND(SUM(ABS(p_ref - p_cur)) / 2, 6) AS tv_ref_cur
  FROM p)
SELECT 'cur' AS side_a, 'ref' AS side_b, kl_cur_ref AS kl, tv_cur_ref AS tv FROM one
UNION ALL
SELECT 'ref', 'cur', kl_ref_cur, tv_ref_cur FROM one
ORDER BY side_a, side_b
""".trim,
    // X66's BM25 CTE chain (k=20, self excluded) + X52's cosine shape
    // (queries vec_id<3, k=20) fused by reciprocal rank 1/(60+r)
    "X101_hybrid_rrf" -> """
WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
postings AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) u
             GROUP BY term, doc_id, dl),
dfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term),
stats AS (SELECT COUNT(*) AS n_docs, SUM(CAST(dl AS BIGINT)) AS sum_dl FROM d),
qq AS (SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest(toks[1:5]) AS term FROM t
        WHERE doc_id < 3
          -- the Spark query frame is documents JOIN embeddings: a doc
          -- without an embedding row is not a query in EITHER channel
          AND doc_id IN (SELECT vec_id FROM embeddings)) z),
scored AS (
  SELECT qq.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 6) AS score
  FROM qq JOIN postings p ON qq.term = p.term
         JOIN dfx ON qq.term = dfx.term
         CROSS JOIN stats
  WHERE p.doc_id <> qq.query_id
  GROUP BY qq.query_id, p.doc_id),
lex AS (SELECT query_id, doc_id, CAST(r AS BIGINT) AS r_lex FROM (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
  FROM scored) z WHERE r <= 20),
sc AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
         ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
       FROM embeddings a, embeddings b
       WHERE a.vec_id < 3 AND b.vec_id <> a.vec_id
         AND a.vec_id IN (SELECT doc_id FROM documents)),
sem AS (SELECT query_id, doc_id, CAST(r AS BIGINT) AS r_sem FROM (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r
  FROM sc) z WHERE r <= 20),
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.doc_id) AS doc_id,
         COALESCE(l.r_lex, 0) AS r_lex, COALESCE(s.r_sem, 0) AS r_sem
  FROM lex l FULL OUTER JOIN sem s ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
rr AS (SELECT query_id, doc_id, r_lex, r_sem,
  ROUND(CASE WHEN r_lex > 0 THEN CAST(1 AS DOUBLE) / (60 + r_lex) ELSE CAST(0 AS DOUBLE) END +
        CASE WHEN r_sem > 0 THEN CAST(1 AS DOUBLE) / (60 + r_sem) ELSE CAST(0 AS DOUBLE) END, 6) AS rrf
  FROM fused),
rk AS (SELECT query_id, doc_id, rrf, r_lex, r_sem,
  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS r FROM rr)
SELECT query_id, doc_id, rrf, r_lex, r_sem FROM rk WHERE r <= 10
ORDER BY query_id, rrf DESC, doc_id
""".trim,
    // X91's split + bigram CTEs under absolute-discount interpolation:
    // max(c12-D,0)/c1 + D*n1p/c1*Pcont, Pcont=(contc+1)/(B+V),
    // unseen context backs off to Pcont entirely
    "X102_kn_heldout_logprob" -> s"""
WITH sp AS (SELECT doc_id, text, CASE
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.8)}' THEN 'train'
    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '${graft.ops.Scale.hexCutoff(0.9)}' THEN 'val'
    ELSE 'test' END AS split FROM documents),
t AS (SELECT doc_id, split, list_filter(str_split(text, ' '), x -> x <> '') AS toks FROM sp),
bg AS (SELECT doc_id, split, toks[i] AS w1, toks[i+1] AS w2
       FROM (SELECT doc_id, split, toks, unnest(generate_series(1, len(toks) - 1)) AS i
             FROM t WHERE len(toks) >= 2) u),
m AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE split = 'train' GROUP BY w1, w2),
cx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM m GROUP BY w1),
co AS (SELECT w2, COUNT(*) AS contc FROM m GROUP BY w2),
tot AS (SELECT (SELECT COUNT(*) FROM m) AS b,
               (SELECT COUNT(DISTINCT w) FROM (
                  SELECT unnest(toks) AS w FROM t WHERE split = 'train') z) AS v)
SELECT bg.doc_id, bg.split, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(log10(
    CASE WHEN cx.c1 IS NULL THEN
      CAST(COALESCE(co.contc, 0) + 1 AS DOUBLE) / CAST(tot.b + tot.v AS DOUBLE)
    ELSE
      GREATEST(CAST(COALESCE(m.c12, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        / CAST(cx.c1 AS DOUBLE)
      + CAST(0.75 AS DOUBLE) * CAST(cx.n1p AS DOUBLE) / CAST(cx.c1 AS DOUBLE)
        * (CAST(COALESCE(co.contc, 0) + 1 AS DOUBLE) / CAST(tot.b + tot.v AS DOUBLE))
    END)), 6) AS mean_logp
FROM bg LEFT JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        LEFT JOIN cx ON bg.w1 = cx.w1
        LEFT JOIN co ON bg.w2 = co.w2
        CROSS JOIN tot
GROUP BY bg.doc_id, bg.split ORDER BY bg.doc_id
""".trim,
    // all-pairs Hamming over the persisted dHash table — semantically
    // identical to the banded Spark plan (exact by pigeonhole at <= 7
    // of 8 bands); integer xor/popcount both engines share
    "X103_phash_neardup" -> s"""
WITH p AS (SELECT doc_id, variant, phash
           FROM read_parquet('$oracleIdxRoot/phash/hashes/*.parquet'))
SELECT a.doc_id AS i_doc, a.variant AS i_var, b.doc_id AS j_doc, b.variant AS j_var,
  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM p a JOIN p b
  ON (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.variant < b.variant))
WHERE bit_count(xor(a.phash, b.phash)) <= 7
ORDER BY i_doc, i_var, j_doc, j_var
""".trim,
    // X104/X105 restate the ADC fold over the MIRRORED codebook/codes:
    // every lut entry is the same |q|^2 - 2 q.c + |c|^2 double
    // expansion (list_inner_product = graft_dot's left-to-right
    // accumulation over the identical float bytes), summed per
    // (query, vector) and top-5'd on (rounded d2, vec_id)
    "X104_pq_adc_top5" -> s"""
WITH cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pq/codebook/*.parquet')),
co AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/pq/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
lut AS (
  SELECT q.query_id, cb.sub, cb.cid,
    list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                       (q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[])
    - 2 * list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM q, cb),
ex AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e JOIN lut l ON l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)
SELECT query_id, vec_id, ROUND(d2, 6) AS adc_d2
FROM scan
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY ROUND(d2, 6), vec_id) <= 5
ORDER BY query_id, adc_d2, vec_id
""".trim,
    "X105_pq_recall" -> s"""
WITH cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pq/codebook/*.parquet')),
co AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/pq/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
lut AS (
  SELECT q.query_id, cb.sub, cb.cid,
    list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                       (q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[])
    - 2 * list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM q, cb),
ex AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e JOIN lut l ON l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2),
approx AS (
  SELECT query_id, vec_id FROM scan
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ROUND(d2, 6), vec_id) <= 5),
exact AS (
  SELECT q.query_id, e.vec_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
    ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
      - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
      + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6),
    e.vec_id) <= 5)
SELECT x.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM exact x LEFT JOIN approx a
  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY 1 ORDER BY 1
""".trim,
    // X106: the ratio-margin criterion — both kNN directions rank by
    // the 6-dp-rounded cosine (knnJoin's contract) and the margin is
    // rounded before the threshold compare, boundary-exact
    "X106_margin_pairs" -> """
WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
b AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
fr AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
  FROM (SELECT a.vec_id AS qid, b.vec_id AS vid,
          ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        FROM a, b) f),
br AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
  FROM (SELECT b.vec_id AS qid, a.vec_id AS vid,
          ROUND(list_inner_product(b.embedding::DOUBLE[], a.embedding::DOUBLE[]), 6) AS cos
        FROM b, a) g),
da AS (SELECT qid, AVG(cos) AS avg_a FROM fr WHERE rk <= 4 GROUP BY qid),
db AS (SELECT qid, AVG(cos) AS avg_b FROM br WHERE rk <= 4 GROUP BY qid)
SELECT f.qid AS i, f.vid AS j, f.cos,
  ROUND(f.cos / (da.avg_a / 2 + db.avg_b / 2), 6) AS margin
FROM fr f JOIN da ON da.qid = f.qid JOIN db ON db.qid = f.vid
WHERE f.rk = 1
  AND (da.avg_a / 2 + db.avg_b / 2) > 0
  AND ROUND(f.cos / (da.avg_a / 2 + db.avg_b / 2), 6) >= 1.02
ORDER BY i, j
""".trim,
    // X107: X104's lut/fold/top-5 restricted to probed IVF lists — the
    // coarse probe ranks centroids by the same |q|^2-2q.c+|c|^2
    // expansion (tie: list id), the assign argmax mirrors Ivf.assign
    // (max dot, tie: min centroid_id), both over the MIRRORED ivf
    // centroids
    "X107_ivfpq_top5" -> s"""
WITH cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pq/codebook/*.parquet')),
co AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/pq/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/ivf/centroids/*.parquet')),
probed AS (
  SELECT query_id, list_id FROM (
    SELECT q.query_id, c.centroid_id AS list_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        - 2 * list_inner_product(q.embedding::DOUBLE[], c.centroid::DOUBLE[])
        + list_inner_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]),
        c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) z WHERE rn <= 4),
assigned AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.centroid_id AS list_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
        c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c) z WHERE rk = 1),
lut AS (
  SELECT q.query_id, cb.sub, cb.cid,
    list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                       (q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[])
    - 2 * list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM q, cb),
ex AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.sub = e.i - 1 AND l.cid = e.cid
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN probed p ON p.query_id = l.query_id AND p.list_id = a.list_id
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)
SELECT query_id, vec_id, ROUND(d2, 6) AS adc_d2
FROM scan
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY ROUND(d2, 6), vec_id) <= 5
ORDER BY query_id, adc_d2, vec_id
""".trim,
    // X108: IVFADC proper — the residual-PQ composition. The coarse
    // probe ranks centroids exactly like X107; the lookup table is
    // per-(query, probed list) over the RESIDUAL query q − c_list
    // (elementwise exact double subtraction), with the same
    // |x|²−2x·y+|y|² expansion; codes carry their list_id from the
    // mirrored residual index, so the lut join on list_id IS the
    // probe pruning
    "X108_ivfadc_top5" -> s"""
WITH cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pqr/codebook/*.parquet')),
co AS (SELECT vec_id, list_id, codes
       FROM read_parquet('$oracleIdxRoot/pqr/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet')),
probed AS (
  SELECT query_id, list_id, qr FROM (
    SELECT q.query_id, c.centroid_id AS list_id,
      [q.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE
       for i in range(1, len(q.embedding)+1)] AS qr,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        - 2 * list_inner_product(q.embedding::DOUBLE[], c.centroid::DOUBLE[])
        + list_inner_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]),
        c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) z WHERE rn <= 4),
lut AS (
  SELECT p.query_id, p.list_id, cb.sub, cb.cid,
    list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                       p.qr[cb.sub*8+1 : cb.sub*8+8])
    - 2 * list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM probed p, cb),
ex AS (SELECT vec_id, list_id, unnest(codes) AS cid,
              generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.list_id = e.list_id AND l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)
SELECT query_id, vec_id, ROUND(d2, 6) AS adc_d2
FROM scan
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY ROUND(d2, 6), vec_id) <= 5
ORDER BY query_id, adc_d2, vec_id
""".trim,
    // X109: recall@5 of the full-probe residual IVFADC result against
    // exact-L2 ground truth — X105's audit shape over the residual tier
    "X109_ivfadc_recall" -> s"""
WITH cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pqr/codebook/*.parquet')),
co AS (SELECT vec_id, list_id, codes
       FROM read_parquet('$oracleIdxRoot/pqr/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet')),
probed AS (
  SELECT query_id, list_id, qr FROM (
    SELECT q.query_id, c.centroid_id AS list_id,
      [q.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE
       for i in range(1, len(q.embedding)+1)] AS qr,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        - 2 * list_inner_product(q.embedding::DOUBLE[], c.centroid::DOUBLE[])
        + list_inner_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]),
        c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) z WHERE rn <= 16),
lut AS (
  SELECT p.query_id, p.list_id, cb.sub, cb.cid,
    list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                       p.qr[cb.sub*8+1 : cb.sub*8+8])
    - 2 * list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM probed p, cb),
ex AS (SELECT vec_id, list_id, unnest(codes) AS cid,
              generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.list_id = e.list_id AND l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2),
approx AS (
  SELECT query_id, vec_id FROM scan
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ROUND(d2, 6), vec_id) <= 5),
exact AS (
  SELECT q.query_id, e.vec_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
    ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
      - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
      + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6),
    e.vec_id) <= 5)
SELECT x.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM exact x LEFT JOIN approx a
  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY 1 ORDER BY 1
""".trim,
    // X110: the residual-encoding go/no-go — assign = Ivf.assignL2's
    // argmin (min |v|²−2v·c+|c|², tie: min centroid_id) over the
    // mirrored refined coarse quantizer, then the corpus averages of
    // |v|² and the same residual expansion
    "X110_residual_gain" -> s"""
WITH cents AS (SELECT centroid_id, centroid
               FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet')),
assigned AS (
  SELECT vec_id, embedding, centroid FROM (
    SELECT e.vec_id, e.embedding, c.centroid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
        - 2 * list_inner_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[])
        + list_inner_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]),
        c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c) z WHERE rk = 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
  ROUND(AVG(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
    AS avg_raw_d2,
  ROUND(AVG(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])
    - 2 * list_inner_product(embedding::DOUBLE[], centroid::DOUBLE[])
    + list_inner_product(centroid::DOUBLE[], centroid::DOUBLE[])), 6)
    AS avg_residual_d2,
  ROUND(AVG(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])
    - 2 * list_inner_product(embedding::DOUBLE[], centroid::DOUBLE[])
    + list_inner_product(centroid::DOUBLE[], centroid::DOUBLE[]))
    / AVG(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
    AS residual_gain
FROM assigned
""".trim,
    // X111: the two-stage serve — X108's IVFADC scan nominates the
    // 50-candidate shortlist (ROUND-6 ADC ordering, vec_id tie-break),
    // then the exact |q|²−2q·e+|e|² re-rank over the raw embeddings
    // keeps the true top-5 among them (both stages' orderings restated
    // exactly)
    "X111_ivfadc_rerank_top5" -> s"""
WITH cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pqr/codebook/*.parquet')),
co AS (SELECT vec_id, list_id, codes
       FROM read_parquet('$oracleIdxRoot/pqr/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet')),
probed AS (
  SELECT query_id, list_id, qr FROM (
    SELECT q.query_id, c.centroid_id AS list_id,
      [q.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE
       for i in range(1, len(q.embedding)+1)] AS qr,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        - 2 * list_inner_product(q.embedding::DOUBLE[], c.centroid::DOUBLE[])
        + list_inner_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]),
        c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) z WHERE rn <= 4),
lut AS (
  SELECT p.query_id, p.list_id, cb.sub, cb.cid,
    list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                       p.qr[cb.sub*8+1 : cb.sub*8+8])
    - 2 * list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM probed p, cb),
ex AS (SELECT vec_id, list_id, unnest(codes) AS cid,
              generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.list_id = e.list_id AND l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2),
short AS (
  SELECT query_id, vec_id FROM scan
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ROUND(d2, 6), vec_id) <= 50),
rr AS (
  SELECT s.query_id, s.vec_id,
    ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
      - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
      + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6)
      AS d2
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN embeddings e ON e.vec_id = s.vec_id)
SELECT query_id, vec_id, d2 FROM rr
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) <= 5
ORDER BY query_id, d2, vec_id
""".trim,
    // X112: recall@5 of the re-ranked two-stage result at X109's probe
    // budget (nProbe = 16, shortlist 50) vs exact-L2 ground truth
    "X112_rerank_recall" -> s"""
WITH cb AS (SELECT sub, cid, centroid
            FROM read_parquet('$oracleIdxRoot/pqr/codebook/*.parquet')),
co AS (SELECT vec_id, list_id, codes
       FROM read_parquet('$oracleIdxRoot/pqr/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3),
cents AS (SELECT centroid_id, centroid
          FROM read_parquet('$oracleIdxRoot/pqr/cents/*.parquet')),
probed AS (
  SELECT query_id, list_id, qr FROM (
    SELECT q.query_id, c.centroid_id AS list_id,
      [q.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE
       for i in range(1, len(q.embedding)+1)] AS qr,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        - 2 * list_inner_product(q.embedding::DOUBLE[], c.centroid::DOUBLE[])
        + list_inner_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]),
        c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) z WHERE rn <= 16),
lut AS (
  SELECT p.query_id, p.list_id, cb.sub, cb.cid,
    list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                       p.qr[cb.sub*8+1 : cb.sub*8+8])
    - 2 * list_inner_product(p.qr[cb.sub*8+1 : cb.sub*8+8],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM probed p, cb),
ex AS (SELECT vec_id, list_id, unnest(codes) AS cid,
              generate_subscripts(codes, 1) AS i
       FROM co),
scan AS (
  SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
  FROM ex e
  JOIN lut l ON l.list_id = e.list_id AND l.sub = e.i - 1 AND l.cid = e.cid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2),
short AS (
  SELECT query_id, vec_id FROM scan
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ROUND(d2, 6), vec_id) <= 50),
approx AS (
  SELECT s.query_id, s.vec_id FROM (
    SELECT s.query_id, s.vec_id,
      ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
        + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6)
        AS d2
    FROM short s
    JOIN q ON q.query_id = s.query_id
    JOIN embeddings e ON e.vec_id = s.vec_id) s
  QUALIFY row_number() OVER (PARTITION BY s.query_id
                             ORDER BY s.d2, s.vec_id) <= 5),
exact AS (
  SELECT q.query_id, e.vec_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
    ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
      - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
      + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6),
    e.vec_id) <= 5)
SELECT x.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM exact x LEFT JOIN approx a
  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY 1 ORDER BY 1
""".trim,
    // X113: the probe-budget operating curve under BOTH shortlist
    // policies — the X111/X112 two-stage pipeline restated once,
    // parameterized by an unnested (probe budget, policy) table whose
    // shortlist bound is the CASE restatement of Pq.adaptiveShortlist
    // (fixed50 → 50, auto → GREATEST(50, 16·p)); the ADC scan is keyed
    // by p only (the policy reuses it), the shortlist QUALIFY carries
    // (policy, p), then recall per (policy, nprobe, query)
    "X113_probe_recall_curve" -> s"""
$probeCurveCtes
SELECT pr.policy, pr.p AS nprobe, pr.r AS shortlist, x.query_id,
  CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM pr CROSS JOIN exact x
LEFT JOIN approx a
  ON a.policy = pr.policy AND a.p = pr.p
  AND a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 4
""".trim,
    // X120: recall-targeted serve calibration — the X113 chain's auto
    // branch MICRO-aggregated per budget (Σ hits / Σ exact, one
    // integer division — Pq.probeBudgetCurve's arithmetic), then per
    // target the smallest budget meeting it, falling back to the
    // largest calibrated budget (Pq.chooseProbeBudget's fallback)
    "X120_serve_calibration" -> s"""
$probeCurveCtes,
hits AS (
  SELECT pr.p, pr.r, x.query_id,
    COUNT(a.vec_id) AS n_hit, COUNT(*) AS n_exact
  FROM pr CROSS JOIN exact x
  LEFT JOIN approx a
    ON a.policy = pr.policy AND a.p = pr.p
    AND a.query_id = x.query_id AND a.vec_id = x.vec_id
  WHERE pr.policy = 'auto'
  GROUP BY 1, 2, 3),
micro AS (
  SELECT p AS nprobe, r AS shortlist,
    ROUND(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_exact), 6) AS recall
  FROM hits GROUP BY 1, 2),
tg AS (SELECT CAST(unnest([0.3, 0.6, 0.9, 0.99]) AS DOUBLE) AS target),
met AS (SELECT tg.target, MIN(m.nprobe) AS met_np
        FROM tg LEFT JOIN micro m ON m.recall >= tg.target GROUP BY 1),
fb AS (SELECT MAX(nprobe) AS fb_np FROM micro)
SELECT met.target,
  CAST(m.nprobe AS INT) AS nprobe,
  CAST(m.shortlist AS INT) AS shortlist,
  m.recall AS achieved_recall
FROM met CROSS JOIN fb
JOIN micro m ON m.nprobe = COALESCE(met.met_np, fb.fb_np)
ORDER BY met.target
""".trim,
    // X114: OPQ vs plain PQ recall@5 at equal m·ks over 25 queries —
    // the plain side is the X105 pipeline over the pq mirror; the OPQ
    // side first rotates each query with the persisted rotation
    // (array_agg of per-output-row list_inner_product, cast to REAL —
    // the exact float discipline the engine's corpus side uses) and
    // runs the same lut/fold/top-5 over the opq mirror. Exact ground
    // truth is raw-space (rotation is orthogonal)
    "X114_opq_recall" -> s"""
WITH cbp AS (SELECT sub, cid, centroid
             FROM read_parquet('$oracleIdxRoot/pq/codebook/*.parquet')),
cop AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/pq/codes/*.parquet')),
cbo AS (SELECT sub, cid, centroid
        FROM read_parquet('$oracleIdxRoot/opq/codebook/*.parquet')),
coo AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/opq/codes/*.parquet')),
rot AS (SELECT i, vals FROM read_parquet('$oracleIdxRoot/opq/rotation/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 25),
rq AS (SELECT q.query_id,
         array_agg(CAST(list_inner_product(r.vals::DOUBLE[], q.embedding::DOUBLE[])
                        AS REAL) ORDER BY r.i) AS embedding
       FROM q CROSS JOIN rot r GROUP BY q.query_id),
lutp AS (
  SELECT q.query_id, cb.sub, cb.cid,
    list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                       (q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[])
    - 2 * list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM q, cbp cb),
luto AS (
  SELECT q.query_id, cb.sub, cb.cid,
    list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                       (q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[])
    - 2 * list_inner_product((q.embedding[cb.sub*8+1 : cb.sub*8+8])::DOUBLE[],
                             cb.centroid::DOUBLE[])
    + list_inner_product(cb.centroid::DOUBLE[], cb.centroid::DOUBLE[]) AS d2
  FROM rq q, cbo cb),
exp_ AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
         FROM cop),
exo AS (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
        FROM coo),
approxp AS (
  SELECT query_id, vec_id FROM (
    SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
    FROM exp_ e JOIN lutp l ON l.sub = e.i - 1 AND l.cid = e.cid
    WHERE e.vec_id <> l.query_id
    GROUP BY 1, 2) s
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ROUND(d2, 6), vec_id) <= 5),
approxo AS (
  SELECT query_id, vec_id FROM (
    SELECT l.query_id, e.vec_id, SUM(l.d2) AS d2
    FROM exo e JOIN luto l ON l.sub = e.i - 1 AND l.cid = e.cid
    WHERE e.vec_id <> l.query_id
    GROUP BY 1, 2) s
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ROUND(d2, 6), vec_id) <= 5),
exact AS (
  SELECT q.query_id, e.vec_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
    ROUND(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
      - 2 * list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
      + list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6),
    e.vec_id) <= 5)
SELECT * FROM (
  SELECT 'pq' AS variant, x.query_id,
    CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
    CAST(COUNT(*) AS BIGINT) AS n_exact,
    ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
  FROM exact x LEFT JOIN approxp a
    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY 1, 2
  UNION ALL
  SELECT 'opq' AS variant, x.query_id,
    CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
    CAST(COUNT(*) AS BIGINT) AS n_exact,
    ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
  FROM exact x LEFT JOIN approxo a
    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY 1, 2)
ORDER BY 1, 2
""".trim,
    // X115: the OPQ training objective avg |R·x − y|² per variant —
    // rotate every corpus vector with the persisted rotation (REAL
    // cast, same float discipline as the engine), reconstruct y from
    // the stored codes (flatten of per-sub assigned centroids), and
    // average the full-vector |a|²−2a·b+|b|² expansion; the plain
    // variant is the same arithmetic over the raw vectors and the pq
    // mirror
    "X115_opq_error" -> s"""
WITH cbp AS (SELECT sub, cid, centroid
             FROM read_parquet('$oracleIdxRoot/pq/codebook/*.parquet')),
cop AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/pq/codes/*.parquet')),
cbo AS (SELECT sub, cid, centroid
        FROM read_parquet('$oracleIdxRoot/opq/codebook/*.parquet')),
coo AS (SELECT vec_id, codes FROM read_parquet('$oracleIdxRoot/opq/codes/*.parquet')),
rot AS (SELECT i, vals FROM read_parquet('$oracleIdxRoot/opq/rotation/*.parquet')),
rv AS (SELECT e.vec_id,
         array_agg(CAST(list_inner_product(r.vals::DOUBLE[], e.embedding::DOUBLE[])
                        AS REAL) ORDER BY r.i) AS emb
       FROM embeddings e CROSS JOIN rot r GROUP BY e.vec_id),
reconp AS (
  SELECT x.vec_id, flatten(array_agg(cb.centroid ORDER BY x.i)) AS recon
  FROM (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
        FROM cop) x
  JOIN cbp cb ON cb.sub = x.i - 1 AND cb.cid = x.cid
  GROUP BY x.vec_id),
recono AS (
  SELECT x.vec_id, flatten(array_agg(cb.centroid ORDER BY x.i)) AS recon
  FROM (SELECT vec_id, unnest(codes) AS cid, generate_subscripts(codes, 1) AS i
        FROM coo) x
  JOIN cbo cb ON cb.sub = x.i - 1 AND cb.cid = x.cid
  GROUP BY x.vec_id)
SELECT * FROM (
  SELECT 'pq' AS variant, CAST(COUNT(*) AS BIGINT) AS n_vectors,
    ROUND(AVG(
      list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
      - 2 * list_inner_product(e.embedding::DOUBLE[], p.recon::DOUBLE[])
      + list_inner_product(p.recon::DOUBLE[], p.recon::DOUBLE[])), 6)
      AS avg_q_error
  FROM embeddings e JOIN reconp p ON p.vec_id = e.vec_id
  UNION ALL
  SELECT 'opq' AS variant, CAST(COUNT(*) AS BIGINT) AS n_vectors,
    ROUND(AVG(
      list_inner_product(v.emb::DOUBLE[], v.emb::DOUBLE[])
      - 2 * list_inner_product(v.emb::DOUBLE[], o.recon::DOUBLE[])
      + list_inner_product(o.recon::DOUBLE[], o.recon::DOUBLE[])), 6)
      AS avg_q_error
  FROM rv v JOIN recono o ON o.vec_id = v.vec_id)
ORDER BY 1
""".trim
  )
}
