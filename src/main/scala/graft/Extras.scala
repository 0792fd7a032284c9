package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_distinct, array_intersect, array_join, asc, ascii, broadcast, coalesce, col, concat, count, desc, element_at, exp, explode, greatest, length, lit, max, md5, min, octet_length, regexp_replace, round, size, slice, substring, sum, transform, typedLit, upper, when}

import graft.core.Engine
import graft.functions.ZOrderValue
import graft.media.MediaPipeline
import graft.ops.{Catalog, Profile, Scale}
import graft.pipeline.{CurationPlan, DeconConfig, SpanCut}
import graft.text.{MinHashDedup, SimHash, TextAnalysis}
import graft.vector.Ann

/** Operators beyond the 55-query contract: the LLM-pipeline surface
  * (dedup, similarity search, text analysis, multimodal plumbing)
  * mandated by BASELINE.json's north star.
  *
  * Nearly every extra is oracle-checked (125 of the 128): either
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
  * oracle-checked downstream of those files. The DuckDB restatements
  * themselves live in [[Oracle]]; this object holds the engine side:
  * the `queries` registry and the persisted-artifact protocol.
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
  private[graft] val oracleIdxRoot =
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
    * NON-benchmark slice under [[X121Cut]]'s window (w=10, the
    * X118/X119 window contract). The v2 banded index is built over
    * exactly this text, so both ride one stamped artifact and can never
    * drift apart.
    */
  private def cleanCorpusTable(c: Catalog): DataFrame = {
    val w = X121Cut.windowTokens
    stampedArtifact(c, "subclean",
      s"subclean:v${graft.text.SubstringDedup.AlgorithmVersion}:w$w") {
      graft.text.SubstringDedup.cleanCorpus(
        c.documents.filter(col("source") =!= "src0"), w)
    }
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
      s"sc${graft.text.SubstringDedup.AlgorithmVersion}" +
      s"w${X121Cut.windowTokens}",
      "minhash_banded_v2", cfg)(MinHashDedup.signatures(v2Documents(c), cfg))
  }

  /** The two curation releases the stored manifests hold: X93 (v1
    * order, verdicts on raw text) and X121 (v2 order, the span cut
    * first). Every parameter is the plan default; a default change
    * re-keys both stores through [[CurationPlan.stampKey]].
    */
  private[graft] val X93Plan = CurationPlan()
  private val X121Cut = SpanCut()
  private[graft] val X121Plan = CurationPlan(spanCut = Some(X121Cut))

  /** The X93 manifest (channels from the persisted artifacts) — shared
    * by X93 and X122.
    */
  private def x93Manifest(c: Catalog): DataFrame =
    graft.pipeline.TrainingSet.curationManifest(
      c.documents.filter(col("source") =!= "src0"),
      c.documents.filter(col("source") === "src0"),
      bandedTable(c),
      c.embeddings,
      X93Plan,
      nearDupPairs = Some(crossNearDupsTable(c)),
      ngramScores = Some(contaminationTable(c)),
      corpusPairs = Some(vpairsTable(c)))

  /** The X121 manifest (every stage over the cleaned text, channels
    * from scratch) — shared by X121 and X122.
    */
  private def x121Manifest(c: Catalog): DataFrame =
    graft.pipeline.TrainingSet.curationManifest(
      c.documents.filter(col("source") =!= "src0"),
      c.documents.filter(col("source") === "src0"),
      bandedV2Table(c),
      c.embeddings,
      X121Plan)

  /** The stage-chain fragment both stored manifests' stamp keys end
    * with ([[CurationPlan.paramsKey]]; the two plans differ only in the
    * span cut, which the v2 prefix carries).
    */
  private[graft] def manifestParamsKey: String = X93Plan.paramsKey

  /** [[x93Manifest]] from the write-once stamped store — the persisted
    * release manifest an order-impact audit reads. Keyed on every
    * version + parameter the manifest content depends on (the channel
    * artifacts it reads are themselves stamped, so their semantic
    * versions ride the plan's manifest-assembly version).
    */
  private def x93ManifestStored(c: Catalog): DataFrame =
    stampedArtifact(c, "manifest_v1", X93Plan.stampKey)(x93Manifest(c))

  /** [[x121Manifest]] from the write-once stamped store (the span cut
    * and the from-scratch channels are paid once per corpus; X121
    * itself keeps running the chain live — it certifies the first-run
    * state, this certifies the audit-over-stored-manifests state).
    */
  private def x121ManifestStored(c: Catalog): DataFrame =
    stampedArtifact(c, "manifest_v2", X121Plan.stampKey)(x121Manifest(c))

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

  /** The X128 run-level release: the X121 plan with the run-level span
    * cut and both MinHash tiers signing embedded runs.
    */
  private val X128Plan = CurationPlan(DeconConfig(dedup = RlDeconCfg),
    corpusDedup = RlCorpusCfg, spanCut = Some(SpanCut(runLevel = true)))

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
  private def contaminationTable(c: Catalog): DataFrame =
    stampedArtifact(c, "contamination", contaminationKey) {
      TextAnalysis.contaminationScores(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"), X93Plan.decon.n)
    }.orderBy("doc_id")

  /** The stamp keys of the three channel artifacts X93 reads, each
    * keyed on the [[X93Plan]] config it is computed under — so a plan
    * default change re-keys the channels together with the manifest.
    */
  private[graft] def contaminationKey: String = s"contamination:v1:${X93Plan.decon.n}"
  private[graft] def crossNearDupsKey: String = pairsKey("xnd", X93Plan.decon.dedup)
  private[graft] def vpairsKey: String =
    s"${pairsKey("vpairs", X93Plan.corpusDedup)}:${X93Plan.corpusDedup.maxBucket}"

  private def pairsKey(prefix: String, cfg: graft.text.MinHashConfig): String =
    s"$prefix:v${MinHashDedup.SignatureVersion}:${cfg.shingleSize}:" +
      s"${cfg.numHashes}:${cfg.bands}:${cfg.threshold}"

  /** Per-corpus persisted benchmark near-dup pairs — the X46 report as
    * a stored artifact: the banded candidate + exact-verify chain runs
    * once per corpus, and both the X46 declared query and X90's
    * near-dup channel read the same rows. Values are unchanged (the
    * read re-applies the (i, j) order the hash expects).
    */
  private def crossNearDupsTable(c: Catalog): DataFrame =
    stampedArtifact(c, "xnd", crossNearDupsKey) {
      MinHashDedup.crossNearDupsFromBanded(
        c.documents.filter(col("source") =!= "src0"),
        c.documents.filter(col("source") === "src0"),
        bandedTable(c), X93Plan.decon.dedup)
    }.orderBy("i", "j")

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
  private def vpairsTable(c: Catalog): DataFrame =
    stampedArtifact(c, "vpairs", vpairsKey) {
      MinHashDedup.verifiedPairsFromBanded(c.documents, bandedTable(c), X93Plan.corpusDedup)
    }.orderBy("i", "j")

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
  private[graft] val bm25QueryTerms = Seq("hash", "join", "vector")

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
      graft.pipeline.TrainingSet.curationManifest(
        rlFixture(c), rlBench(c), bandedRlTable(c), c.embeddings, X128Plan)),
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
}
