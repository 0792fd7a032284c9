package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Store

/** MinHash + LSH near-duplicate detection — the 100 TB dedup scale path
  * (SURVEY.md §4.3.2).
  *
  * Pipeline (all shuffles are on small derived keys, never documents):
  *   1. shingle every document (word n-grams, map-side);
  *   2. `numHashes` minhash signature values per document — hash h_k of
  *      a shingle is a_k·h + b_k over its 64-bit base hash h,
  *      signature_k = MIN over the document's shingles, all computed by
  *      one native kernel per document (no per-shingle rows); one
  *      groupBy(doc_id) whose buffer is the whole signature array folds
  *      rows that share a doc_id;
  *   3. band the signature (`bands` × `rowsPerBand`), hash each band,
  *      and bucket-join documents sharing any (band, bandHash) —
  *      candidate pairs only ever meet inside a bucket;
  *   4. verify candidates with the exact shingle-set Jaccard (cheap:
  *      candidates are few) and keep pairs ≥ `threshold`.
  *
  * Collision probability for Jaccard s is 1-(1-s^r)^b — with the
  * default 16×4, s=0.8 is caught with p≈0.986, s=0.3 with p≈0.12.
  */
final case class MinHashConfig(
    shingleSize: Int = 3,
    numHashes: Int = 64,
    bands: Int = 16,
    threshold: Double = 0.8,
    maxBucket: Int = 4096,
    charK: Int = 0,
    runLevel: Boolean = false) {
  require(numHashes % bands == 0, "bands must divide numHashes")
  require(maxBucket >= 2, "maxBucket must allow at least one pair")
  require(charK >= 0, "charK must be >= 0 (0 = word shingles only)")
  require(!runLevel || charK > 0, "runLevel requires charK > 0")
  def rowsPerBand: Int = numHashes / bands
}

object MinHashDedup {

  /** Per-doc distinct shingles. array_distinct dedups map-side; the
    * trailing DISTINCT is a semantic no-op that materializes a single
    * shuffled exchange shared by every consumer in the dedup pipeline
    * (ReuseExchange) — signatures and verification would otherwise each
    * re-execute the shingle scan.
    */
  private def shingleRows(documents: DataFrame, cfg: MinHashConfig): DataFrame =
    graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(
          TextAnalysis.shinglesAuto(
            col("text"), cfg.shingleSize, cfg.charK, cfg.runLevel))).as("s"))
      .distinct()

  /** (doc_id, sig: array<bigint>[numHashes]) — one row per doc_id
    * with at least one shingle.
    *
    * Each row is signed by the native [[graft.functions.ShingleHash]]
    * kernel: base hashes straight from the text, then the `numHashes`
    * minima of the linear hash family over them, in one loop — no
    * shingle strings and no per-shingle rows. Rows with no shingles
    * sign `null` and are dropped. One [[graft.functions.SignatureMin]]
    * fold per doc_id (a map-side partial, then one doc_id shuffle of
    * fixed-size arrays) makes a doc_id that repeats across rows sign
    * the union of their shingles.
    */
  def signatures(documents: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // single-row-group rescue: signing is the dominant dedup cost and
    // runs on the scan's task count; MIN is exact under partitioning,
    // so the signatures are bit-identical. No-op at scale.
    graft.ops.Scale.spreadForCompute(documents, col("doc_id"))
      .select(col("doc_id"), column(graft.functions.ShingleHash(expression(col("text")),
        cfg.shingleSize, cfg.charK, cfg.runLevel, cfg.numHashes)).as("sig"))
      .where(col("sig").isNotNull)
      .groupBy("doc_id")
      .agg(column(graft.functions.SignatureMin(expression(col("sig")), cfg.numHashes)
        .toAggregateExpression()).as("sig"))
  }

  /** Hash-scheme version of the signature pipeline. Bump whenever the
    * base hash ([[graft.functions.ShingleHash]]) or the hash family
    * changes — persisted tables from a different scheme must never mix
    * with live signatures (band hashes would simply never collide and
    * dedup would silently admit every duplicate). v3: the spaceless
    * dispatch gained the majority-non-ASCII guard on its ntok<n
    * disjunct (round 16) — a v2 charK>0 table signed short pure-ASCII
    * docs as char grams, so mixing it with live word-shingled
    * signatures would silently admit duplicate URLs/base64 blobs.
    */
  val SignatureVersion = 3

  /** The config stamp a persisted store carries beside its rows:
    * `sig_v`, the two geometry columns of its kind, `cfg_chark` and
    * `cfg_runlevel`. `show` renders a geometry in the refusal text,
    * `grain` names what a charK mismatch changed.
    */
  private final case class StoreStamp(
      geometry: MinHashConfig => Seq[(String, Int)],
      show: Seq[Int] => String,
      grain: String)

  /** Signature tables pin the shingle size and hash count. */
  private val SigStamp = StoreStamp(
    c => Seq("cfg_shingle" -> c.shingleSize, "cfg_hashes" -> c.numHashes),
    g => s" shingle=${g(0)} hashes=${g(1)}", "granularity")

  /** Banded stores pin the banding geometry: band hashes are a function
    * of it, not just of the hash scheme.
    */
  private val BandStamp = StoreStamp(
    c => Seq("cfg_bands" -> c.bands, "cfg_rows" -> c.rowsPerBand),
    g => s"/${g(0)}x${g(1)}", "shingle granularity")

  /** `rows` with the `kind` config stamp of `cfg` appended. */
  private def stamped(rows: DataFrame, kind: StoreStamp, cfg: MinHashConfig): DataFrame =
    (Seq("sig_v" -> SignatureVersion) ++ kind.geometry(cfg) ++ Seq(
      "cfg_chark" -> cfg.charK, "cfg_runlevel" -> (if (cfg.runLevel) 1 else 0)))
      .foldLeft(rows) { case (df, (n, v)) => df.withColumn(n, lit(v)) }

  /** The one version/config gate of every store reader: scheme version,
    * the kind's geometry, charK AND runLevel must all match, read with
    * ONE 1-row collect. A mismatch corrupts dedup silently — a different
    * shingle size verifies candidates against a different n-gram
    * definition; a different numHashes makes the banding slice
    * positions meaningless (an out-of-range slice is empty, its hash
    * constant, and EVERY document collides in those bands); a 16-band
    * table reused for a 32-band run never collides where it should; a
    * word-only (charK=0) store read under a charK>0 run signed its
    * spaceless docs with ZERO shingles, which the one-doc provenance
    * probe cannot see (any wordy probe doc signs identically under
    * both) — so every mismatch fails loudly instead. An empty store is
    * as unusable as a wrong-version one; both surface as
    * IllegalArgumentException so the artifact cache can treat "refused"
    * uniformly and rebuild. Stores from before the charK/runLevel
    * columns existed can only have been built word-only, doc-level.
    */
  private def requireStamp(
      df: DataFrame, kind: StoreStamp, cfg: MinHashConfig, what: String): Unit = {
    val geo = kind.geometry(cfg)
    require(("sig_v" +: geo.map(_._1)).forall(df.columns.contains),
      s"$what has no version/config columns — written by an incompatible build")
    def orZero(n: String) = if (df.columns.contains(n)) col(n) else lit(0)
    val head = df.select((col("sig_v") +: geo.map(g => col(g._1))) ++
      Seq(orZero("cfg_chark"), orZero("cfg_runlevel")): _*)
      .limit(1).collect().headOption
    require(head.nonEmpty, s"$what is empty — corrupt or partial write; rebuild it")
    val Seq(v, g0, g1, ck, rl) = (0 until 5).map(head.get.getInt)
    // v2→v3 changed ONLY the charK>0 spaceless dispatch (the majority-
    // non-ASCII guard); a charK=0 store never dispatched, so its
    // shingle universe is identical under v3 and forcing a rebuild
    // would discard a valid 100 TB artifact for nothing (ADVICE r16)
    val versionOk = v == SignatureVersion || (v == 2 && ck == 0)
    require(versionOk && Seq(g0, g1) == geo.map(_._2),
      s"$what was built as scheme v$v${kind.show(Seq(g0, g1))} charK=$ck, this run " +
        s"expects v$SignatureVersion (or v2 with charK=0)${kind.show(geo.map(_._2))} — rebuild it")
    require(ck == cfg.charK,
      s"$what was built with charK=$ck, this run expects charK=${cfg.charK} — " +
        s"spaceless docs signed a different ${kind.grain}; rebuild it")
    require((rl == 1) == cfg.runLevel,
      s"$what was built with runLevel=${rl == 1}, this run expects runLevel=${cfg.runLevel} — " +
        "mixed docs signed embedded runs differently; rebuild it")
  }

  /** Persist the signature table — the expensive shingle+minhash pass
    * paid ONCE. Downstream dedup (banding, candidates) runs from the
    * saved table via [[readSignatures]]; at 100 TB this is the index
    * artifact every re-dedup/incremental run starts from.
    */
  def writeSignatures(
      documents: DataFrame,
      path: String,
      cfg: MinHashConfig = MinHashConfig()): Unit =
    stamped(signatures(documents, cfg), SigStamp, cfg)
      .write.mode("overwrite").parquet(path)

  /** Reads refuse any scheme OR config mismatch ([[requireStamp]]). */
  def readSignatures(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val df = spark.read.parquet(path)
    requireStamp(df, SigStamp, cfg, s"signature table at $path")
    Store.withoutDeleted(spark, tombstoneRoot(path), df.select("doc_id", "sig"), "doc_id")
  }

  private def bandStructs(cfg: MinHashConfig) = (0 until cfg.bands).map { b =>
    struct(lit(b).as("band"),
      xxhash64(slice(col("sig"), b * cfg.rowsPerBand + 1, cfg.rowsPerBand)).as("band_hash"))
  }

  /** (doc_id, band, band_hash) from a precomputed signature table —
    * `bands` rows per document.
    */
  def bandedFromSignatures(sigs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    sigs
      .select(col("doc_id"), explode(array(bandStructs(cfg): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))

  /** (doc_id, band, band_hash) — `bands` rows per document. */
  def bandedSignatures(documents: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    bandedFromSignatures(signatures(documents, cfg), cfg)

  /** Distinct candidate pairs (i < j) sharing at least one LSH bucket,
    * from a precomputed signature table — with the shared hot-bucket
    * defense of [[graft.ops.BucketedPairs.cappedCandidatePairs]]:
    * buckets ≤ `cfg.maxBucket` are all-paired exhaustively; oversized
    * buckets (a degenerate near-constant corpus, or a genuinely huge
    * duplicate pile) degrade to linear candidates — identical-signature
    * groups star to their min doc_id (EXACT connectivity for the
    * constant-corpus case), distinct-signature representatives are
    * chunk-paired with fan-out ≤ maxBucket, and everything links to the
    * bucket anchor for verification reachability.
    *
    * Recall caveat (accurate, not aspirational): inside an OVERSIZED
    * bucket, a mutual near-dup pair (B, C) with DIFFERENT signatures is
    * listed only if B and C share a sub-chunk (~maxBucket/G chance) or
    * both verify against an anchor — so [[dedupWinners]] and
    * [[duplicateClusters]] can differ from the uncapped result when an
    * anchor is not itself a near-duplicate of such members. The band
    * hash space is 2^64, so uniform corpora never produce oversized
    * buckets — only true duplicate piles (where identical-signature
    * grouping carries the connectivity) and adversarial skew do. A
    * warning with the affected row fraction is logged whenever a bucket
    * is capped.
    */
  /** (id, sigh, band, bucket) — the candidate-join member table: one row
    * per (document, band), `sigh` the whole-signature hash that the
    * oversized-bucket defense groups identical signatures by.
    */
  private def memberTable(sigs: DataFrame, cfg: MinHashConfig): DataFrame =
    sigs
      .select(col("doc_id").as("id"), xxhash64(col("sig")).as("sigh"),
        explode(array(bandStructs(cfg): _*)).as("bb"))
      .select(col("id"), col("sigh"), col("bb.band").as("band"), col("bb.band_hash").as("bucket"))

  /** The banded member rows (id, sigh, band, bucket) that `documents`
    * WOULD contribute to an index built under `cfg` — the recompute
    * half of index-provenance spot checks: sample a doc, recompute its
    * rows from the text the index is CLAIMED to cover, and require the
    * persisted index carries exactly them (an index built over any
    * other text version disagrees with near-certainty — one changed
    * token moves the whole signature).
    */
  def expectedMemberRows(documents: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    memberTable(signatures(documents, cfg), cfg)

  def candidatePairsFromSignatures(sigs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    // the distinct pair set is consumed several times downstream
    // (candidate-id extraction for both sides + the verification join);
    // materialize it so the banded self-join runs once, not per consumer
    graft.ops.BucketedPairs.cappedCandidatePairs(memberTable(sigs, cfg), cfg.maxBucket)
      .distinct()
      .localCheckpoint(true)

  /** Persist the BANDED member table (id, sigh, band, bucket) beside the
    * signature table — the second index artifact of the 100 TB dedup
    * workflow: a repeat dedup run reads this and skips not only the
    * shingle+minhash pass (what [[writeSignatures]] buys) but the
    * banding explode/shuffle as well — candidates come straight off a
    * parquet scan of 8-byte keys into the bucket self-join.
    *
    * Band hashes are a function of the FULL banding config, not just the
    * hash scheme, so the artifact pins (sig_v, bands, rows_per_band) and
    * [[readBandedIndex]] refuses any mismatch ([[requireStamp]]).
    */
  def writeBandedIndex(
      sigs: DataFrame,
      path: String,
      cfg: MinHashConfig = MinHashConfig()): Unit =
    stamped(memberTable(sigs, cfg), BandStamp, cfg)
      .write.mode("overwrite").parquet(path)

  def readBandedIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    Store.withoutDeleted(spark, tombstoneRoot(path), readBandedRows(spark, path, cfg), "id")

  /** The stamp-gated member rows of one banded dir, tombstones NOT
    * applied: [[compactBandedIndex]] reads the base and each delta
    * through this and anti-joins the base's tombstones once, over the
    * folded union.
    */
  private def readBandedRows(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cfg: MinHashConfig): DataFrame = {
    val df = spark.read.parquet(path)
    requireStamp(df, BandStamp, cfg, s"banded index at $path")
    df.select("id", "sigh", "band", "bucket")
  }

  // ---------------- takedowns (text-index doc tombstones) ----------------

  /** Tombstone root of a persisted text store at `path` — a SIBLING
    * directory (`<path>.tombstones`), never inside the store (the
    * store is itself a parquet dir; a subdir would be swept into its
    * scan). Batch-keyed `d<n>` dirs like the Ivf tombstone contract.
    */
  private def tombstoneRoot(path: String): String =
    path.stripSuffix("/") + ".tombstones"

  /** Record a doc takedown against a persisted signature table or
    * banded index at `path` — the text-side mirror of
    * [[graft.vector.Ivf.deleteFromIndex]]: ids land as a batch-keyed
    * tombstone dir beside the store, every reader ([[readSignatures]],
    * [[readBandedIndex]]) anti-joins them out at serve time (one
    * directory existence check when none exist, no join), and
    * [[compactBandedIndex]] folds them into the layout physically.
    *
    * Contracts: doc ids are append-only and deletes are FINAL — a
    * tombstone outlives store rebuilds on the same path by design (the
    * takedown binds to the doc id, not a table generation; clear the
    * sibling dir explicitly once the source corpus itself is
    * cleansed). For the bucketed CATALOG-TABLE store use
    * [[deleteDocsFromTable]], which resolves the table's storage
    * location and tombstones beside it — [[readBandedIndexTable]]
    * serves those tombstones like the parquet readers do.
    */
  def deleteDocs(ids: DataFrame, path: String): Unit =
    // stage-then-rename batch claim ([[Store.claimBatchDir]]) — two
    // concurrent takedown calls can never collide on one d<n> and
    // silently destroy each other's batch (ADVICE r16)
    Store.claimBatchDir(
      ids.select(col("doc_id").cast("long").as("doc_id")).distinct(),
      tombstoneRoot(path), "d")

  /** The storage location backing a catalog table — the path the
    * table-path takedown/serve pair keys its tombstone sibling on. One
    * metadata lookup; fails loud on a non-existent table.
    */
  private def tableLocation(
      spark: org.apache.spark.sql.SparkSession, tableName: String): String =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(tableName))
      .location.toString

  /** [[deleteDocs]] against a BUCKETED catalog-table store
    * ([[writeBandedIndexTable]]): the tombstone batch lands beside the
    * table's storage location, and [[readBandedIndexTable]] anti-joins
    * it out at serve time — closing the takedown window the
    * table path used to have between wholesale rebuilds (VERDICT r16).
    * Same contracts as [[deleteDocs]]: ids append-only, deletes final,
    * tombstones outlive `saveAsTable` rebuilds on the same name (the
    * overwrite replaces the table dir, never its `.tombstones`
    * sibling) until the source corpus itself is cleansed and the
    * sibling dir cleared explicitly.
    */
  def deleteDocsFromTable(ids: DataFrame, tableName: String): Unit =
    deleteDocs(ids, tableLocation(ids.sparkSession, tableName))

  /** Fold the completed streaming banded-index deltas under
    * `deltaRoot` (the ingest streams' `index_delta/b<id>` dirs) into
    * the base index at `basePath` — the text-side analogue of
    * [[graft.vector.Ivf.compactIndex]]: a long-lived ingest stream
    * otherwise accumulates one tiny parquet dir per micro-batch and
    * every later batch re-reads all of them. Every table is
    * version/config-validated on the way in (readBandedRows), member
    * rows are pure ROW MOVEMENT (batch-keyed overwrite upstream means
    * no row exists twice), and the config stamps are re-written on the
    * compacted table. Any pending [[deleteDocs]] tombstones fold in
    * the same pass (their rows anti-joined away, the tombstone dirs
    * absorbed via the manifest) — exactly the Ivf tombstone contract.
    *
    * Crash discipline is [[Store.compactLayout]]'s staged
    * swap + `_FOLDED_DELTAS` manifest (every window re-runnable, each
    * absorbed dir deleted exactly once). Run from the maintenance
    * schedule, not concurrently with a micro-batch mid-read.
    */
  def compactBandedIndex(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      deltaRoot: String,
      cfg: MinHashConfig = MinHashConfig(),
      failpoint: String = ""): Unit =
    Store.compactLayout(spark, basePath, deltaRoot,
      Some(tombstoneRoot(basePath) -> "id"),
      readBandedRows(spark, _, cfg),
      stamped(_, BandStamp, cfg).write.mode("overwrite").parquet(_),
      failpoint)

  /** Candidate pairs straight from a persisted banded index — no
    * shingling, no signing, no banding; the same hot-bucket defense as
    * [[candidatePairsFromSignatures]].
    */
  def candidatePairsFromBanded(banded: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    graft.ops.BucketedPairs.cappedCandidatePairs(banded, cfg.maxBucket)
      .distinct()
      .localCheckpoint(true)

  /** [[writeBandedIndex]] as a BUCKETED catalog table: the member rows
    * hash-bucketed AND sorted by (band, bucket) — the join key of every
    * downstream consumer. A repeat dedup run reading this table plans
    * the bucket-size stats aggregate, the tag join and the candidate
    * self-join with ZERO shuffle exchanges (each side's required
    * clustered distribution is satisfied by the table's bucketing;
    * BucketedIndexSpec pins exchange-free plans) — at 100 TB the
    * re-dedup pays parquet scans and in-task sorts only, where the
    * plain-parquet index still shuffles the member table four times.
    *
    * Same version/config pinning as [[writeBandedIndex]]: a table built
    * under a different hash scheme or banding config is refused, never
    * silently reused.
    */
  def writeBandedIndexTable(
      sigs: DataFrame,
      tableName: String,
      numBuckets: Int = 32,
      cfg: MinHashConfig = MinHashConfig()): Unit =
    stamped(memberTable(sigs, cfg), BandStamp, cfg)
      .write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, "band", "bucket")
      .sortBy("band", "bucket")
      .saveAsTable(tableName)

  def readBandedIndexTable(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val df = spark.table(tableName)
    requireStamp(df, BandStamp, cfg, s"banded index table $tableName")
    // serve [[deleteDocsFromTable]] tombstones exactly like the parquet
    // readers: free (one existence check) when none exist, and the
    // anti-join's build side is tombstone-sized (broadcast) so the
    // table's (band, bucket) clustering survives for the exchange-free
    // downstream joins
    Store.withoutDeleted(spark, tombstoneRoot(tableLocation(spark, tableName)),
      df.select("id", "sigh", "band", "bucket"), "id")
  }

  /** Candidate pairs off a BUCKETED banded-index table
    * ([[writeBandedIndexTable]]): identical output to
    * [[candidatePairsFromBanded]], but the pair generation itself is
    * exchange-free — the table scan already clusters by (band, bucket),
    * so `preMaterialized` planning keeps its distribution instead of
    * checkpointing it away. Only the final cross-band pair dedup
    * shuffles (on the small (i, j) set, unavoidable and cheap).
    */
  def candidatePairsFromBucketed(banded: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    graft.ops.BucketedPairs.cappedCandidatePairs(banded, cfg.maxBucket, preMaterialized = true)
      .distinct()
      .localCheckpoint(true)

  /** [[verifiedPairsFromBanded]] over a bucketed index table. */
  def verifiedPairsFromBucketed(
      documents: DataFrame,
      banded: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    verifyCandidates(documents, candidatePairsFromBucketed(banded, cfg), cfg)

  /** [[dedupWinnersFromBanded]] over a bucketed index table. */
  def dedupWinnersFromBucketed(
      documents: DataFrame,
      banded: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    winnersFrom(documents, verifiedPairsFromBucketed(documents, banded, cfg))

  /** Distinct candidate pairs (i < j) sharing at least one LSH bucket. */
  def candidatePairs(documents: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    candidatePairsFromSignatures(signatures(documents, cfg), cfg)

  /** Candidate pairs with their LSH collision STRENGTH: (i, j, n_bands)
    * — in how many of the `cfg.bands` bands the pair collided. Band
    * collision probability is s^rowsPerBand for Jaccard s, so the
    * collision count is monotone evidence of similarity — the natural
    * priority when exact verification must be rationed
    * ([[budgetedVerifiedPairs]]).
    */
  def candidatePairsWithStrength(
      sigs: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    graft.ops.BucketedPairs.cappedCandidatePairs(memberTable(sigs, cfg), cfg.maxBucket)
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n_bands"))
      .localCheckpoint(true)

  /** [[verifiedPairs]] under a PER-DOCUMENT exact-verification budget —
    * the defense for adversarial duplicate piles (STATUS r4): a
    * document buried in a spam pile of near-identical copies otherwise
    * drags every one of its (linear-bounded, but still numerous)
    * candidates through exact shingle-Jaccard. Here each document
    * verifies only its `maxPairsPerDoc` STRONGEST candidates per pair
    * side (most band collisions first, smaller partner id as the
    * deterministic tiebreak), so per-doc verification work is a hard
    * constant and total work is ≤ 2·budget·docs regardless of pile
    * shape.
    *
    * Recall contract (explicit, not aspirational): pairs are dropped
    * ONLY around documents whose candidate degree exceeds the budget,
    * and the dropped ones are that document's weakest-evidence pairs.
    * With `maxPairsPerDoc` ≥ every document's candidate degree the
    * result EXACTLY equals [[verifiedPairs]] (spec-pinned). Under a
    * TIGHT budget a large duplicate pile is only partially deduped —
    * each member keeps its `maxPairsPerDoc` strongest links, so the
    * pair graph covers ~budget·members edges of the pile, not its full
    * clique/star — that partial recall IS the trade being bought;
    * callers wanting full pile recall at bounded cost should dedup
    * EXACT duplicates first (L02/X04 hash dedup is O(n)) so piles
    * collapse before LSH ever sees them.
    */
  def budgetedVerifiedPairs(
      documents: DataFrame,
      sigs: DataFrame,
      maxPairsPerDoc: Int,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    require(maxPairsPerDoc >= 1, s"maxPairsPerDoc=$maxPairsPerDoc must be positive")
    import org.apache.spark.sql.expressions.Window
    val strength = candidatePairsWithStrength(sigs, cfg)
    // per-doc windows over the candidate set: keys are single doc ids
    // (fine-grained, degree already linear-bounded by the bucket cap),
    // never corpus-sized partitions
    val wI = Window.partitionBy("i").orderBy(col("n_bands").desc, col("j").asc)
    val wJ = Window.partitionBy("j").orderBy(col("n_bands").desc, col("i").asc)
    val budgeted = strength
      .withColumn("__ri", row_number().over(wI))
      .withColumn("__rj", row_number().over(wJ))
      .filter(col("__ri") <= maxPairsPerDoc && col("__rj") <= maxPairsPerDoc)
      .select("i", "j")
    verifyCandidates(documents, budgeted, cfg)
  }

  /** Candidate pairs re-scored with exact shingle Jaccard, keeping only
    * true near-duplicates (≥ cfg.threshold).
    *
    * The signature pass never touches shingle STRINGS (ShingleHash
    * signs from base hashes directly), so the exact verification builds
    * string shingles only for documents that appear in a candidate pair
    * (left-semi against the candidate ids) — the corpus text is never
    * re-shingled in full, whether candidates come from the raw corpus
    * or from a precomputed `sigs` table.
    */
  def verifiedPairs(
      documents: DataFrame,
      cfg: MinHashConfig = MinHashConfig(),
      sigs: Option[DataFrame] = None): DataFrame = {
    val cand = sigs match {
      case Some(s) => candidatePairsFromSignatures(s, cfg)
      case None => candidatePairs(documents, cfg)
    }
    verifyCandidates(documents, cand, cfg)
  }

  /** [[verifiedPairs]] fed from a persisted banded index — the cheapest
    * repeat-run entry point (parquet scan → bucket join → exact verify
    * of the few candidates).
    */
  def verifiedPairsFromBanded(
      documents: DataFrame,
      banded: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    verifyCandidates(documents, candidatePairsFromBanded(banded, cfg), cfg)

  /** Exact shingle-Jaccard scoring of a candidate pair set against
    * per-side shingle tables — THE shared verification kernel behind
    * the single-corpus, cross-corpus and incremental paths:
    * intersection counts from one (pairs ⋈ shingles ⋈ shingles) join,
    * per-doc sizes joined back, jac = c / (szI + szJ − c), thresholded.
    * One definition, so a threshold/rounding/join fix lands in every
    * consumer at once.
    */
  private def jaccardAbove(
      cand: DataFrame,
      shI: DataFrame,
      shJ: DataFrame,
      threshold: Double): DataFrame = {
    val sizesI = shI.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val sizesJ =
      if (shJ eq shI) sizesI
      else shJ.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(shI.as("sa"), col("i") === col("sa.doc_id"))
      .join(shJ.as("sb"), col("j") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") / (col("za.sz") + col("zb.sz") - col("c"))
    inter
      .join(sizesI.as("za"), col("i") === col("za.doc_id"))
      .join(sizesJ.as("zb"), col("j") === col("zb.doc_id"))
      .filter(jac >= threshold)
      .select(col("i"), col("j"), round(jac, 6).as("jac"))
  }

  /** Exact shingle-Jaccard re-score of a candidate pair set; shingles
    * only the documents that appear in some pair.
    */
  private def verifyCandidates(
      documents: DataFrame,
      cand: DataFrame,
      cfg: MinHashConfig): DataFrame = {
    val candIds = cand.select(col("i").as("doc_id"))
      .union(cand.select(col("j").as("doc_id"))).distinct()
    val sh = shingleRows(documents.join(candIds, Seq("doc_id"), "left_semi"), cfg)
    jaccardAbove(cand, sh, sh, cfg.threshold)
  }

  /** Deduplicated corpus: every document except non-minimal members of
    * verified near-duplicate pairs (MIN doc_id wins, matching L02's
    * contract for exact duplicates).
    */
  def dedupWinners(
      documents: DataFrame,
      cfg: MinHashConfig = MinHashConfig(),
      sigs: Option[DataFrame] = None): DataFrame =
    winnersFrom(documents, verifiedPairs(documents, cfg, sigs))

  /** [[dedupWinners]] from a persisted banded index. */
  def dedupWinnersFromBanded(
      documents: DataFrame,
      banded: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    winnersFrom(documents, verifiedPairsFromBanded(documents, banded, cfg))

  private def winnersFrom(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = pairs.select(col("j").as("doc_id")).distinct()
    documents.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Transitive duplicate clusters: connected components over a near-
    * duplicate pair graph (i, j), as iterative min-label propagation —
    * each node's label becomes the smallest doc_id it can reach; the
    * label IS the cluster id (and the cluster's canonical survivor,
    * matching the min-doc_id-wins contract).
    *
    * Scale shape: one edge-keyed join + min-aggregate per iteration,
    * converging in O(cluster diameter) rounds — near-dup clusters are
    * tiny and shallow in practice. `localCheckpoint` truncates the
    * lineage each round so the plan stays constant-size; the per-round
    * convergence count is one metadata action. Deterministic: labels
    * depend only on graph structure.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the (small) edge set ONCE — every iteration joins
    // against it, and without this the upstream pair pipeline (shingle
    // join / LSH verify) would re-execute per round. The pair table is
    // itself checkpointed FIRST: the symmetrizing union consumes it
    // twice (once per direction), and a live verify chain would run
    // twice just to build the edges
    val p0 = pairs.select("i", "j").localCheckpoint(false)
    val edges = p0.select(col("i").as("a"), col("j").as("b"))
      .unionByName(p0.select(col("j").as("a"), col("i").as("b")))
      .distinct()
      .localCheckpoint(true)
    // label init IS the first propagation round: from identity labels,
    // round 1 assigns least(a, min over neighbors of their ids) — fold
    // it into the init aggregate (edges are symmetric, so every node
    // appears as `a`), saving one join + checkpoint + count round trip
    // per call; the loop below still verifies convergence (a fixpoint
    // round with zero changes) before returning
    var labels = edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("label"))
      .select(col("a").as("node"), col("label"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges.join(labels, col("b") === col("node"))
        .groupBy(col("a"))
        .agg(min("label").as("nlabel"))
      val updated = labels
        .join(neighborMin, col("node") === col("a"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("next"))
        .localCheckpoint(true)
      changed = updated.filter(col("next") =!= col("label")).count()
      labels = updated.select(col("node"), col("next").as("label"))
      iter += 1
    }
    // never return partially-propagated labels: a component deeper than
    // maxIter would silently split into several cluster ids
    require(changed == 0,
      s"duplicateClusters did not converge within $maxIter iterations " +
        s"($changed labels still changing) — raise maxIter")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Quality-aware duplicate-cluster winner selection — the production
    * alternative to min-id starring when near-dup copies differ in
    * completeness (truncations, boilerplate-injected mirrors): within
    * each cluster keep the member with the most DISTINCT tokens
    * (information mass), ties broken by lowest doc_id. Input `clusters`
    * is [[duplicateClusters]]' (doc_id, cluster_id) table; output one
    * row per cluster: (cluster_id, keep_id, n_uniq, n_members).
    *
    * Scale shape: the distinct-token count is map-side per doc, and the
    * winner plus the member count come from ONE aggregate over only the
    * clustered docs (the tiny near-dup subset, never the corpus) — a
    * max over (n_uniq, −doc_id) structs picks "most informative, min-id
    * on ties" without a window pass or a second join.
    */
  def qualityAwareWinners(documents: DataFrame, clusters: DataFrame): DataFrame = {
    val q = documents.select(col("doc_id"),
      size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long").as("n_uniq"))
    clusters.join(q, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        max(struct(col("n_uniq"), (-col("doc_id")).as("neg_id"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("w.neg_id")).as("keep_id"),
        col("w.n_uniq").as("n_uniq"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Dedup audit report — the summary table every large-scale dedup run
    * publishes alongside its winner list: one row per duplicate-cluster
    * SIZE with how many clusters have that size, how many documents the
    * min-id starring rule removes ((size−1) per cluster), and the
    * character mass those losers carry. Reviewers read this before
    * accepting a dedup pass: a long tail of huge clusters means
    * boilerplate mirrors; removed-mass vs corpus-mass is the headline
    * dedup rate.
    *
    * Input `clusters` is [[duplicateClusters]]' (doc_id, cluster_id)
    * table — only docs in some verified near-dup cluster, so every join
    * here touches the tiny clustered subset, never the corpus; the
    * report itself is at most #distinct-sizes rows.
    *
    * Pass the `banded` member table the pair generation ran over —
    * WITH the `maxBucket` cap that generation actually used — to
    * additionally surface the CAPPED-BUCKET exposure as data (not just
    * the [[graft.ops.BucketedPairs]] WARN log): three constant columns
    * — `capped_member_rows` (member rows sitting in (band, bucket)
    * groups larger than the cap, whose distinct-signature pair recall
    * is degraded to the linear scheme), `total_member_rows`, and their
    * ratio `capped_member_frac` — so a 100 TB operator reading the
    * report artifact sees recall degradation in the table a human
    * actually reviews, instead of needing executor logs. Zero means the
    * pair listing was fully exhaustive. The cap travels in the tuple
    * rather than defaulting to `MinHashConfig().maxBucket` so an index
    * built under a custom config can never be audited against the
    * wrong threshold. Cost: one 8-byte-key aggregate over the index,
    * broadcast-joined onto the (tiny) report.
    */
  def dedupReport(
      documents: DataFrame,
      clusters: DataFrame,
      banded: Option[(DataFrame, Int)] = None): DataFrame = {
    val members = clusters.join(
      documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val base = members
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        // losers = everyone but the min-id winner: total chars minus
        // the winner's chars, in one aggregate (min over (id, chars)
        // structs pins the winner deterministically)
        (sum(col("n_chars")) -
          min(struct(col("doc_id"), col("n_chars"))).getField("n_chars"))
          .as("chars_lost"))
      .groupBy("cluster_size")
      .agg(
        count(lit(1)).cast("bigint").as("n_clusters"),
        (sum(col("cluster_size") - 1)).cast("bigint").as("docs_removed"),
        sum(col("chars_lost")).cast("bigint").as("chars_removed"))
    banded.fold(base.orderBy("cluster_size")) { case (b, cap) =>
      val stats = b.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
        .agg(
          coalesce(sum(when(col("__n") > cap, col("__n"))), lit(0L))
            .cast("bigint").as("capped_member_rows"),
          coalesce(sum(col("__n")), lit(0L))
            .cast("bigint").as("total_member_rows"))
        .withColumn("capped_member_frac",
          round(col("capped_member_rows").cast("double") /
            greatest(col("total_member_rows"), lit(1L)).cast("double"), 6))
      base.crossJoin(broadcast(stats)).orderBy("cluster_size")
    }
  }

  /** Source-pair near-duplication matrix: the verified near-dup pair
    * table rolled up by the UNORDERED pair of source labels — the
    * mixture-design signal of WHERE duplication lives. Heavy
    * off-diagonal mass means two "independent" sources mirror each
    * other and their mixture weights double-count the same text; heavy
    * diagonal mass means a source self-duplicates and its effective
    * size is below its row count. Output: (source_a ≤ source_b,
    * n_pairs, max_jac).
    *
    * Scale shape: the pair table is already sparse (banded candidates,
    * exact-verified — typically ≪ corpus size); it joins the
    * metadata-thin (doc_id, source) projection twice and feeds one
    * |sources|²-bounded aggregate. The corpus text is never touched —
    * this is the natural SECOND consumer of a persisted verified-pairs
    * artifact.
    */
  def crossSourceDupMatrix(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("i"), col("source").as("si")), Seq("i"))
      .join(src.select(col("doc_id").as("j"), col("source").as("sj")), Seq("j"))
      .select(
        least(col("si"), col("sj")).as("source_a"),
        greatest(col("si"), col("sj")).as("source_b"),
        col("jac"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"), max(col("jac")).as("max_jac"))
      .orderBy("source_a", "source_b")
  }

  /** Verified near-duplicate pairs ACROSS two corpora — near-dup
    * benchmark decontamination at scale (the fuzzy complement of the
    * exact n-gram overlap in
    * [[graft.text.TextAnalysis.contaminationScores]]): LSH candidates
    * between `corpus` and `benchmark` (band-hash equi join, never
    * all-pairs), exact shingle-Jaccard verification of only the
    * candidate documents. Returns (corpus_id, bench_id, jac ≥
    * threshold). The two sides keep separate shingle tables, so
    * overlapping doc_id spaces are fine.
    *
    * Cost shape: each side pays one signature pass; the cross join is
    * band-bucket keyed; verification shingles only candidate docs.
    */
  def crossNearDups(
      corpus: DataFrame,
      benchmark: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val bandedC = bandedSignatures(corpus, cfg)
    val bandedB = bandedSignatures(benchmark, cfg)
    val cand = bandedC.as("a")
      .join(bandedB.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
      .localCheckpoint(true)
    val shC = shingleRows(
      corpus.join(cand.select(col("i").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"), cfg)
    val shB = shingleRows(
      benchmark.join(cand.select(col("j").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"), cfg)
    jaccardAbove(cand, shC, shB, cfg.threshold)
      .orderBy("i", "j")
  }

  /** [[crossNearDups]] with BOTH sides' candidates drawn from one
    * persisted banded member table covering corpus ∪ benchmark (the
    * signature of a document does not depend on which side it sits on,
    * so the shared index serves both): side membership is a semi-join
    * on ids, candidates meet on (band, bucket) across sides, and only
    * candidate documents are shingled for the exact-Jaccard verify.
    * Because `bucket` IS the full band hash, the candidate set — and
    * therefore the output — exactly equals [[crossNearDups]] at the
    * same config; everything downstream of the persisted parquet is
    * portable SQL, which makes this form oracle-checkable (X46).
    */
  def crossNearDupsFromBanded(
      corpus: DataFrame,
      benchmark: DataFrame,
      banded: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val bc = banded.join(
      corpus.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    val bb = banded.join(
      benchmark.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    val cand = bc.as("a")
      .join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
      .localCheckpoint(true)
    val shC = shingleRows(
      corpus.join(cand.select(col("i").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"), cfg)
    val shB = shingleRows(
      benchmark.join(cand.select(col("j").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"), cfg)
    jaccardAbove(cand, shC, shB, cfg.threshold)
      .orderBy("i", "j")
  }

  /** Benchmark near-dups for a FRESH batch of documents against a
    * PERSISTED banded index of the benchmark — the ingest-time
    * decontamination probe: the batch is shingled + signed in place
    * (signatures are pure functions of the text, so the result equals
    * [[crossNearDupsFromBanded]] run with the batch already in the
    * index), the benchmark contributes only its 8-byte banded keys
    * plus the texts of the few candidate docs for exact re-score.
    * Returns (i, j, jac): i = batch doc, j = benchmark doc, exact
    * shingle Jaccard ≥ cfg.threshold.
    */
  def crossNearDupsAgainstBanded(
      newDocs: DataFrame,
      benchmark: DataFrame,
      benchBanded: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val bandedNew = bandedFromSignatures(signatures(newDocs, cfg), cfg)
    val cand = bandedNew.as("a")
      .join(benchBanded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.bucket"))
      .select(col("a.doc_id").as("i"), col("b.id").as("j"))
      .distinct()
      .localCheckpoint(true)
    val shN = shingleRows(
      newDocs.join(cand.select(col("i").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), cfg)
    val shB = shingleRows(
      benchmark.join(cand.select(col("j").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), cfg)
    jaccardAbove(cand, shN, shB, cfg.threshold).orderBy("i", "j")
  }

  /** Incremental dedup — the 100 TB ingest workflow: admit a NEW batch
    * of documents against an EXISTING corpus using only the corpus's
    * persisted signature table. A new document loses if it near-
    * duplicates (exact Jaccard ≥ cfg.threshold, LSH-candidates-only) an
    * existing document (the corpus always wins) or a smaller-id document
    * of the same batch. Returns the surviving new doc_ids.
    *
    * Cost shape: only the new batch is shingled and signed; the existing
    * corpus contributes its signature table (banded map-side) plus the
    * texts of the FEW candidate docs for exact re-score — never a full
    * corpus text pass.
    *
    * Requires new doc_ids > existing doc_ids (append-only ingest), which
    * makes the result equal batch [[dedupWinners]] restricted to the new
    * ids (pinned by IncrementalDedupSpec).
    */
  def incrementalDedupWinners(
      newDocs: DataFrame,
      existingDocs: DataFrame,
      existingSigs: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    incrementalCore(newDocs, existingDocs, bandedFromSignatures(existingSigs, cfg), cfg)

  /** [[incrementalDedupWinners]] with the corpus side fed from a
    * persisted BANDED index ([[writeBandedIndex]]) — the steady-state
    * ingest shape: the existing corpus contributes a parquet scan of
    * 8-byte keys, paying neither a signature nor a banding pass.
    */
  def incrementalDedupWinnersFromBanded(
      newDocs: DataFrame,
      existingDocs: DataFrame,
      existingBanded: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    incrementalCore(newDocs, existingDocs,
      existingBanded.select(
        col("id").as("doc_id"), col("band"), col("bucket").as("band_hash")),
      cfg)

  private def incrementalCore(
      newDocs: DataFrame,
      existingDocs: DataFrame,
      bandedOld: DataFrame,
      cfg: MinHashConfig): DataFrame = {
    // the shingle+sign pass over the new batch feeds BOTH candidate
    // joins — materialize it once (fixed-size signature rows), same
    // discipline as candidatePairsFromSignatures
    val newSigs = signatures(newDocs, cfg).localCheckpoint(true)
    val bandedNew = bandedFromSignatures(newSigs, cfg)
    // candidates: new-vs-existing (any band collision) ...
    val candOld = bandedNew.as("a")
      .join(bandedOld.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
      .select(col("b.doc_id").as("i"), col("a.doc_id").as("j"))
      .distinct()
    // ... and new-vs-new (smaller id wins within the batch)
    val candNew = bandedNew.as("a")
      .join(bandedNew.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    // the (small) distinct pair set feeds the id extraction AND the
    // verification join — materialize it, matching the sibling paths
    val cand = candOld.union(candNew).distinct().localCheckpoint(true)
    // exact verification shingles ONLY docs (old OR new) that appear in
    // a candidate pair — a large ingest batch with few candidates never
    // pays a full string-shingle pass
    val candIds = cand.select(col("i").as("doc_id"))
      .union(cand.select(col("j").as("doc_id"))).distinct()
    val involved = existingDocs
      .unionByName(newDocs.select(existingDocs.columns.map(col): _*))
      .join(candIds, Seq("doc_id"), "left_semi")
    val sh = shingleRows(involved, cfg)
    val losers = jaccardAbove(cand, sh, sh, cfg.threshold)
      .select(col("j").as("doc_id"))
      .distinct()
    newDocs.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }
}
