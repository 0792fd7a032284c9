package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The on-disk protocol every persisted batch store shares — the IVF
  * vectors layout, the PQ codes, the MinHash signature and banded
  * stores, the substring window keys and the streaming batch sinks:
  *
  *  - a batch is a directory that holds `_SUCCESS` ([[completedDirs]]);
  *  - a new batch is staged in a hidden dir and renamed into the next
  *    free `<prefix><n>` slot ([[claimBatchDir]]);
  *  - deletes are tombstone batches anti-joined out at serve time
  *    ([[withoutDeleted]]);
  *  - compaction stages the folded layout with a `_FOLDED_DELTAS`
  *    manifest and swaps it in ([[compactLayout]]).
  *
  * A store keeps only its row format and its stamp gate: it tells this
  * object where its batches live, how to read one, and how to write the
  * folded layout. All listings go through the Hadoop FileSystem API, so
  * remote stores list correctly.
  */
private[graft] object Store {

  /** COMPLETE (_SUCCESS-bearing) dirs under `root0`, sorted by name. */
  def completedDirs(spark: SparkSession, root0: String): Seq[String] = {
    val root = new Path(root0)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        // dot-dirs are in-flight stages ([[claimBatchDir]]) — invisible
        // until their atomic rename publishes them (Hadoop's own
        // hidden-file convention): reading one mid-rename would race,
        // and a compaction manifest absorbing one would delete a batch
        // that is about to be published
        !s.getPath.getName.startsWith(".") &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.toString).sorted
  }

  /** Race-safe claim of the next sequential batch dir under `root0`:
    * the rows are written to a hidden stage dir first (invisible to
    * [[completedDirs]] consumers), then atomically RENAMED to
    * `<prefix><n>` for the smallest free n — two concurrent writers
    * can compute the same list-max+1 but only one rename wins a slot;
    * the loser takes the next one. The bare max+1-then-overwrite idiom
    * this replaces let the second writer silently destroy the first
    * batch (ADVICE r16). The explicit exists() guard matters on
    * local filesystems, where rename INTO an existing directory moves
    * the source inside it instead of failing.
    */
  def claimBatchDir(df: DataFrame, root0: String, prefix: String): String = {
    val spark = df.sparkSession
    val root = new Path(root0)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(root, s".stage-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(stage.toString)
    // reclaim stage debris a crashed earlier claim left behind (a
    // dot-dir is invisible to every reader, so the only cost is disk —
    // but batch payloads are full parquet, not markers, and nothing
    // else ever deletes them). One hour of age keeps any CONCURRENT
    // writer's live stage safe.
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-") &&
        s.getPath != stage && s.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, true))
    var n = fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case nm if nm.startsWith(prefix) &&
        nm.drop(prefix.length).nonEmpty &&
        nm.drop(prefix.length).forall(_.isDigit) =>
        nm.drop(prefix.length).toLong }
      .maxOption.map(_ + 1L).getOrElse(0L)
    while (true) {
      val dst = new Path(root, s"$prefix$n")
      if (!fs.exists(dst) && fs.rename(stage, dst)) {
        // rename(src, existingDir) NESTS src inside dst and still
        // returns true on HDFS (and via Hadoop's copy fallback on the
        // local FS) — so a writer that lost the exists→rename window
        // must detect the nesting and pull its payload back out to
        // retry, or its batch lands at d<n>/.stage-<uuid> where every
        // reader's hidden-path filter skips it forever
        val nested = new Path(dst, stage.getName)
        if (!fs.exists(nested)) return dst.toString
        fs.rename(nested, stage)
      }
      n += 1L
    }
    throw new IllegalStateException("unreachable")
  }

  /** `df` minus the ids tombstoned under `tombRoot` — applied by every
    * reader BEFORE any top-k or banding, so a deleted row neither
    * surfaces nor occupies a result slot. Free when no tombstone batch
    * exists: one listing, no join.
    */
  def withoutDeleted(
      spark: SparkSession, tombRoot: String, df: DataFrame, idCol: String): DataFrame =
    dropIds(spark, completedDirs(spark, tombRoot), df, idCol)

  /** `df` anti-joined with the ids in the tombstone batches `tombs`. A
    * tombstone batch holds exactly one column, the store's id column
    * (`vec_id` or `doc_id`), so it is read by position and named
    * `idCol`; the build side is tombstone-sized and broadcasts.
    */
  private def dropIds(
      spark: SparkSession, tombs: Seq[String], df: DataFrame, idCol: String): DataFrame =
    if (tombs.isEmpty) df
    else df.join(spark.read.parquet(tombs: _*).toDF(idCol), Seq(idCol), "left_anti")

  /** The staged-swap + `_FOLDED_DELTAS` manifest compaction of the
    * layout at `base`: fold base ∪ the completed batches under
    * `deltaRoot`, drop the ids tombstoned in the completed batches of
    * `tombstones` = (tombstone root, id column) when the store takes
    * deletes, `write(folded, nextPath)` the result, write the manifest
    * INSIDE it, then swap `base → base.old → base` and clean up. Both
    * the delta and the tombstone batches are absorbed through the
    * manifest: a tombstone deleted without being folded would
    * resurrect its rows, and the ordering (stage fully, then clean)
    * forbids that. `read` is the store's reader for one dir (its stamp
    * gate included); `write` its writer.
    *
    * The two recovery passes (base lost mid-swap; swapped but died
    * before cleanup) run at the top, so any crash window is
    * re-runnable. Every rename is CHECKED: Hadoop FileSystem.rename
    * reports most failures by returning false, and silently proceeding
    * past a failed swap-in to the delta deletions would lose the
    * folded rows forever — a false rename aborts loudly with the
    * layout still recoverable by a retry.
    *
    * `failpoint` crash-injects after the named step (the spec suites
    * exercise every window on every store).
    */
  def compactLayout(
      spark: SparkSession,
      base: String,
      deltaRoot: String,
      tombstones: Option[(String, String)],
      read: String => DataFrame,
      write: (DataFrame, String) => Unit,
      failpoint: String): Unit = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(p: String) = new Path(p)
    def del(p: String): Unit = if (fs.exists(hp(p))) fs.delete(hp(p), true)
    def mv(src: String, dst: String): Unit =
      if (!fs.rename(hp(src), hp(dst)))
        throw new IllegalStateException(
          s"rename $src -> $dst failed — compaction aborted before any delta deletion; retry recovers")
    def crash(point: String): Unit =
      if (failpoint == point)
        throw new IllegalStateException(s"injected crash at $point")
    val next = s"$base.next"
    val old = s"$base.old"
    // recovery 1: a previous compaction died BETWEEN the two swap
    // renames — no base dir. Complete the swap-in from the fully
    // staged (manifest'd) next, or roll back to old.
    if (!fs.exists(hp(base))) {
      if (fs.exists(hp(s"$next/_FOLDED_DELTAS"))) mv(next, base)
      else if (fs.exists(hp(old))) mv(old, base)
      else
        throw new IllegalStateException(
          s"$base missing and neither $next (manifest'd) nor $old exists — not a recoverable compaction crash")
    }
    // recovery 2: swapped but died before cleanup — the manifest inside
    // the live base names the already-folded delta dirs: delete them
    // (folding them twice would duplicate rows) plus the stale swap dirs
    val manifest = hp(s"$base/_FOLDED_DELTAS")
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val folded = scala.io.Source.fromInputStream(in).getLines().toSeq
      in.close()
      folded.foreach(del)
      del(old)
      del(next)
      fs.delete(manifest, false)
    }
    val deltas = completedDirs(spark, deltaRoot)
    val tombs = tombstones.fold(Seq.empty[String])(t => completedDirs(spark, t._1))
    val absorbed = deltas ++ tombs
    if (absorbed.nonEmpty) {
      val folded = deltas.map(read).foldLeft(read(base))(_ unionByName _)
      write(tombstones.fold(folded)(t => dropIds(spark, tombs, folded, t._2)), next)
      val out = fs.create(hp(s"$next/_FOLDED_DELTAS"), true)
      out.write((absorbed.mkString("\n") + "\n").getBytes("UTF-8"))
      out.close()
      crash("after-stage")
      del(old)
      mv(base, old)
      crash("after-swap-out")
      mv(next, base)
      crash("after-swap-in")
      del(old)
      absorbed.foreach(del)
      fs.delete(manifest, false)
    }
  }
}
