package graft

import java.nio.file.{Files, Path, Paths}

import graft.ops.Catalog
import graft.text.{MinHashConfig, MinHashDedup}

/** The persisted per-corpus artifact protocol ([[Extras.artifact]]) and
  * the stores it reads. Pinned here:
  *
  *  1. the directory is `java.io.tmpdir/graft_<prefix>_<stamp>` — the
  *     name every artifact kind, Bench's build witness and the oracle
  *     mirrors share;
  *  2. a fresh stamp reads the stored artifact: no rebuild, the
  *     directory signature Bench compares is unchanged;
  *  3. a reader refusal rebuilds exactly once, and a refusal that
  *     survives the rebuild fails the call;
  *  4. a mirror precondition runs on a mirror refresh only;
  *  5. the written column order of the signature, banded-directory and
  *     banded-table stores (readers, the DuckDB oracle SQL and
  *     already-persisted stores all depend on it).
  */
class ArtifactSpec extends SparkSpec {

  /** A throwaway corpus directory: the stamp folds the identity of its
    * `documents.parquet`, so rewriting that file is a new corpus.
    */
  private def corpus(content: String): Path = {
    val d = Files.createTempDirectory("graft-artifact-corpus")
    Files.write(d.resolve("documents.parquet"), content.getBytes("UTF-8"))
    d
  }

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
  }

  /** A plain-file artifact: a payload file plus the `_SUCCESS` marker,
    * counting its builds.
    */
  private class Counted {
    var builds = 0
    def build(dir: String): Unit = {
      builds += 1
      val d = Paths.get(dir)
      Files.createDirectories(d)
      Files.write(d.resolve("payload"), s"build $builds".getBytes("UTF-8"))
      Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
    }
  }

  test("the artifact directory keeps the graft_<prefix>_<stamp> shape under java.io.tmpdir") {
    val root = corpus("shape")
    val built = new Counted
    val dir = Extras.artifact(Catalog(spark, root.toString), "artifact_spec",
      "spec:v1", identity)(built.build)
    try {
      val f = new java.io.File(dir)
      assert(f.getParentFile.getCanonicalPath ==
        new java.io.File(sys.props("java.io.tmpdir")).getCanonicalPath)
      assert(f.getName.matches("graft_artifact_spec_[0-9a-f]{16}"), f.getName)
      assert(f.getName.startsWith(Extras.ArtifactPrefix))
      assert(Extras.OracleIdxDir == "graft_oracle_idx")
      assert(built.builds == 1)
    } finally { rmTree(Paths.get(dir)); rmTree(root) }
  }

  test("a fresh stamp reads the stored artifact: no rebuild, directory signature unchanged") {
    val root = corpus("fresh")
    val c = Catalog(spark, root.toString)
    val built = new Counted
    val dir = Extras.artifact(c, "artifact_spec", "spec:v1", identity)(built.build)
    try {
      val sig = Bench.dirSig(new java.io.File(dir))
      val again = Extras.artifact(c, "artifact_spec", "spec:v1", identity)(built.build)
      assert(again == dir)
      assert(built.builds == 1, "a fresh stamp must not rebuild")
      assert(Bench.dirSig(new java.io.File(dir)) == sig)
      // every key fragment re-keys: another key is another artifact
      val other = Extras.artifact(c, "artifact_spec", "spec:v2", identity)(built.build)
      try {
        assert(other != dir)
        assert(built.builds == 2)
      } finally rmTree(Paths.get(other))
    } finally { rmTree(Paths.get(dir)); rmTree(root) }
  }

  test("a reader refusal rebuilds exactly once; a refusal that survives the rebuild fails") {
    val root = corpus("refusal")
    val c = Catalog(spark, root.toString)
    val built = new Counted
    // a stored artifact the reader refuses (a half-written or
    // other-scheme store whose marker survived)
    built.build(Extras.artifact(c, "artifact_spec", "spec:v1", identity)(_ => ()))
    assert(built.builds == 1)
    var reads = 0
    val dir = Extras.artifact(c, "artifact_spec", "spec:v1", { d =>
      reads += 1
      val payload = new String(Files.readAllBytes(Paths.get(d, "payload")), "UTF-8")
      require(payload != "build 1", "refused")
      d
    })(built.build)
    try {
      assert(reads == 2 && built.builds == 2, s"reads=$reads builds=${built.builds}")
      val err = intercept[IllegalArgumentException] {
        Extras.artifact(c, "artifact_spec", "spec:v1",
          (_: String) => require(false, "always refused"))(built.build)
      }
      assert(err.getMessage.contains("always refused"))
      assert(built.builds == 3, "a persistent refusal rebuilds once, then fails")
    } finally { rmTree(Paths.get(dir)); rmTree(root) }
  }

  test("a mirror precondition runs on a mirror refresh only") {
    val root = corpus("mirror")
    val c = Catalog(spark, root.toString)
    val name = s"artifact_spec_${System.nanoTime}"
    val mirrored = Paths.get(sys.props("java.io.tmpdir"), Extras.OracleIdxDir, name)
    val built = new Counted
    var checks = 0
    def call(): String = Extras.artifact(c, "artifact_spec", "spec:v1", identity,
      mirror = name, precondition = (_: String) => checks += 1)(built.build)
    val dirs = scala.collection.mutable.Buffer(call())
    try {
      assert(checks == 1 && Files.exists(mirrored.resolve("payload")))
      val stamp = new String(Files.readAllBytes(mirrored.resolve("_GRAFT_STAMP")), "UTF-8")
      assert(dirs.head.endsWith(s"_$stamp"), "the mirror carries the artifact's stamp")
      dirs += call()
      assert(checks == 1, "a fresh mirror must not re-run the precondition")
      // a regenerated corpus is a new stamp: new artifact, mirror refresh
      Files.write(root.resolve("documents.parquet"), "mirror, regenerated".getBytes("UTF-8"))
      dirs += call()
      assert(dirs.last != dirs.head && built.builds == 2 && checks == 2)
      // a failing precondition keeps the stale mirror out of sight
      Files.write(root.resolve("documents.parquet"), "mirror, third".getBytes("UTF-8"))
      intercept[IllegalArgumentException] {
        Extras.artifact(c, "artifact_spec", "spec:v1", identity, mirror = name,
          precondition = (_: String) => require(false, "corpus violates the oracle"))(built.build)
      }
      dirs += Extras.artifact(c, "artifact_spec", "spec:v1", identity)(built.build)
      assert(built.builds == 3, "the artifact itself was stored before the refused refresh")
      val kept = new String(Files.readAllBytes(mirrored.resolve("_GRAFT_STAMP")), "UTF-8")
      assert(dirs(2).endsWith(s"_$kept"), "a refused refresh must not swap the mirror")
    } finally {
      dirs.foreach(d => rmTree(Paths.get(d)))
      rmTree(mirrored)
      rmTree(root)
    }
  }

  test("stores write their rows, then sig_v, the kind's geometry, cfg_chark, cfg_runlevel") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    val cfg = MinHashConfig()
    val sigDir = Files.createTempDirectory("graft-artifact-sigs")
    val bandDir = Files.createTempDirectory("graft-artifact-banded")
    val tbl = "graft_artifact_spec_banded"
    try {
      MinHashDedup.writeSignatures(docs, sigDir.toString, cfg)
      assert(spark.read.parquet(sigDir.toString).columns.toSeq == Seq("doc_id", "sig",
        "sig_v", "cfg_shingle", "cfg_hashes", "cfg_chark", "cfg_runlevel"))
      val sigs = MinHashDedup.readSignatures(spark, sigDir.toString, cfg)
      val banded = Seq("id", "sigh", "band", "bucket",
        "sig_v", "cfg_bands", "cfg_rows", "cfg_chark", "cfg_runlevel")
      MinHashDedup.writeBandedIndex(sigs, bandDir.toString, cfg)
      assert(spark.read.parquet(bandDir.toString).columns.toSeq == banded)
      MinHashDedup.writeBandedIndexTable(sigs, tbl, numBuckets = 2, cfg = cfg)
      assert(spark.table(tbl).columns.toSeq == banded)
      // and each reader accepts what its writer stamped
      assert(MinHashDedup.readBandedIndex(spark, bandDir.toString, cfg).count() ==
        MinHashDedup.readBandedIndexTable(spark, tbl, cfg).count())
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      rmTree(sigDir)
      rmTree(bandDir)
    }
  }
}
