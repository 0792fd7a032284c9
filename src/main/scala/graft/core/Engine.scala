package graft.core

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the graft engine.
  *
  * Every entry point (Verify, Bench, tests, user code) funnels through
  * [[session]] so the three load-bearing configs are always present:
  *
  *  - `spark.sql.session.timeZone=UTC` — timestamp rendering and the
  *    DuckDB oracle comparison are defined in UTC (SURVEY.md §2.2).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — `events.parquet`
  *    stores `ts` as Parquet TIMESTAMP(NANOS), which Spark 4 refuses to
  *    read natively (SURVEY.md H1). With this flag it surfaces as a
  *    LongType that [[graft.sources.Tables]] converts to microseconds.
  *  - AQE on — runtime join re-planning (SMJ→broadcast) and skew-join
  *    splitting are the designed scale path (SURVEY.md §4.2); we rely on
  *    them instead of hand-scheduling.
  *
  * It also sets `spark.hadoop.fs.file.impl` to [[graft.sources.LocalFs]].
  * Without libhadoop, Hadoop's local filesystem forks a `chmod` after
  * every file and `.crc` create and every mkdir, even when the mode is
  * already right; `LocalFs` skips exactly those no-op calls, so an
  * index build's cost is its bytes, not its file count. Modes, `.crc`
  * sidecars and every other call stay Hadoop's. Sessions built
  * elsewhere and only passed to [[configure]] keep the default `file:`
  * filesystem. It is a session conf, not a runtime one, because Hadoop
  * caches one `file:` filesystem per JVM from the first configuration
  * that asks for it.
  *
  * Shuffle partitioning: sized for the harness (local[N] with N cores →
  * N shuffle partitions). On a real cluster this is config, not code —
  * AQE coalesces the excess either way.
  */
object Engine {

  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32,
      appName: String = "graft",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // collect() returns java.time.{Instant, LocalDate} — timezone-proof
      // canonicalization (no java.sql.* default-TZ ambiguity).
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.LocalFs].getName)
    extra.foreach { case (k, v) => b.config(k, v) }
    configure(b.getOrCreate())
  }

  /** Switch stateful streaming onto the RocksDB state store — the
    * 100 TB state backend (SURVEY.md §5 scale notes): state spills to
    * local SSD instead of living on the JVM heap, changelog
    * checkpointing bounds per-commit upload cost, and unbounded
    * dedup/session state stops being an executor-memory ceiling. A SQL
    * conf, so it applies to queries STARTED afterwards (a running query
    * keeps the provider it started with). Verified end-to-end by
    * StreamingSpec's RocksDB dedup test.
    */
  def useRocksDbStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark
  }

  /** Apply the graft-required runtime confs to an externally created
    * session (e.g. the driver's Verify/Bench sessions). All three are
    * runtime-settable SQL confs in Spark 4. Also injects the
    * DotProductRewrite optimizer rule (idempotently) so SQL-dialect
    * vector folds run through the codegen'd kernel.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    if (!spark.experimental.extraOptimizations.contains(graft.functions.DotProductRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.functions.DotProductRewrite
    graft.functions.VectorFunctions.register(spark) // graft_dot for SQL; idempotent
    graft.plans.AsOfJoin.registerStrategy(spark) // native as-of planning; idempotent
    spark
  }
}
