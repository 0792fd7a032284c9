package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Engine
import graft.sources.Tables

/** Query-surface contract — see SURVEY.md §7.
  *
  * `queries` exposes every implemented operator from SURVEY.md §2; each
  * contract entry reads the ten parquet tables of the given
  * scale-factor dir through a [[graft.ops.Catalog]] and runs its typed
  * DataFrame form (E2, [[graft.ops.DfContract]]), hash-equivalent to the
  * certified contract SQL. Additional non-SQL operators (LSH dedup,
  * ANN, streaming) are appended by their modules with rows-only checks.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * J02: 5-way star join + decimal revenue rollup — exercises scan,
    * broadcast joins, partial aggregation and sort in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    Engine.configure(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    spark.sql(Contract.byId("J02").sparkSql)
  }

  /** One entry per implemented operator from SURVEY.md §2. Served by the
    * typed DataFrame implementations (E2) — hash-equivalent to the
    * Appendix-A SQL, which remains available via [[Contract]] (E1) and
    * is cross-checked by HashCheck/ContractSpec.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Contract.all.map { c =>
      c.id -> { (spark: SparkSession, sfDir: String) =>
        Engine.configure(spark)
        graft.ops.DfContract.all(c.id)(graft.ops.Catalog(spark, sfDir))
      }
    }.toMap ++ Extras.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Contract.all.map(c => c.id -> c.duckSql).toMap ++ Oracle.oracleSql
}
