package graft.ops

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** DataFrame (E2) forms of the scan / filter / join / sort / set-op
  * contract queries. Each is hash-equivalent to its Appendix-A SQL —
  * same rows, same column names, same total order (verified by
  * DfContractSpec against the certified hashes).
  *
  * Scale notes are inline: the structures are chosen so Catalyst picks
  * broadcast joins for dims, partial aggregation before shuffles, and
  * TakeOrderedAndProject for top-k — the plans that survive 100 TB.
  */
object RelationalQueries {

  val queries: Map[String, Catalog => DataFrame] = Map(
    // S01 — single-scan global aggregate: partial agg per file split,
    // single-row final — no data shuffle beyond 1-row exchange.
    "S01" -> { c =>
      c.lineitem.agg(
        count(lit(1)).as("n"),
        min("l_orderkey").as("mn"),
        max("l_orderkey").as("mx"),
        count("l_partkey").as("nn"))
    },
    // S02 — ten independent count scans unioned; each is metadata-cheap.
    "S02" -> { c =>
      val counts = Seq(
        "customer" -> c.customer, "orders" -> c.orders,
        "lineitem" -> c.lineitem, "part" -> c.part,
        "supplier" -> c.supplier, "nation" -> c.nation,
        "region" -> c.region, "events" -> c.events,
        "documents" -> c.documents, "embeddings" -> c.embeddings)
      counts.map { case (name, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(name).as("t"), col("n"))
      }.reduce(_.union(_)).orderBy("t")
    },
    // P01 — predicate + projection both push into the parquet scan.
    "P01" -> { c =>
      c.lineitem
        .filter(col("l_quantity").between(10, 15) && col("l_returnflag") === "R")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 2).as("net"))
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    },
    "P02" -> { c =>
      c.customer
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") &&
          col("c_name").like("Customer#00000012%"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    "P03" -> { c =>
      c.orders
        .filter((col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH") &&
          !(col("o_orderstatus") === "P") &&
          col("o_orderdate") >= lit(LocalDateTime.of(2000, 1, 1, 0, 0)))
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .limit(50)
    },
    // J01 — fact-dim equi join; customer is broadcastable at test SF and
    // shuffles on the key at 100 TB (AQE decides), then two-phase agg.
    "J01" -> { c =>
      c.orders
        .join(c.customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 4))), 2).cast("double").as("total"))
        .orderBy("c_mktsegment")
    },
    // J02 — star join: nation/region are tiny → explicit broadcast; the
    // orders filter prunes before the fact-fact join.
    "J02" -> { c =>
      c.lineitem
        .join(c.orders.filter(col("o_orderdate") >= lit(LocalDateTime.of(1997, 1, 1, 0, 0))),
          col("l_orderkey") === col("o_orderkey"))
        .join(c.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(c.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(c.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4))), 2).cast("double").as("revenue"))
        .orderBy("r_name", "n_name")
    },
    // J03 — left outer against a filtered right side; COUNT(col) is
    // null-preserving so unmatched customers count 0.
    "J03" -> { c =>
      c.customer
        .join(c.orders.filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n"))
        .filter(col("n") === 0)
        .orderBy("c_custkey")
        .limit(100)
    },
    // J04 — EXISTS ≡ left-semi: no row multiplication, keys only.
    "J04" -> { c =>
      c.customer
        .join(c.orders.filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n"))
    },
    // J05 — NOT EXISTS with correlated predicate ≡ left-anti against the
    // pre-filtered subquery side.
    "J05" -> { c =>
      c.part
        .join(c.lineitem.filter(col("l_quantity") > 48),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
    },
    // J06 — full outer of two pre-aggregated sides: aggregate FIRST so
    // the outer join sees 25 rows per side, not the raw tables.
    "J06" -> { c =>
      val cn = c.customer.groupBy(col("c_nationkey").as("k"))
        .agg(count(lit(1)).as("n")).as("cn")
      val sn = c.supplier.groupBy(col("s_nationkey").as("k"))
        .agg(count(lit(1)).as("n")).as("sn")
      cn.join(sn, col("cn.k") === col("sn.k"), "full_outer")
        .select(
          coalesce(col("cn.k"), col("sn.k")).as("nationkey"),
          coalesce(col("cn.n"), lit(0)).as("n_cust"),
          coalesce(col("sn.n"), lit(0)).as("n_supp"))
        .orderBy("nationkey")
    },
    // J07 — cross join where one side is a tiny distinct: broadcast NL.
    "J07" -> { c =>
      c.region
        .crossJoin(c.orders.select(col("o_orderstatus").as("s")).distinct())
        .select("r_name", "s")
        .orderBy("r_name", "s")
    },
    // J08 — theta join: equi on brand (hash join) + `<` residual, NOT a
    // cartesian — the equi key keeps it a 25-bucket shuffle at scale.
    "J08" -> { c =>
      // single-row-group rescue: the O(n²/brand) pair expansion runs on
      // the probe side's scan task count (ONE task over a small part
      // file — measured 0.64 s of the query's 0.79 s); spreading by the
      // equi key hash-distributes the ≤ 25 brands over session
      // parallelism — at most 25 non-empty tasks, brands sharing a
      // task when their hashes collide. Counts are exact under
      // partitioning; no-op at scale.
      val p1 = Scale.spreadForCompute(c.part, col("p_brand")).as("p1")
      val p2 = c.part.as("p2")
      p1.join(p2, col("p1.p_brand") === col("p2.p_brand") && col("p1.p_size") < col("p2.p_size"))
        .groupBy(col("p1.p_brand").as("p_brand"))
        .agg(count(lit(1)).as("n"))
        .orderBy("p_brand")
    },
    // J09 — range join: equi on orderkey carries the join; the interval
    // residual evaluates post-match (no blowup).
    "J09" -> { c =>
      c.lineitem
        .join(c.orders,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
    // J10 — as-of join, served by the NATIVE merge exec
    // (graft.plans.AsOfJoin): children co-partitioned on user_id and
    // sorted, single forward merge pass holding one candidate row — no
    // window state and no pair blowup. Hash-verified at sf0.01+sf0.1,
    // partition-count invariant (AsOfJoinSpec), and oracle-identical to
    // DuckDB's native ASOF (X20). The union+window formulation remains
    // available as [[asofUnionWindow]].
    "J10" -> { c =>
      val clicks = c.events.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = c.events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      graft.plans.AsOfJoin
        .asof(clicks, purchases, "user_id", "p_user", "ts", "p_ts", "purchase_id")
        .select(col("event_id"), col("purchase_id"))
        .orderBy("event_id")
        .limit(200)
    },
    // O01 — explicit NULLS LAST over outer-join nulls (H6).
    // (see also asofUnionWindow below — the declarative as-of form)
    "O01" -> { c =>
      val mx = c.supplier.groupBy("s_nationkey")
        .agg(max("s_acctbal").as("mx"))
      c.nation
        .join(mx, col("n_nationkey") === col("s_nationkey"), "left")
        .select("n_name", "mx")
        .orderBy(col("mx").desc_nulls_last, col("n_name").asc)
    },
    // O02 — global top-k → TakeOrderedAndProject (per-partition heap,
    // k rows to the driver), never a full sort.
    "O02" -> { c =>
      c.orders
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("p"))
    },
    // U01/U02/U03 — set ops; distinct is a hash aggregate on all cols.
    "U01" -> { c =>
      c.customer.select(col("c_nationkey").as("k"))
        .union(c.supplier.select(col("s_nationkey").as("k")))
        .distinct()
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
    "U02" -> { c =>
      c.customer.select(col("c_nationkey").as("k"))
        .intersect(c.supplier.select(col("s_nationkey").as("k")))
        .orderBy("k")
    },
    "U03" -> { c =>
      c.lineitem.filter(col("l_quantity") > 49).select(col("l_partkey").as("k")).distinct()
        .except(c.lineitem.filter(col("l_quantity") < 2).select(col("l_partkey").as("k")).distinct())
        .orderBy("k")
        .limit(100)
    }
  )

  /** As-of via union + running-last window (SURVEY §4.3.1's declarative
    * scale plan): one shuffle on user_id, no pair blowup. Kept as the
    * pure-DataFrame alternative to the native AsOfJoinExec that serves
    * J10; DfContractSpec-class hash equality is pinned in AsOfJoinSpec.
    */
  def asofUnionWindow(c: Catalog): DataFrame = {
    val e = c.events
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("is_click"),
        col("event_id"), lit(null).cast("long").as("pid"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("is_click"),
        col("event_id"), col("event_id").as("pid"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_click"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("purchase_id", last("pid", ignoreNulls = true).over(w))
      .filter(col("is_click") === 1)
      .select(col("event_id"), col("purchase_id"))
      .orderBy("event_id")
      .limit(200)
  }
}
