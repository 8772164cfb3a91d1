package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface — one verifiable query per operator family in
  * SURVEY.md §2.1. Every shape the reference can execute or push down
  * (`/root/reference/crates/sql/src/sql_generator/translator/mod.rs:76-145`)
  * is expressed here with the declarative DataFrame API so Catalyst owns
  * pushdown, pruning, join selection and whole-stage codegen.
  *
  * Scale notes (100 TB): every query below is shuffle-minimal by
  * construction — dimension joins are broadcastable (nation/region/customer
  * are tiny relative to fact tables), aggregations are partial-agg friendly
  * (no high-cardinality groupBy without a reason), and all filters/projections
  * sit directly on the parquet scan so they push down.
  */
object Relational {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** disc_price expression used by several TPC-H queries. */
  private def discPrice(l: DataFrame): Column =
    l("l_extendedprice") * (lit(1.0) - l("l_discount"))

  val defs: Seq[GraftQuery] = Seq(

    // ---------------------------------------------------------------- TPC-H
    // Reference bench set Q1/Q3/Q6/Q10
    // (/root/reference/crates/bench/src/main.rs:159-163), extended to the
    // full classic Q1 column list.
    GraftQuery("q1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  ${davgSql("l_extendedprice")} AS avg_price,
         |  ${davgSql("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= '1998-12-01'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      // Four corpus-growing groups ⇒ the 128-bit path (dsum/davg): per-row
      // work is a scaled-long conversion (no string-based decimal cast)
      // and two long adds into ExactSum's buffer, exact to 10^38 scaled
      // units, so 100 TB totals stay exact. Catalyst dedups the identical
      // sums between each dsum/davg pair — 5 distinct sums, not 8.
      val dp = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val ch = dp * (lit(1.0) + col("l_tax"))
      t(s, dir).lineitem.filter(col("l_shipdate") <= "1998-12-01")
        .groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(dp).as("sum_disc_price"),
          dsum(ch).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    GraftQuery("q3_shipping_priority",
      s"""SELECT l_orderkey, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_mktsegment = 'BUILDING'
         |GROUP BY l_orderkey""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      val c = tt.customer.filter(col("c_mktsegment") === "BUILDING")
      // Pre-aggregate lineitem to one scaled-long partial per order BEFORE
      // the join (q10's shape): the orderkey shuffle then carries one
      // 16-byte row per order instead of ~4 raw line items, and the join
      // output needs no re-aggregation (orderkey is unique on both sides).
      // The wasted pre-agg on non-qualifying orders is map-side combine
      // work, traded for 4× less shuffle volume — the right trade at any
      // scale. customer SCALES WITH SF (0.15×SF rows), so it is never
      // forced to broadcast: shuffle_hash builds on the (filtered,
      // smaller) customer side while both sides stay distributed — at
      // 100 TB a customer broadcast would move billions of rows through
      // the driver. Fixed-size dims (nation/region) are the only
      // relations this file broadcasts.
      val rev = tt.lineitem.groupBy(col("l_orderkey"))
        .agg(lsumPart(discPrice(tt.lineitem)).as("rev"))
      tt.orders.join(c.hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
        .join(rev.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), lvalue(col("rev")).as("revenue"))
    },

    GraftQuery("q6_forecast_revenue",
      s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= '1994-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
      t(s, dir).lineitem
        .filter(col("l_shipdate") >= "1994-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },

    GraftQuery("q10_returned_items",
      s"""SELECT c_custkey, c_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer, orders, lineitem, nation
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_nationkey = n_nationkey
         |GROUP BY c_custkey, c_name""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      // Pre-aggregate lineitem revenue by orderkey BEFORE the join: the
      // shuffle key is the same either way, but the join then probes one
      // row per order instead of ~4 line items, and the final custkey
      // re-aggregation stays exact over the scaled-long partials (per-order
      // and per-customer revenue are entity-bounded ⇒ lsum path). nation
      // (25 rows, constant in SF) broadcasts; customer scales with SF so
      // its join runs shuffle_hash — distributed build, no driver
      // round-trip, and AQE keeps skew handling available.
      val rev = tt.lineitem
        .groupBy(col("l_orderkey"))
        .agg(lsumPart(discPrice(tt.lineitem)).as("rev"))
      // shuffle_hash keeps the orders⋈rev join co-partitioned on the order
      // key: rev is already hash-partitioned by its aggregation, so only
      // orders shuffles. Without the hint AQE broadcasts rev — a driver
      // round-trip that is also scale-wrong (rev grows with the fact table,
      // the one thing that must never be a build side at 100 TB).
      tt.orders
        .join(tt.customer.join(broadcast(tt.nation),
          col("c_nationkey") === col("n_nationkey")).hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .join(rev.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(lsumFinal(col("rev")).as("revenue"))
    },

    // LATERAL correlated derived table (top-1-per-group via per-row
    // subquery) — Catalyst decorrelates it into a window/aggregate plan,
    // so the per-customer "subquery" never executes row-at-a-time.
    GraftQuery("q_join_lateral",
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        |WHERE c.c_custkey < 100""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      // The uncorrelated `o_custkey < 100` copy of the outer domain filter
      // is semantically redundant (implied by the equality + outer WHERE)
      // but load-bearing at scale: Catalyst only INFERS it above the
      // decorrelated window, after the full orders table has been sorted
      // and shuffled; stated inside the lateral it reaches the parquet
      // scan as a pushed filter, so the top-1-per-customer window only
      // ever sees the 100-customer slice. (PlanShapeSpec pins this.)
      GraftQuery.sqlOn(s,
        Map("customer" -> tt.customer, "orders" -> tt.orders),
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          |FROM {customer} c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM {orders}
          |  WHERE o_custkey = c.c_custkey AND o_custkey < 100
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
          |WHERE c.c_custkey < 100""".stripMargin)
    },

    // ------------------------------------------------------- scan / project
    // TableScan + Projection (translator/scan.rs:11-105, projection.rs:11-119)
    GraftQuery("q_scan_projection",
      "SELECT r_regionkey, upper(r_name) AS region_name FROM region") { (s, dir) =>
      t(s, dir).region.select(col("r_regionkey"), upper(col("r_name")).as("region_name"))
    },

    // Filter with compound predicates — AND/OR/NOT/IN/BETWEEN/LIKE/IS NULL
    // (translator/projection.rs:121-185; BinaryExpr surface expr.rs:258-287)
    GraftQuery("q_filter_complex",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE (l_returnflag IN ('A','R') OR l_linestatus = 'O')
        |  AND l_quantity BETWEEN 10 AND 40
        |  AND NOT (l_discount < 0.01)
        |  AND l_shipdate IS NOT NULL""".stripMargin) { (s, dir) =>
      t(s, dir).lineitem
        .filter((col("l_returnflag").isin("A", "R") || col("l_linestatus") === "O") &&
          col("l_quantity").between(10, 40) &&
          !(col("l_discount") < 0.01) &&
          col("l_shipdate").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"))
    },

    // SchemaAdapter semantics: rename + reorder + widening casts
    // (/root/reference/crates/sql/src/schema_adapter.rs:16-281)
    GraftQuery("q_schema_adapter",
      """SELECT CAST(l_linenumber AS BIGINT) AS line_no,
        |       l_orderkey AS order_id,
        |       CAST(l_quantity AS DOUBLE) AS qty
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin) { (s, dir) =>
      t(s, dir).lineitem.filter(col("l_orderkey") < 100)
        .select(col("l_linenumber").cast("bigint").as("line_no"),
          col("l_orderkey").as("order_id"),
          col("l_quantity").cast("double").as("qty"))
    },

    // ----------------------------------------------------------------- joins
    // Join types (translator/join.rs:61-72): inner/left/right/full locally +
    // semi/anti via EXISTS/IN rewrite.
    GraftQuery("q_join_inner",
      """SELECT o_orderkey, c_name, o_totalprice FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      // no broadcast hint: customer scales with SF, so the join strategy is
      // left to stats/AQE (which will still broadcast at small scale, from
      // MEASURED sizes, and switch to a distributed join when it grows)
      tt.orders.filter(col("o_totalprice") > 400000)
        .join(tt.customer, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
    },

    GraftQuery("q_join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.customer.join(tt.orders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("n_orders"))
    },

    GraftQuery("q_join_right",
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.orders.join(tt.customer, col("c_custkey") === col("o_custkey"), "right")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("n_orders"))
    },

    GraftQuery("q_join_full",
      """WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_cust
        |            FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
        |     sn AS (SELECT s_nationkey AS nk, count(*) AS n_supp
        |            FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
        |SELECT coalesce(cn.nk, sn.nk) AS nationkey, n_cust, n_supp
        |FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      val cn = tt.customer.filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("cnk")).agg(count(lit(1)).as("n_cust"))
      val sn = tt.supplier.filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
      cn.join(sn, col("cnk") === col("snk"), "full")
        .select(coalesce(col("cnk"), col("snk")).as("nationkey"),
          col("n_cust"), col("n_supp"))
    },

    GraftQuery("q_join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.customer.join(tt.orders.filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },

    GraftQuery("q_join_anti",
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.customer.join(tt.orders.filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    },

    GraftQuery("q_join_cross",
      "SELECT r_name, n_name FROM region CROSS JOIN nation") { (s, dir) =>
      val tt = t(s, dir)
      tt.region.crossJoin(tt.nation).select(col("r_name"), col("n_name"))
    },

    // N-ary join chain — the reference flattens these for remote SQL
    // (optimizer/join_flattener.rs:15-174); Spark/AQE plans the chain
    // directly, broadcasting every dimension.
    GraftQuery("q_join_nary",
      s"""SELECT r_name, n_name, ${dsumSql("s_acctbal", 2)} AS total_bal
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN supplier ON s_nationkey = n_nationkey
         |GROUP BY r_name, n_name""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.region
        .join(tt.nation, col("n_regionkey") === col("r_regionkey"))
        .join(tt.supplier, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("s_acctbal"), 2).as("total_bal"))
    },

    // Salted skew join as a registered operator: the orders←customer join
    // executed through util/Skew.saltedJoin — per-row scatter of the fact
    // side across 8 salt buckets, dimension replicated ×8, equi-join on
    // (key, salt). Row-identical to the plain join (that plain join IS the
    // oracle), while the shuffle's hottest key spreads over 8 tasks — the
    // explicit tool for skew so heavy that even AQE's split partitions
    // overwhelm a task. A scale extension beyond the reference (which
    // leaves skew to its remote engines).
    GraftQuery("q_join_salted",
      """SELECT o_orderkey, c_name, o_totalprice FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      graft.util.Skew.saltedJoin(
          tt.orders.filter(col("o_totalprice") > 400000)
            .withColumnRenamed("o_custkey", "c_custkey"),
          tt.customer, "c_custkey", saltBuckets = 8)
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
    },

    // ------------------------------------------------------------ aggregates
    GraftQuery("q_agg_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // Two DISTINCT columns in one aggregate make Spark Expand every fact
      // row once per distinct clause (3× the shuffle volume here; at 100 TB,
      // 3× the fact table on the wire). Decomposed form: one map-side-
      // combinable dedup shuffle per distinct column over just (flag, key),
      // then a 3-row broadcast join to stitch the results.
      // Measured, rejected (r20): materializing the 3-column projection
      // once for all three consumers (1 scan instead of 3) ran 1.5-2.3 s
      // warm vs 0.63 s for this form — the columnar scans are pipelined
      // into each branch's partial aggregation, while the materialized
      // relation serializes every row through block storage before any
      // branch can reduce. Three pruned scans of a columnar source ARE
      // the cheap plan; at 100 TB each scan reads only these 3 columns.
      val li = t(s, dir).lineitem
      def distinctCount(key: String, as: String): DataFrame =
        li.filter(col(key).isNotNull)
          .groupBy(col("l_returnflag"), col(key)).agg(lit(1))
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
          .withColumnRenamed("l_returnflag", s"${as}_flag")
      val rows = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
      // Left joins from `rows` with null-safe keys: a group whose distinct
      // column is entirely NULL (or a NULL flag group) must still appear
      // with a 0 count, matching count(DISTINCT) semantics.
      rows
        .join(broadcast(distinctCount("l_partkey", "n_parts")),
          col("l_returnflag") <=> col("n_parts_flag"), "left")
        .join(broadcast(distinctCount("l_suppkey", "n_supps")),
          col("l_returnflag") <=> col("n_supps_flag"), "left")
        .select(col("l_returnflag"),
          coalesce(col("n_parts"), lit(0L)).as("n_parts"),
          coalesce(col("n_supps"), lit(0L)).as("n_supps"), col("n_rows"))
    },

    GraftQuery("q_agg_having",
      """SELECT o_custkey, count(*) AS n FROM orders
        |GROUP BY o_custkey HAVING count(*) >= 3""".stripMargin) { (s, dir) =>
      t(s, dir).orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
    },

    // ANSI FILTER clause on aggregates — per-aggregate predicates in
    // one pass over the fact table (the alternative is N filtered
    // scans or CASE-wrapped inputs; FILTER is the standard spelling
    // both engines parse natively). One map-side-combinable hash
    // aggregate, decimal partials for the sums (the dsum discipline).
    GraftQuery("q_agg_filter",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_hi_disc,
        |  count(*) FILTER (WHERE l_tax = 0) AS n_tax_free,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) FILTER (WHERE l_shipdate >= TIMESTAMP '1995-01-01') AS DOUBLE) AS rev_since_95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir).lineitem.groupBy(col("l_returnflag")).agg(
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) " +
          "FILTER (WHERE l_discount > 0.05) AS DOUBLE)").as("qty_hi_disc"),
        expr("count(*) FILTER (WHERE l_tax = 0)").as("n_tax_free"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) FILTER " +
          "(WHERE l_shipdate >= TIMESTAMP '1995-01-01') AS DOUBLE)")
          .as("rev_since_95"))
    },

    GraftQuery("q_agg_rollup",
      s"""SELECT l_returnflag, l_linestatus, ${dsumSql("l_quantity")} AS sum_qty,
         |       count(*) AS n
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      // Two-phase: reduce on the full grouping key first (map-side
      // combinable hash agg, no Expand), then rollup the tiny reduced
      // relation. Expand otherwise multiplies the FACT table by the
      // number of grouping sets before the shuffle — at 100 TB that's
      // the difference between shuffling 6 rows and 300 TB. Decimal
      // partials keep the re-aggregation exact.
      val base = t(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsumPart(col("l_quantity")).as("pq"), count(lit(1)).as("pn"))
      base.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsumFinal(col("pq")).as("sum_qty"), sum(col("pn")).as("n"))
    },

    GraftQuery("q_agg_cube",
      s"""SELECT l_returnflag, l_linestatus, ${dsumSql("l_quantity")} AS sum_qty,
         |       count(*) AS n
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      // same two-phase shape as q_agg_rollup
      val base = t(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsumPart(col("l_quantity")).as("pq"), count(lit(1)).as("pn"))
      base.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsumFinal(col("pq")).as("sum_qty"), sum(col("pn")).as("n"))
    },

    GraftQuery("q_grouping_sets",
      s"""SELECT l_returnflag, l_linestatus, grouping(l_returnflag) AS g_rf,
         |       ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      // two-phase (see q_agg_rollup); grouping() flags depend only on the
      // grouping set, so they survive the pre-aggregation unchanged
      GraftQuery.sqlOn(s, Map("lineitem" -> tt.lineitem),
        """WITH base AS (
          |  SELECT l_returnflag, l_linestatus,
          |         sum(CAST(l_quantity AS DECIMAL(18,6))) AS pq
          |  FROM {lineitem} GROUP BY l_returnflag, l_linestatus)
          |SELECT l_returnflag, l_linestatus, grouping(l_returnflag) AS g_rf,
          |       CAST(sum(pq) AS DOUBLE) AS sum_qty
          |FROM base
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },

    // Exact variance/stddev via algebraic sums: deterministic across engines
    // (sum/count/sum-of-squares are exact on the integer-valued l_quantity).
    GraftQuery("q_agg_stats",
      """SELECT l_returnflag,
        |  (sum(l_quantity * l_quantity) - sum(l_quantity) * sum(l_quantity) / count(*)) / (count(*) - 1) AS var_qty,
        |  sqrt((sum(l_quantity * l_quantity) - sum(l_quantity) * sum(l_quantity) / count(*)) / (count(*) - 1)) AS stddev_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val q = col("l_quantity")
      val n = count(lit(1))
      val variance = (sum(q * q) - sum(q) * sum(q) / n) / (n - lit(1))
      t(s, dir).lineitem.groupBy(col("l_returnflag")).agg(
        variance.as("var_qty"), sqrt(variance).as("stddev_qty"))
    },

    // string_agg / array_agg (oracle.rs:253-293 LISTAGG, snowflake.rs:75-83)
    GraftQuery("q_string_agg",
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir).nation.groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
    },

    // array_agg proper: the sorted array is serialized to its JSON form so
    // the oracle compare has a scalar, sortable representation (the driver's
    // pandas-based hash cannot sort raw array columns).
    GraftQuery("q_array_agg",
      """SELECT n_regionkey,
        |       CAST(to_json(list_sort(list(n_name))) AS VARCHAR) AS nations,
        |       len(list(n_name)) AS n
        |FROM nation GROUP BY n_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir).nation.groupBy(col("n_regionkey"))
        .agg(to_json(array_sort(collect_list(col("n_name")))).as("nations"),
          size(collect_list(col("n_name"))).cast("bigint").as("n"))
    },

    // ------------------------------------------------------ sort/limit/topk
    // Sort + fetch ⇒ Spark plans TakeOrderedAndProject (translator/sort.rs)
    GraftQuery("q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir).orders.orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice")).limit(10)
    },

    GraftQuery("q_sort_nulls",
      """SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st FROM orders
        |ORDER BY st ASC NULLS FIRST, o_orderkey LIMIT 50""".stripMargin) { (s, dir) =>
      t(s, dir).orders
        .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("P")).as("st"))
        .orderBy(col("st").asc_nulls_first, col("o_orderkey")).limit(50)
    },

    GraftQuery("q_limit_offset",
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 10") { (s, dir) =>
      t(s, dir).orders.select(col("o_orderkey")).orderBy(col("o_orderkey"))
        .offset(10).limit(20)
    },

    // --------------------------------------------------------------- set ops
    GraftQuery("q_union_all",
      """SELECT c_name AS name, 'customer' AS kind FROM customer WHERE c_acctbal > 9900
        |UNION ALL
        |SELECT s_name AS name, 'supplier' AS kind FROM supplier WHERE s_acctbal > 9900""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.customer.filter(col("c_acctbal") > 9900)
        .select(col("c_name").as("name"), lit("customer").as("kind"))
        .unionAll(tt.supplier.filter(col("s_acctbal") > 9900)
          .select(col("s_name").as("name"), lit("supplier").as("kind")))
    },

    GraftQuery("q_union_distinct",
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.customer.select(col("c_nationkey").as("nk"))
        .union(tt.supplier.select(col("s_nationkey").as("nk"))).distinct()
    },

    GraftQuery("q_intersect",
      """SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000
        |INTERSECT
        |SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.orders.filter(col("o_totalprice") > 300000).select(col("o_custkey").as("ck"))
        .intersect(tt.customer.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("ck")))
    },

    GraftQuery("q_except",
      """SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      tt.customer.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("ck"))
        .except(tt.orders.filter(col("o_totalprice") > 300000).select(col("o_custkey").as("ck")))
    },

    GraftQuery("q_distinct",
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders") { (s, dir) =>
      t(s, dir).orders.select(col("o_orderstatus"), col("o_orderpriority")).distinct()
    },

    // DISTINCT ON — reference rewrites to row_number()=1 for dialects
    // lacking it (set_ops.rs:321-495); we use the same rewrite.
    GraftQuery("q_distinct_on",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir).orders.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    },

    // VALUES inline relation (set_ops.rs:219-319)
    GraftQuery("q_values",
      """SELECT v.rank, count(o_orderkey) AS n FROM
        |(VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
        |        ('4-NOT SPECIFIED', 4), ('5-LOW', 5)) AS v(prio, rank)
        |LEFT JOIN orders ON o_orderpriority = v.prio
        |GROUP BY v.rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val v = Seq(("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
        ("4-NOT SPECIFIED", 4), ("5-LOW", 5)).toDF("prio", "rank")
      v.join(t(s, dir).orders, col("o_orderpriority") === col("prio"), "left")
        .groupBy(col("rank")).agg(count(col("o_orderkey")).as("n"))
    },

    // EmptyRelation (set_ops.rs:147-217)
    GraftQuery("q_empty_relation",
      "SELECT o_orderkey FROM orders WHERE 1 = 0") { (s, dir) =>
      t(s, dir).orders.filter(lit(false)).select(col("o_orderkey"))
    },

    // Recursive CTE (set_ops.rs:497-584): the reference delegates local
    // execution to DataFusion; Spark < 4.0 SQL lacks WITH RECURSIVE, so we
    // Spark 4 executes WITH RECURSIVE natively (UnionLoop operator) — one
    // job instead of the driver-side fixpoint loop this used before (20
    // isEmpty round-trips and an O(n²) re-analysis of the growing union).
    GraftQuery("q_recursive_cte",
      """WITH RECURSIVE seq(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM seq WHERE n < 20)
        |SELECT n, n * n AS sq FROM seq""".stripMargin) { (s, dir) =>
      s.sql(
        """WITH RECURSIVE seq(n) AS (
          |  SELECT 1 UNION ALL SELECT n + 1 FROM seq WHERE n < 20)
          |SELECT n, n * n AS sq FROM seq""".stripMargin)
    },

    // -------------------------------------------- scalar expression surface
    GraftQuery("q_case_null",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS tier,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS st,
        |  ifnull(nullif(o_orderstatus, 'F'), 'finished') AS st2
        |FROM orders WHERE o_orderkey < 1000""".stripMargin) { (s, dir) =>
      t(s, dir).orders.filter(col("o_orderkey") < 1000).select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid").otherwise("small").as("tier"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("st"),
        coalesce(nullif(col("o_orderstatus"), lit("F")), lit("finished")).as("st2"))
    },

    GraftQuery("q_string_funcs",
      """SELECT c_custkey,
        |  length(c_name) AS len, upper(c_name) AS up, lower(c_name) AS lo,
        |  substr(c_name, 1, 9) AS pre,
        |  concat(c_name, '-', c_mktsegment) AS cat,
        |  concat_ws('/', c_name, c_mktsegment) AS catws,
        |  strpos(c_name, '1') AS pos,
        |  trim(concat(' ', c_name, ' ')) AS trimmed,
        |  ltrim(concat('xx', c_name), 'x') AS ltrimmed,
        |  rtrim(concat(c_name, 'xx'), 'x') AS rtrimmed,
        |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
        |  regexp_matches(c_name, '[02468]$') AS even_id,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  split_part(c_name, '#', 2) AS id_part,
        |  replace(c_mktsegment, 'URE', '*') AS repl,
        |  reverse(c_mktsegment) AS rev
        |FROM customer WHERE c_custkey < 100""".stripMargin) { (s, dir) =>
      t(s, dir).customer.filter(col("c_custkey") < 100).select(
        col("c_custkey"),
        length(col("c_name")).as("len"), upper(col("c_name")).as("up"),
        lower(col("c_name")).as("lo"),
        substring(col("c_name"), 1, 9).as("pre"),
        concat(col("c_name"), lit("-"), col("c_mktsegment")).as("cat"),
        concat_ws("/", col("c_name"), col("c_mktsegment")).as("catws"),
        instr(col("c_name"), "1").as("pos"),
        trim(concat(lit(" "), col("c_name"), lit(" "))).as("trimmed"),
        ltrim(concat(lit("xx"), col("c_name")), "x").as("ltrimmed"),
        rtrim(concat(col("c_name"), lit("xx")), "x").as("rtrimmed"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        col("c_name").rlike("[02468]$").as("even_id"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        split_part(col("c_name"), lit("#"), lit(2)).as("id_part"),
        regexp_replace(col("c_mktsegment"), "URE", "*").as("repl"),
        reverse(col("c_mktsegment")).as("rev"))
    },

    GraftQuery("q_date_funcs",
      """SELECT o_orderkey,
        |  EXTRACT(YEAR FROM o_orderdate) AS y,
        |  EXTRACT(MONTH FROM o_orderdate) AS m,
        |  EXTRACT(DAY FROM o_orderdate) AS d,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  o_orderdate + INTERVAL 5 DAY AS plus5,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso,
        |  CAST(o_orderdate AS DATE) AS as_date,
        |  CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS parsed_date,
        |  strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_ts,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS unix_ts,
        |  strftime(make_timestamp(CAST(epoch(o_orderdate) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS from_unix,
        |  date_diff('day', TIMESTAMP '1997-01-01', o_orderdate) AS days_since
        |FROM orders WHERE o_orderkey < 500""".stripMargin) { (s, dir) =>
      t(s, dir).orders.filter(col("o_orderkey") < 500).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("y"),
        month(col("o_orderdate")).cast("bigint").as("m"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 5 DAYS")).as("plus5"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso"),
        col("o_orderdate").cast("date").as("as_date"),
        to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd").as("parsed_date"),
        to_timestamp(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
          "yyyy-MM-dd HH:mm:ss").as("parsed_ts"),
        unix_timestamp(col("o_orderdate")).as("unix_ts"),
        from_unixtime(unix_timestamp(col("o_orderdate"))).as("from_unix"),
        datediff(col("o_orderdate"), lit("1997-01-01")).cast("bigint").as("days_since"))
    },

    GraftQuery("q_math_funcs",
      """SELECT o_orderkey,
        |  abs(o_totalprice - 200000) AS dist,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS c,
        |  CAST(floor(o_totalprice) AS BIGINT) AS f,
        |  round(o_totalprice, 1) AS r1,
        |  CAST(o_orderkey % 7 AS BIGINT) AS m7,
        |  sqrt(o_totalprice) AS sq,
        |  CAST(trunc(o_totalprice) AS BIGINT) AS tr,
        |  round(power(o_totalprice, 2), 2) AS pw,
        |  o_totalprice * o_totalprice AS p2,
        |  greatest(o_totalprice, 150000.0) AS g,
        |  least(o_totalprice, 150000.0) AS l
        |FROM orders WHERE o_orderkey < 500""".stripMargin) { (s, dir) =>
      t(s, dir).orders.filter(col("o_orderkey") < 500).select(
        col("o_orderkey"),
        abs(col("o_totalprice") - 200000).as("dist"),
        ceil(col("o_totalprice")).as("c"), floor(col("o_totalprice")).as("f"),
        round(col("o_totalprice"), 1).as("r1"),
        (col("o_orderkey") % 7).cast("bigint").as("m7"),
        sqrt(col("o_totalprice")).as("sq"),
        // numeric trunc == toward-zero integer cast (Spark has no scalar
        // trunc for doubles; the cast is its exact semantic)
        col("o_totalprice").cast("bigint").as("tr"),
        round(pow(col("o_totalprice"), 2), 2).as("pw"),
        (col("o_totalprice") * col("o_totalprice")).as("p2"),
        greatest(col("o_totalprice"), lit(150000.0)).as("g"),
        least(col("o_totalprice"), lit(150000.0)).as("l"))
    },

    // Scalar subquery + IN-subquery (decorrelated by Catalyst natively;
    // reference: DataFusion decorrelates, translator/mod.rs:120-141)
    // Threshold avg*1.5, NOT avg*2: with o_totalprice uniform-ish on
    // (0, 2·avg), avg*2 sits at the distribution's edge and returns
    // ZERO rows at sf≥0.01 — the oracle hash then only proves both
    // engines agree on emptiness (the r18 verdict's vacuity note).
    // avg*1.5 keeps ~25% of orders at every scale (380 rows at
    // sf0.001, 3717 at sf0.01, 37430 at sf0.1), so the hash pins the
    // actual decorrelated-scalar-subquery semantics.
    GraftQuery("q_subquery_scalar",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      GraftQuery.sqlOn(s, Map("orders" -> tt.orders),
        """SELECT o_orderkey, o_totalprice FROM {orders}
          |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM {orders})""".stripMargin)
    },

    GraftQuery("q_subquery_in",
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |  AND o_totalprice > 100000""".stripMargin) { (s, dir) =>
      val tt = t(s, dir)
      GraftQuery.sqlOn(s,
        Map("orders" -> tt.orders, "customer" -> tt.customer),
        """SELECT o_orderkey FROM {orders}
          |WHERE o_custkey IN (SELECT c_custkey FROM {customer} WHERE c_acctbal < 0)
          |  AND o_totalprice > 100000""".stripMargin)
    },

    // Pivot (Spark-side convenience; oracle via conditional aggregation)
    GraftQuery("q_pivot",
      s"""SELECT l_linestatus,
         |  ${dsumSql("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS A,
         |  ${dsumSql("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS N,
         |  ${dsumSql("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS R
         |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir).lineitem.groupBy(col("l_linestatus"))
        .pivot(col("l_returnflag"), Seq("A", "N", "R"))
        .agg(dsum(col("l_quantity")))
    },

    // Unpivot / melt — Pivot's inverse (Spark `Dataset.unpivot`; DuckDB
    // UNPIVOT as oracle). Map-only: no shuffle at any scale.
    GraftQuery("q_unpivot",
      """SELECT o_orderkey, metric, val
        |FROM (UNPIVOT (SELECT o_orderkey, o_totalprice AS price,
        |                      CAST(o_custkey AS DOUBLE) AS cust
        |               FROM orders WHERE o_orderkey < 100)
        |      ON price, cust INTO NAME metric VALUE val)""".stripMargin) { (s, dir) =>
      t(s, dir).orders.filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          col("o_custkey").cast("double").as("cust"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("price"), col("cust")), "metric", "val")
    },

    // GROUPING() indicators over ROLLUP — distinguishes a stored NULL from
    // a subtotal row. Two-phase like q_agg_rollup: reduce on the full key
    // BEFORE Expand so the multiplied input is group-sized, not fact-sized.
    GraftQuery("q_grouping_id",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      val pre = t(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"))
      pre.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
          grouping(col("l_linestatus")).cast("bigint").as("g_status"),
          sum(col("pn")).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("g_flag"), col("g_status"), col("n"))
    }
  )
}
