package graft.operators

import graft.{GraftQuery, Tables}
import graft.util.Exact._
import graft.util.Reuse
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function and event-analytics surface.
  *
  * Covers the reference's full window translation — ranking, analytic and
  * frame clauses (ROWS/RANGE, bounded/unbounded), see
  * `/root/reference/crates/sql/src/sql_generator/translator/aggregate.rs:70-140`
  * and frame handling in `sql_generator/expr.rs:140-256` — plus the
  * semi-structured (JSON props) and time-bucketed event analytics a
  * pipeline engine needs.
  *
  * Determinism: every window ORDER BY ends in a unique key so ranking is
  * total; running sums use integer-valued or decimal-cast measures so
  * cross-engine results are bit-identical.
  */
object Analytics {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  val defs: Seq[GraftQuery] = Seq(

    GraftQuery("q_window_rank",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn,
        |    rank()       OVER w AS rk,
        |    dense_rank() OVER w AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"), rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter(col("rn") <= 3)
    },

    GraftQuery("q_window_running",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty,
        |  count(*) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS win3
        |FROM lineitem WHERE l_suppkey < 3""".stripMargin) { (s, dir) =>
      val ord = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir).lineitem.filter(col("l_suppkey") < 3)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("bigint"))
            .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("running_qty"),
          count(lit(1)).over(ord.rowsBetween(-2, Window.currentRow)).as("win3"))
    },

    GraftQuery("q_window_analytic",
      """SELECT o_custkey, o_orderkey,
        |  lead(o_totalprice) OVER w AS next_price,
        |  lag(o_totalprice)  OVER w AS prev_price,
        |  first_value(o_totalprice) OVER w2 AS first_price,
        |  last_value(o_totalprice)  OVER w2 AS last_price,
        |  nth_value(o_totalprice, 2) OVER w2 AS second_price,
        |  ntile(4) OVER w AS quartile
        |FROM orders WHERE o_custkey < 20
        |WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir).orders.filter(col("o_custkey") < 20)
        .select(col("o_custkey"), col("o_orderkey"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          first(col("o_totalprice")).over(w2).as("first_price"),
          last(col("o_totalprice")).over(w2).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w2).as("second_price"),
          ntile(4).over(w).as("quartile"))
    },

    // percent_rank/cume_dist are exact rational arithmetic on row counts —
    // identical doubles in both engines.
    GraftQuery("q_window_dist",
      """SELECT o_orderkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist()    OVER w AS cd
        |FROM orders WHERE o_custkey < 10
        |WINDOW w AS (ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, dir) =>
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir).orders.filter(col("o_custkey") < 10)
        .select(col("o_orderkey"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
    },

    // RANGE frame over a numeric ordering (expr.rs:183-203 interval bounds)
    GraftQuery("q_window_range",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
        |    PARTITION BY l_suppkey ORDER BY CAST(l_quantity AS BIGINT)
        |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS qty_range_sum
        |FROM lineitem WHERE l_suppkey < 3""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity").cast("bigint"))
        .rangeBetween(-5, Window.currentRow)
      t(s, dir).lineitem.filter(col("l_suppkey") < 3)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("bigint")).over(w).as("qty_range_sum"))
    },

    // GROUPS frame mode (expr.rs:140-256 translates it). Neither Spark 4
    // nor this sandbox's DuckDB implements GROUPS frames, so the semantics
    // are COMPOSED from what both have: dense_rank() numbers the ORDER BY
    // peer groups, and an integer RANGE frame over that rank IS the GROUPS
    // frame by definition — "rows whose peer-group index is within N of
    // mine". The oracle executes the same composition independently in
    // DuckDB (differential arithmetic check); the SEMANTIC equivalence to
    // a true GROUPS frame is pinned against hand-computed SQL-standard
    // values in OperatorSemanticsSpec. Both windows share one
    // partitioning, so the plan keeps a single exchange.
    GraftQuery("q_window_groups",
      """WITH g AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS grp
        |  FROM lineitem WHERE l_suppkey < 3)
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
        |    PARTITION BY l_suppkey ORDER BY grp
        |    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS grp_sum
        |FROM g""".stripMargin) { (s, dir) =>
      val byDate = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val byGroup = Window.partitionBy(col("l_suppkey")).orderBy(col("grp"))
        .rangeBetween(-1, Window.currentRow)
      t(s, dir).lineitem.filter(col("l_suppkey") < 3)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), dense_rank().over(byDate).as("grp"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("bigint")).over(byGroup).as("grp_sum"))
    },

    // ------------------------------------------------------------- events
    // JSON props extraction (the reference flattens nested JSON to Utf8 —
    // rest.rs:616-617; we expose typed extraction, strictly better).
    GraftQuery("q_events_json",
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id < 200""".stripMargin) { (s, dir) =>
      t(s, dir).events.filter(col("event_id") < 200)
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
    },

    // Tumbling time-window aggregation (batch form; the streaming form over
    // the same data lives in graft.streaming.EventStream).
    GraftQuery("q_events_window",
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
         |  count(*) AS n, ${dsumSql("value", 2)} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir).events
        .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("total_value"))
    },

    // Sessionization via gap detection — lag + conditional cumulative sum,
    // the portable SQL form of session windows.
    GraftQuery("q_events_sessions",
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE THEN 1
        |         WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull, 1)
            .when(col("ts").cast("long") - col("prev_ts").cast("long") > 30 * 60, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).cast("bigint").as("n_sessions"),
          count(lit(1)).as("n_events"))
    },

    // --------------------------------------------- cohort retention
    // The classic product-analytics retention matrix: users cohorted by
    // their first-seen week, counted in every subsequent week they were
    // active — (cohort_week, week_offset, n_users). Weeks are integer
    // epoch-day buckets (day div 7), not date_trunc('week'): the
    // integer form is engine-portable arithmetic with no ISO-week or
    // locale semantics to disagree on. Scale shape: distinct
    // (user, week) pairs by map-side-combined aggregate, per-user
    // cohort as a second aggregate joined back BY KEY (users grow with
    // the corpus — never broadcast), final count map-side-combined; no
    // window anywhere.
    GraftQuery("q_events_retention",
      """WITH uw AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week
        |  FROM events GROUP BY 1, 2),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
        |SELECT c.cohort_week, CAST(u.week - c.cohort_week AS BIGINT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM uw u JOIN cohort c USING (user_id)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // feeds the cohort aggregate AND the join
      val uw = Reuse.materialize(t(s, dir).events
        .select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7 AS BIGINT)")
            .as("week"))
        .distinct())
      val cohort = uw.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).cast("bigint").as("week_offset"))
        .agg(count(lit(1)).cast("bigint").as("n_users"))
    },

    // Event funnel: per-user ordered step detection via min-timestamp chain.
    GraftQuery("q_events_funnel",
      """WITH s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_purchase > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM s""".stripMargin) { (s, dir) =>
      t(s, dir).events.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("t_signup").isNotNull, 1).otherwise(0)).cast("bigint").as("n_signup"),
          sum(when(col("t_signup").isNotNull && col("t_purchase") > col("t_signup"), 1)
            .otherwise(0)).cast("bigint").as("n_converted"))
    }
  )
}
