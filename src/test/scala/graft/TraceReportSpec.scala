package graft

import graft.session.TraceReport
import org.scalatest.funsuite.AnyFunSuite

/** The GRAFT QUERY REPORT behind `POST /api/v1/trace`: pushdown, timing
  * and per-operator runtime metrics. */
class TraceReportSpec extends AnyFunSuite {
  import SparkTestSession._

  test("trace report surfaces pushdown and timing") {
    val df = Tables(spark, sf).lineitem
      .filter(org.apache.spark.sql.functions.col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val t = TraceReport.run(df)
    assert(t.report.contains("GRAFT QUERY REPORT"))
    assert(t.rowCount > 0)
    assert(t.pushedFilters.exists(_.contains("l_quantity")),
      s"no pushdown recorded: ${t.pushedFilters}")
    assert(t.scannedColumns.contains("l_orderkey"))
    // runtime metrics (the EXPLAIN ANALYZE half): the scan reports the
    // rows it actually produced, and the count matches the plan output
    assert(t.nodeMetrics.nonEmpty, "no runtime metrics collected")
    val outputRows = t.nodeMetrics
      .flatMap(_.metrics.get("numOutputRows"))
    assert(outputRows.exists(_ == t.rowCount),
      s"no node reports the result row count: ${t.nodeMetrics}")
    assert(t.report.contains("runtime metrics"), t.report)
  }

  test("trace metrics descend through AQE stages (plans with exchanges)") {
    // AQE wraps materialized subtrees in leaf QueryStageExec nodes: a
    // traversal that stops there loses every pre-shuffle operator —
    // exactly the metrics an aggregate's trace is for
    val df = Tables(spark, sf).lineitem
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val t = TraceReport.run(df)
    assert(t.rowCount > 0)
    val nodes = t.nodeMetrics.map(_.node)
    assert(nodes.exists(_.toLowerCase.contains("scan")),
      s"scan metrics missing behind the exchange: $nodes")
    assert(nodes.exists(_.contains("Exchange")) ||
      nodes.exists(_.contains("ShuffleQueryStage")), nodes)
    // the scan's output-row metric survives the stage boundary
    val scanRows = t.nodeMetrics.filter(_.node.toLowerCase.contains("scan"))
      .flatMap(_.metrics.get("numOutputRows"))
    assert(scanRows.exists(_ > 0), t.nodeMetrics.toString)
  }
}
