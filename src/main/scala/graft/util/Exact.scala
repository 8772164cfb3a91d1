package graft.util

import graft.functions.ExactSum
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Cross-engine hash-stable aggregation helpers.
  *
  * Summing IEEE doubles is order-dependent: Spark's partial/final aggregation
  * order differs from DuckDB's, so `sum(double)` can differ in the last few
  * ULPs between engines — enough to break the driver's hash comparison.
  * The fix: round each addend to a fixed decimal scale, sum exactly (integer
  * addition is associative), and convert the final result back to double.
  * Both engines then produce bit-identical doubles regardless of aggregation
  * order or parallelism.
  *
  * Per-row conversion is `(x * 10^scale ± 0.5) :: long` — round-half-away on
  * the BINARY double value, which is exactly what DuckDB's `CAST(x AS
  * DECIMAL)` computes. (Spark's own double→decimal cast goes through
  * `BigDecimal.valueOf`, i.e. `Double.toString`, costing ~100 ns/row — 2-3×
  * the entire scan+sum loop. For money-like data, where the exact value has
  * at most `scale` fractional digits and the double sits within an epsilon
  * of it, every rounding flavor agrees, so this is value-identical to the
  * decimal cast it replaces — asserted by spec and by the DuckDB
  * differential gate.)
  *
  * Two summation paths with different overflow envelopes — pick by how the
  * GROUP SUM grows with corpus size:
  *
  *  - [[dsum]]/[[davg]]/[[dsumPart]] — scaled longs summed by
  *    [[graft.functions.ExactSum]] into a DECIMAL(38,0): a 128-bit total
  *    kept in two primitive longs (three long adds per row, no BigDecimal),
  *    exact to 10^38 scaled units (10^32 units at scale 6) and an error,
  *    never a wrap or a NULL, past that. [[dsumFinal]] re-adds the few
  *    partial rows with Spark's `sum`. Safe for GLOBAL sums on a 100 TB
  *    corpus: use when the per-group total grows with the data (q1's four
  *    groups, q6's single row, rollup grand totals).
  *  - [[lsum]]/[[lsumPart]]/[[lsumFinal]] — scaled longs summed as LONG.
  *    Caps the per-group total at 2^63/10^scale (~9.2e12 units at scale 6).
  *    Use when the group sum is bounded by the entity, not the corpus —
  *    revenue per order, per customer — where it holds at any scale and
  *    the inner loop is a primitive add.
  *
  * This also mirrors classic TPC-H semantics where money columns are
  * DECIMAL(15,2) (the reference's declared-schema default — see
  * /root/reference/crates/connectors/src/sources/file.rs:370-394).
  */
object Exact {

  private def p10(scale: Int): Long = {
    var v = 1L; var i = 0
    while (i < scale) { v *= 10; i += 1 }
    v
  }

  /** Per-row scaled-long conversion: round-half-away-from-zero on the
    * binary double value (DuckDB's cast semantics). Null-propagating. */
  def scaled(c: Column, scale: Int = 6): Column = {
    val p = lit(p10(scale).toDouble)
    when(c >= 0, c * p + lit(0.5)).otherwise(c * p - lit(0.5)).cast(LongType)
  }

  /** Exact final conversion of a summed scaled value back to double:
    * widen to decimal, divide at decimal precision (exact — the true scale
    * is `scale`), then one correctly-rounded cast. */
  private def unscaled(sumCol: Column, scale: Int): Column =
    (sumCol.cast(DecimalType(38, 0)) / lit(p10(scale))).cast(DoubleType)

  // ------------------------------------------------------- general path
  /** Exact sum of a money-like double column; result as double.
    * Overflow-safe for global sums at 100 TB (128-bit sum buffer). */
  def dsum(c: Column, scale: Int = 6): Column =
    unscaled(dsumPart(c, scale), scale)

  /** Exact average: exact sum divided by count, in double. */
  def davg(c: Column, scale: Int = 6): Column =
    (dsum(c, scale) / count(c)).cast(DoubleType)

  /** Two-phase split of dsum for multi-phase aggregations (rollup/cube/
    * grouping sets): keep the partial as DECIMAL(38,0) so the
    * re-aggregation stays exact; convert to double only at the very end. */
  def dsumPart(c: Column, scale: Int = 6): Column =
    GraftColumnBridge.column(ExactSum(
      GraftColumnBridge.expression(scaled(c, scale))).toAggregateExpression())
  def dsumFinal(partial: Column, scale: Int = 6): Column =
    unscaled(sum(partial), scale)

  // ------------------------------------------- bounded-group fast path
  /** Exact sum via primitive long adds. ONLY for sums bounded by the
    * grouping entity (per-order / per-customer totals): the group total
    * must stay below 2^63 / 10^scale at any corpus size. */
  def lsum(c: Column, scale: Int = 6): Column =
    unscaled(sum(scaled(c, scale)), scale)

  def lsumPart(c: Column, scale: Int = 6): Column =
    sum(scaled(c, scale))
  def lsumFinal(partial: Column, scale: Int = 6): Column =
    unscaled(sum(partial), scale)

  /** Non-aggregating finisher: convert an already-final scaled partial
    * back to double (for joins whose key makes the partial unique). */
  def lvalue(partial: Column, scale: Int = 6): Column =
    unscaled(partial, scale)

  /** DuckDB-side SQL for the same exact sum, for oracle parity. */
  def dsumSql(expr: String, scale: Int = 6): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  def davgSql(expr: String, scale: Int = 6): String =
    s"CAST(CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE) / COUNT($expr) AS DOUBLE)"
}
