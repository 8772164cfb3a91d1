package graft.plans

import org.apache.spark.sql.DataFrame

/** Pre-execution cost gate: reject queries whose optimized-plan statistics
  * exceed configured row/byte budgets, with a structured, AI-parseable
  * error — so a runaway query is refused instead of scheduled.
  *
  * Port of the reference's CostBasedValidator physical-optimizer rule
  * (/root/reference/crates/runtime/src/query/cost_validator.rs:36-129):
  * walk plan statistics, reject when max rows > max_output_rows or bytes >
  * max_scan_bytes, and include a hint. On Spark the equivalent statistics
  * live on `queryExecution.optimizedPlan.stats` (sizeInBytes always
  * available from the file index; rowCount when CBO stats exist).
  *
  * At 100 TB this is the first line of defense: the byte budget is checked
  * against the *post-pushdown* scan estimate, so a well-filtered query over
  * a huge table passes while `SELECT *` without a filter is rejected.
  */
final case class BudgetExceeded(
    kind: String, estimated: BigInt, budget: BigInt, hint: String)
    extends RuntimeException(
      s"BudgetExceeded{$kind: estimated=$estimated budget=$budget hint=$hint}")

final case class CostValidator(
    maxScanBytes: Option[Long] = None,
    maxOutputRows: Option[Long] = None) {

  /** Throws BudgetExceeded if any plan node's estimate breaks the budget.
    * Without a budget it returns at once, never forcing the optimizer or
    * the statistics. */
  def validate(df: DataFrame): Unit = {
    if (maxScanBytes.isEmpty && maxOutputRows.isEmpty) return
    val plan = df.queryExecution.optimizedPlan
    maxScanBytes.foreach { budget =>
      // Scan budget is judged on LEAF estimates only: Spark propagates
      // sizeInBytes multiplicatively through joins (output ≈ product of the
      // child sizes), so an interior-node check would spuriously reject any
      // join whose inputs are individually tiny. Leaves carry the
      // post-pushdown file-index estimate — exactly what "scan bytes" means.
      val scans = plan.collectLeaves().map(_.stats.sizeInBytes)
      val worst = if (scans.isEmpty) BigInt(0) else scans.max
      if (worst > budget)
        throw BudgetExceeded("scan_bytes", worst, budget,
          "add filters or select fewer columns so the scan prunes more data")
    }
    maxOutputRows.foreach { budget =>
      val counts = plan.collect { case p => p.stats }.flatMap(_.rowCount)
      if (counts.nonEmpty && counts.max > budget)
        throw BudgetExceeded("output_rows", counts.max, budget,
          "add a LIMIT or aggregate the result")
    }
  }
}
