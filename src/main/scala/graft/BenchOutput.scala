package graft

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.{ListMap, TreeMap}

/** One completed Spark stage of a bench row (per-stage task statistics,
  * the unit of diagnosis). */
final case class StageStat(id: Int, name: String, tasks: Int,
    durationMs: Long, executorRunMs: Long, gcMs: Long, fetchWaitMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Per-row telemetry in `bench_results.json`. The first eight fields cover
  * the whole row (all iterations plus residue drop); `gcPauseMaxMs` is the
  * longest single collector pause inside the row. The layer fields
  * describe the row's last completed iteration: DataFrame build time, the
  * Catalyst phases of its noop write, and the stages it ran. They are
  * absent when no iteration completed. */
final case class RowTelemetry(order: Int, startMs: Long, load1: Double,
    stealPct: Double, gcMs: Long, gcN: Long, heapMb: Long,
    gcPauseMaxMs: Long = 0L, buildMs: Option[Double] = None,
    analysisMs: Option[Long] = None, optimizationMs: Option[Long] = None,
    planningMs: Option[Long] = None, stages: Option[Seq[StageStat]] = None)

/** What a bench run ran on: host cores, the heap flags, the collectors,
  * the commit, every `SPARK_GRAFT_*` override in force and the shuffle
  * width the session chose. */
final case class RunStamp(cores: Int, xmx: Option[String], xms: Option[String],
    gc: Seq[String], gitSha: String, overrides: Map[String, String],
    shufflePartitions: String)

/** One bench row: iteration times in arrival order (`Seq(-1.0)` when the
  * row threw), the exception text if it did, and the chaos-skipped
  * iteration count. */
final case class RowResult(name: String, iters: Seq[Double],
    telemetry: RowTelemetry, failure: Option[String] = None,
    chaosErrors: Int = 0) {
  def median: Double =
    if (iters.isEmpty) -1.0 else iters.sorted.apply(iters.size / 2)
}

/** Rendering of the batch tools' JSON: Bench's summary line and
  * `bench_results.json`, Verify's `oracle_sql.json`, RecallProbe's line.
  * Case-class fields render in snake_case; `None` fields are omitted. */
object BenchOutput {
  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .defaultPropertyInclusion(JsonInclude.Value.construct(
      JsonInclude.Include.NON_ABSENT, JsonInclude.Include.USE_DEFAULTS))
    .build()

  /** The reference's TPC-H set: run `SPARK_GRAFT_ITERS` times, summed
    * into the headline. */
  val Headline: Seq[String] = Seq("q1_pricing_summary",
    "q3_shipping_priority", "q6_forecast_revenue", "q10_returned_items")

  /** Row families by name prefix; `q1_`..`q10_` count as `q_`. */
  private val Families = Seq("q", "d", "t", "s", "m")

  def round(v: Double, digits: Int): Double = {
    val f = math.pow(10, digits)
    math.rint(v * f) / f
  }

  private def secs(rows: Seq[RowResult]): Double =
    round(rows.map(_.median).filter(_ >= 0).sum, 3)

  /** Bench's one stdout line. It fits a 2,000-char log tail whatever the
    * row count: per-row figures live only in [[results]]. */
  def summary(sf: String, rows: Seq[RowResult]): String = {
    val headline = Headline.flatMap(h => rows.find(_.name == h))
    mapper.writeValueAsString(ListMap(
      "metric" -> "total", "value" -> secs(rows), "unit" -> "sec",
      "headline" -> secs(headline),
      "headline_queries" ->
        ListMap.from(headline.map(r => r.name -> round(r.median, 3))),
      "rows" -> rows.size,
      "failures" -> rows.count(_.failure.nonEmpty),
      "families" -> ListMap.from(Families.map(f =>
        s"${f}_" -> secs(rows.filter(_.name.startsWith(f))))),
      "gc_ms" -> rows.map(_.telemetry.gcMs).sum,
      "gc_pause_max_ms" -> rows.map(_.telemetry.gcPauseMaxMs).maxOption.getOrElse(0L),
      "sf" -> sf))
  }

  /** `bench_results.json`: the run stamp, every row's median, the
    * iteration trail of every re-measured row and every row's telemetry;
    * `chaos`/`errors` and `failures` only when there are any. */
  def results(sf: String, stamp: RunStamp, rows: Seq[RowResult],
      chaos: Double): String = {
    val errors = rows.collect { case r if r.chaosErrors > 0 => r.name -> r.chaosErrors }
    val failures = rows.flatMap(r => r.failure.map(r.name -> _))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(ListMap(
      "sf" -> sf,
      "stamp" -> stamp,
      "headline_sec" -> secs(rows.filter(r => Headline.contains(r.name))),
      "total_sec" -> secs(rows),
      "medians" -> ListMap.from(rows.map(r => r.name -> round(r.median, 3))),
      "iters" -> ListMap.from(rows.filter(_.iters.size > 1)
        .map(r => r.name -> r.iters.map(round(_, 3)))),
      "telemetry" -> ListMap.from(rows.map(r => r.name -> r.telemetry))) ++
      (if (errors.isEmpty) Nil
       else Seq("chaos" -> chaos, "errors" -> ListMap.from(errors))) ++
      (if (failures.isEmpty) Nil else Seq("failures" -> ListMap.from(failures))))
  }

  /** Verify's `oracle_sql.json`: row name to DuckDB SQL, sorted by name. */
  def oracleSql(oracles: Map[String, String]): String =
    mapper.writeValueAsString(TreeMap.from(oracles))
}
