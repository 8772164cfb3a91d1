package graft

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Bench's and Verify's JSON rendering. `Bench.main` stops its session,
  * so these checks run the pure rendering and attribution functions on
  * synthetic rows instead. */
class BenchOutputSpec extends AnyFunSuite {
  private val sf = "testdata/sf0.1"

  private def tel(order: Int) = RowTelemetry(order, 1000L * order, 3.25,
    0.4, 12L, 1L, 2048L)

  private def parse(s: String): JsonNode = BenchOutput.mapper.readTree(s)

  private val stamp = RunStamp(4, Some("4g"), Some("4g"),
    Seq("PS Scavenge", "PS MarkSweep"), "0123abc", Map("SPARK_GRAFT_CPUS" -> "4"), "9")

  private val families = Seq("q", "d", "t", "s", "m")

  /** 200 rows across the five families, the headline four first, one
    * failed row per 50, each row timed 1.25 s (median 1.25). */
  private val rows: Seq[RowResult] =
    (BenchOutput.Headline ++ (4 until 200).map(i =>
      f"${families(i % 5)}_synthetic_row_with_a_long_descriptive_name_$i%03d"))
      .zipWithIndex.map { case (name, i) =>
        if (i % 50 == 49)
          RowResult(name, Seq(-1.0), tel(i), Some("java.lang.RuntimeException: x"))
        else RowResult(name, Seq(1.5, 1.25, 1.0), tel(i))
      }

  test("the summary for 200 rows is one short line that parses") {
    val line = BenchOutput.summary(sf, rows)
    assert(!line.contains("\n"))
    assert(line.length <= 1500, s"${line.length} chars")
    val j = parse(line)
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("rows").asInt == 200 && j.get("failures").asInt == 4)
    assert(j.get("value").asDouble == 196 * 1.25)
    assert(j.get("headline").asDouble == 4 * 1.25)
    assert(j.get("headline_queries").fieldNames.asScala.toSeq == BenchOutput.Headline)
    val fam = j.get("families")
    assert(fam.fieldNames.asScala.toSeq == families.map(_ + "_"))
    assert(families.map(f => fam.get(f + "_").asDouble).sum == 196 * 1.25)
    assert(j.get("gc_ms").asLong == 200 * 12L && j.get("sf").asText == sf)
  }

  test("a failure message with quotes, backslashes and control characters round-trips") {
    val msg = "java.lang.IllegalStateException: bad \"quoted\" path C:\\tmp\nnext line \u0001 end"
    val j = parse(BenchOutput.results(sf, stamp, Seq(
      RowResult("q1_pricing_summary", Seq(0.5, 0.25, 0.75), tel(0)),
      RowResult("q_bad", Seq(-1.0), tel(1), Some(msg))), chaos = 0.0))
    assert(j.get("failures").get("q_bad").asText == msg)
    assert(j.fieldNames.asScala.toSeq ==
      Seq("sf", "stamp", "headline_sec", "total_sec", "medians", "iters", "telemetry",
        "failures"))
    assert(j.get("medians").get("q1_pricing_summary").asDouble == 0.5)
    assert(j.get("medians").get("q_bad").asDouble == -1.0)
    assert(j.get("iters").get("q1_pricing_summary").elements.asScala
      .map(_.asDouble).toSeq == Seq(0.5, 0.25, 0.75))
    assert(!j.get("iters").has("q_bad"))
    val t = j.get("telemetry").get("q_bad")
    assert(t.fieldNames.asScala.toSeq ==
      Seq("order", "start_ms", "load1", "steal_pct", "gc_ms", "gc_n", "heap_mb",
        "gc_pause_max_ms"))
  }

  test("the summary names the run's worst GC pause; results carry the run stamp") {
    val paused = rows.zipWithIndex.map { case (r, i) =>
      r.copy(telemetry = r.telemetry.copy(gcPauseMaxMs = if (i == 17) 33100L else i.toLong))
    }
    val line = BenchOutput.summary(sf, paused)
    assert(line.length <= 1500, s"${line.length} chars")
    assert(parse(line).get("gc_pause_max_ms").asLong == 33100L)
    val j = parse(BenchOutput.results(sf, stamp, paused, chaos = 0.0))
    assert(j.get("telemetry").get(paused(17).name).get("gc_pause_max_ms").asLong == 33100L)
    val s = j.get("stamp")
    assert(s.fieldNames.asScala.toSeq == Seq("cores", "xmx", "xms", "gc", "git_sha",
      "overrides", "shuffle_partitions"))
    assert(s.get("overrides").get("SPARK_GRAFT_CPUS").asText == "4")
    assert(s.get("shuffle_partitions").asText == "9")
  }

  test("oracle SQL with a tab and a carriage return round-trips") {
    val sql = "SELECT a,\tb\r\nFROM t WHERE s = 'x\"y\\z'"
    val j = parse(BenchOutput.oracleSql(Map("q_tab" -> sql, "q_plain" -> "SELECT 1")))
    assert(j.get("q_tab").asText == sql)
    assert(j.fieldNames.asScala.toSeq == Seq("q_plain", "q_tab"))
  }

  test("a telemetry row carries build time, Catalyst phases and its stages") {
    val w = Bench.IterWindow(startMs = 10000L, endMs = 12000L, buildMs = 42.37)
    def stage(id: Int) = StageStat(id, s"save at Bench.scala:$id", 4, 300L,
      1100L, 15L, 2L, 4096L, 0L)
    val stages = Seq(9000L -> stage(1), 11500L -> stage(3), 10100L -> stage(2),
      12001L -> stage(4))
    val phases = Seq(
      Bench.PhaseEvent(9500L, Map("analysis" -> 99L)),
      Bench.PhaseEvent(10050L, Map("analysis" -> 7L, "optimization" -> 8L,
        "planning" -> 9L)),
      Bench.PhaseEvent(10400L, Map("analysis" -> 1L, "optimization" -> 2L,
        "planning" -> 3L)))
    val row = Bench.withLayers(tel(0), w, stages, phases)
    val j = parse(BenchOutput.results(sf, stamp,
      Seq(RowResult("q6_forecast_revenue", Seq(1.0), row)), chaos = 0.0))
      .get("telemetry").get("q6_forecast_revenue")
    assert(j.get("build_ms").asDouble == 42.4)
    assert(j.get("analysis_ms").asLong == 1L)
    assert(j.get("optimization_ms").asLong == 2L)
    assert(j.get("planning_ms").asLong == 3L)
    val st = j.get("stages").elements.asScala.toSeq
    assert(st.map(_.get("id").asInt) == Seq(2, 3))
    assert(st.head.fieldNames.asScala.toSeq == Seq("id", "name", "tasks",
      "duration_ms", "executor_run_ms", "gc_ms", "fetch_wait_ms",
      "shuffle_write_bytes", "spill_bytes"))
    assert(st.head.get("shuffle_write_bytes").asLong == 4096L)
  }
}
