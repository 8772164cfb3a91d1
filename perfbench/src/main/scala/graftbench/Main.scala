package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.session.GraftSession

/** One workload in one JVM:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --data DIR --out DIR [--corrupt]
  *
  * Writes `result.json` (every metric with the run's stamps) and, when
  * traced, `spans.jsonl` into the out dir. run.py launches it, checks the
  * batch results against DuckDB and prints the summary line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, out: Path, corrupt: Boolean)

  /** Heap in use after full collections; the pause between them lets
    * Spark's ContextCleaner drop what the first one made unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--data")), Paths.get(need("--out")),
      argv.contains("--corrupt"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val rep = new Report
    val probes = new Probes(a.trace)
    val spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var code = 0
    try a.workload match {
      case "tpch_batch" =>
        Batch.run(spark, probes, a, Batch.Tpch, "sf0.1", Batch.TpchWarmRounds, rep)
      case "curate_write" =>
        Batch.run(spark, probes, a, Batch.Curate, "sf0.01", Batch.CurateWarmRounds, rep)
      case "serve_mixed" => Serve.run(spark, probes, a, rep)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rep.fail(s"harness: $e")
        code = 1
    }

    val rt = ManagementFactory.getRuntimeMXBean
    rep.info("jvm") = Map(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "options" -> rt.getInputArguments.asScala.filter(o =>
        o.startsWith("-Xm") || o.startsWith("-XX")).toSeq,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq)
    rep.info("gc_pause_max_ms_by_row") = probes.rowPauseMax.asScala.map { case (k, v) =>
      k -> v.doubleValue }.toMap
    if (a.trace) {
      val harness = probes.tracer.spans.asScala.toSeq
      probes.listenerSpans(harness.filter(s => s.name.startsWith("row.")))
      val spans = probes.tracer.spans.asScala.toSeq.sortBy(_.start)
      rep.info("self_ms_by_layer") = Stats.selfTimes(spans).map { case (n, v) =>
        n.takeWhile(_ != ':') -> v }.groupMapReduce(_._1)(_._2)(_ + _)
      val w = Files.newBufferedWriter(a.out.resolve("spans.jsonl"))
      try spans.foreach { s =>
        w.write(Report.json.writeValueAsString(scala.collection.immutable.ListMap(
          "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end)))
        w.newLine()
      } finally w.close()
    }
    val result = scala.collection.immutable.ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "attempted" -> rep.attempted, "failed" -> rep.failed,
      "end_to_end" -> rep.e2e, "per_layer" -> rep.layers, "info" -> rep.info,
      "failures" -> rep.failures)
    Files.write(a.out.resolve("result.json"), Report.json.writeValueAsBytes(result))
    try spark.stop() catch { case _: Exception => () }
    System.exit(code)
  }
}
