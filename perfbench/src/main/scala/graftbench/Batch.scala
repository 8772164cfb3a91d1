package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workloads: one client runs the rows of `SparkEntry.queries`
  * in a closed loop of rounds, each round in a seeded order, every result
  * materialized through a noop sink. The cold first pass (part of set-up)
  * writes each row's result as parquet instead, for the DuckDB check that
  * run.py makes after the JVM ends. */
object Batch {
  val Tpch: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q6_forecast_revenue", "q10_returned_items")
  /** One row per write-side layer: a relation shared by two consumers
    * through `Reuse.materialize`, an Iceberg table (upsert commits and
    * compaction on the row's first call, an eagerly checkpointed read on
    * every call) and a SQLite file written and read back on every call. */
  val Curate: Seq[String] = Seq("d_repeated_ngrams", "q_iceberg_upsert", "q_sqlite_index")

  /** Untimed rounds after the cold pass, part of set-up: the rounds after
    * it are still markedly slower (JIT). A curate round is short and its
    * rows keep speeding up for about three rounds; a TPC-H round, for one. */
  val TpchWarmRounds = 1
  val CurateWarmRounds = 3

  private final case class RowRun(name: String, round: Int, buildMs: Double,
      execMs: Double, ok: Boolean)

  def run(spark: SparkSession, probes: Probes, a: Main.Args, rows: Seq[String],
      sf: String, warmRounds: Int, rep: Report): Unit = {
    val tracer = probes.tracer
    val dir = a.data.resolve(sf).toString
    rep.info("sf") = sf
    val registry = graft.SparkEntry.queries
    val queries = rows.map(n => n -> registry(n))
    val sc = spark.sparkContext
    def dropResidue(): Unit = sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val rng = new Random(a.seed)
    val wl = tracer.nextId()

    // cold pass: the row results for the correctness check
    val coldStart = Clock.now()
    val results = a.out.resolve("results")
    val coldS = mutable.LinkedHashMap.empty[String, Double]
    rng.shuffle(queries).foreach { case (n, q) =>
      rep.attempt()
      probes.currentRow = n
      val t0 = Clock.now()
      try q(spark, dir).write.mode("overwrite").parquet(results.resolve(n).toString)
      catch { case e: Exception => rep.fail(s"$n (cold pass): $e") }
      coldS(n) = (Clock.now() - t0) / 1000
      dropResidue()
    }
    probes.currentRow = ""
    rep.info("cold_s_by_row") = coldS
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => rows.contains(n) }
    Files.write(a.out.resolve("oracle.json"), Report.json.writeValueAsBytes(oracle))
    val coldEnd = Clock.now()

    /** One row through the noop sink: start, built, end, and success. */
    def runRow(n: String,
        q: (SparkSession, String) => DataFrame): (Double, Double, Double, Boolean) = {
      rep.attempt()
      probes.currentRow = n
      val t0 = Clock.now()
      var t1 = t0
      val ok =
        try {
          val df = q(spark, dir)
          t1 = Clock.now()
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Exception => rep.fail(s"$n: $e"); false }
      val t2 = Clock.now()
      probes.currentRow = ""
      (t0, t1, t2, ok)
    }
    (1 to warmRounds).foreach { _ =>
      rng.shuffle(queries).foreach { case (n, q) => runRow(n, q) }
      dropResidue()
    }
    rep.e2e("setup_s") = Clock.now() / 1000.0
    rep.info("setup_marks_s") = Map("session" -> coldStart / 1000,
      "cold_pass" -> coldEnd / 1000, "warm_rounds" -> Clock.now() / 1000)

    // measured phase
    // the window starts from a collected heap, so where its young
    // collections fall does not depend on how set-up left the heap
    System.gc()
    val load = new HostLoad
    val phaseStart = Clock.now()
    val deadline = phaseStart + a.seconds * 1000
    val runs = mutable.ArrayBuffer.empty[RowRun]
    val roundMs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val tracedWindows = mutable.ArrayBuffer.empty[(Double, Double)]
    val residue = mutable.ArrayBuffer.empty[(Int, Double)]
    var codegenMs = 0.0
    var codegenClasses = 0L
    var round = 0
    var last = 0.0
    // whole rounds only, as many as fit in the window (at least one)
    while (round == 0 || Clock.now() + last <= deadline) {
      if (round > 0) dropResidue() // the previous round's, outside the timed region
      // a traced run alternates: listeners on for even rounds, off for odd
      val traced = tracer.on && round % 2 == 0
      if (traced) probes.attach(spark) else probes.detach(spark)
      val order = rng.shuffle(queries)
      val (cg0, cc0) = probes.codegen()
      val r0 = Clock.now()
      val roundSpan = if (traced) tracer.nextId() else 0L
      order.foreach { case (n, q) =>
        val (t0, t1, t2, ok) = runRow(n, q)
        runs += RowRun(n, round, t1 - t0, t2 - t1, ok)
        if (traced) {
          val row = tracer.record(roundSpan, roundSpan, s"row.$n", t0, t2)
          tracer.record(row, roundSpan, "operators.build", t0, t1)
          tracer.record(row, roundSpan, "exec.sink", t1, t2)
        }
      }
      val r1 = Clock.now()
      if (traced) {
        tracer.spans.add(Span(roundSpan, wl, roundSpan, "round", r0, r1))
        tracedWindows += ((r0, r1))
        val (cg1, cc1) = probes.codegen()
        codegenMs += cg1 - cg0
        codegenClasses += cc1 - cc0
      }
      roundMs += ((r1 - r0, traced))
      last = r1 - r0
      val infos = sc.getRDDStorageInfo
      residue += ((sc.getPersistentRDDs.size,
        infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)))
      round += 1
    }
    val phaseEnd = Clock.now()
    probes.detach(spark)
    rep.e2e("live_heap_mb") = Main.liveHeapMb()
    rep.info("host") = load.stamp()

    val okRuns = runs.filter(_.ok)
    val opMs = okRuns.map(r => r.buildMs + r.execMs).toSeq
    val rounds = roundMs.map(_._1).toSeq
    rep.e2e("round_s") = Stats.median(rounds) / 1000.0
    // rows completed per second of the measured window, the time between
    // rounds included
    rep.e2e("serve_qps") = okRuns.size / ((phaseEnd - phaseStart) / 1000.0)
    rep.e2e("serve_p50_ms") = Stats.median(opMs)
    rep.info("round_s_all") = rounds.map(_ / 1000.0)
    rep.info("round_s_quartiles") = Seq(Stats.quantile(rounds, 0.25) / 1000.0,
      Stats.quantile(rounds, 0.75) / 1000.0)
    rep.info("rounds") = rounds.size
    rep.info("operations") = opMs.size
    rep.layers("serve_p99_ms") = Stats.tail(opMs, 0.99)

    rows.foreach { n =>
      val mine = okRuns.filter(_.name == n)
      rep.layers(s"row.$n.s") = Stats.median(mine.map(r => r.buildMs + r.execMs).toSeq) / 1000.0
      rep.layers(s"row.$n.gc_pause_max_ms") =
        Option(probes.rowPauseMax.get(n)).map(_.doubleValue).getOrElse(0.0)
    }
    rep.info("gc_pause_max_ms") = probes.gcPauseMax(phaseStart, phaseEnd)

    if (tracer.on) {
      val nTraced = math.max(1, roundMs.count(_._2))
      val tracedRounds = runs.filter(r => r.round % 2 == 0)
      rep.layers("operators.build_ms") = tracedRounds.map(_.buildMs).sum / nTraced
      rep.layers("util.residue_rdds") = residue.map(_._1.toDouble).sum / residue.size
      rep.layers("util.residue_mb") = residue.map(_._2).sum / residue.size
      probes.layerTotals(tracedWindows.toSeq).foreach { case (k, v) =>
        if (k == "jvm.gc_pause_max_ms") rep.layers(k) = v else rep.layers(k) = v / nTraced
      }
      rep.layers("codegen.compile_ms") = codegenMs / nTraced
      rep.layers("codegen.classes") = codegenClasses.toDouble / nTraced
      val on = roundMs.filter(_._2).map(_._1).toSeq
      val off = roundMs.filterNot(_._2).map(_._1).toSeq
      rep.layers("trace.overhead_pct") =
        if (off.isEmpty) 0.0 else 100.0 * (Stats.median(on) / Stats.median(off) - 1)
      tracer.spans.add(Span(wl, 0L, 0L, "workload", phaseStart, phaseEnd))
      // layers this workload does not exercise
      Seq("hit_p50_ms", "miss_p50_ms", "fed_p50_ms", "mixed_p50_ms", "server.rest_p50_ms",
        "server.flight_p50_ms", "server.pgwire_p50_ms", "server.overhead_p50_ms",
        "server.metrics_scrape_ms", "session.p50_ms", "session.log_entries",
        "session.cache_hit_ratio", "session.cache_entries", "session.cache_mb",
        "plans.federation_collapsed_share", "sources.remote_ms", "sources.remote_rows")
        .foreach(k => rep.layers(k) = 0.0)
    }
  }
}
