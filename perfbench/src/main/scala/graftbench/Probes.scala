package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock as milliseconds since JVM start, with sub-ms precision. All
  * harness timestamps and all listener events share this clock. */
object Clock {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val nanoAtInit = System.nanoTime()
  private val msAtInit = System.currentTimeMillis() - jvmStartMs
  def now(): Double = msAtInit + (System.nanoTime() - nanoAtInit) / 1e6
  /** An epoch-millisecond timestamp (as Spark listeners report) on this clock. */
  def fromEpochMs(ms: Long): Double = (ms - jvmStartMs).toDouble
}

/** A span: one timed call across a layer boundary. Spans of one round or
  * request share `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans kept in memory and written out when the run ends. When the
  * tracer is off, `record` keeps nothing. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()

  def record(parent: Long, req: Long, name: String, start: Double, end: Double): Long =
    if (!on) 0L
    else { val id = nextId(); spans.add(Span(id, parent, req, name, start, end)); id }
}

/** Events the listeners record, each on the [[Clock]]. */
final case class TaskEv(at: Double, cpuNs: Long, shuffleRead: Long,
    shuffleWrite: Long, fetchWaitMs: Long, spill: Long, input: Long, output: Long)
final case class JobEv(id: Int, start: Double, end: Double)
final case class QeEv(at: Double, phases: Map[String, (Double, Double)])
final case class GcEv(at: Double, ms: Double)

/** Observes the program through its public listeners: Spark's
  * `SparkListener` (jobs, task metrics), `QueryExecutionListener`
  * (Catalyst phase times from the planning tracker), the GC MXBean
  * notifications and Spark's codegen counters. GC notifications are
  * always on (they stamp the worst pause on every output). The Spark
  * listeners are attached only for the traced stretches of a traced run
  * and detached for the rest, so untraced rounds pay nothing for them. */
final class Probes(traced: Boolean) {
  val tracer = new Tracer(traced)
  val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val qes = new ConcurrentLinkedQueue[QeEv]()
  val gcs = new ConcurrentLinkedQueue[GcEv]()

  /** The batch row running now, for per-row GC pause attribution. */
  @volatile var currentRow: String = ""
  val rowPauseMax = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val ms = info.getGcInfo.getDuration.toDouble
        gcs.add(GcEv(info.getGcInfo.getStartTime.toDouble, ms))
        val row = currentRow
        if (row.nonEmpty) rowPauseMax.merge(row, ms, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ => ()
  }

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, Clock.fromEpochMs(e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStarts.remove(e.jobId)).map(_.doubleValue)
        .getOrElse(Clock.fromEpochMs(e.time))
      jobs.add(JobEv(e.jobId, s, Clock.fromEpochMs(e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEv(Clock.fromEpochMs(e.taskInfo.finishTime),
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, p) =>
        k -> (Clock.fromEpochMs(p.startTimeMs), Clock.fromEpochMs(p.endTimeMs))
      }
      if (ph.nonEmpty) qes.add(QeEv(ph.values.map(_._1).min, ph))
    }
  }
  private val DrainMs = 300L
  @volatile private var attached = false

  /** Registers the Spark listeners (a traced run only). */
  def attach(spark: SparkSession): Unit = synchronized {
    if (traced && !attached) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      attached = true
    }
  }

  /** Unregisters them, after a pause that lets the listener bus deliver
    * the events of the stretch that just ended. */
  def detach(spark: SparkSession): Unit = synchronized {
    if (attached) {
      Thread.sleep(DrainMs)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      attached = false
    }
  }

  /** Cumulative codegen compile time (ms) and compiled-class count. */
  def codegen(): (Double, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Per-layer counters summed over the time windows in `ws`. */
  def layerTotals(ws: Seq[(Double, Double)]): mutable.LinkedHashMap[String, Double] = {
    def in(t: Double) = ws.exists { case (a, b) => t >= a && t < b }
    val out = mutable.LinkedHashMap.empty[String, Double]
    val qe = qes.asScala.filter(q => in(q.at)).toSeq
    def phase(n: String) = qe.flatMap(_.phases.get(n)).map { case (a, b) => b - a }.sum
    out("catalyst.analysis_ms") = phase("analysis")
    out("catalyst.optimization_ms") = phase("optimization")
    out("catalyst.planning_ms") = phase("planning")
    val js = jobs.asScala.filter(j => in(j.start)).toSeq
    out("exec.ms") = js.map(j => j.end - j.start).sum
    out("exec.jobs") = js.size
    val ts = tasks.asScala.filter(t => in(t.at)).toSeq
    val mb = 1024.0 * 1024.0
    out("exec.tasks") = ts.size
    out("exec.task_cpu_ms") = ts.map(_.cpuNs).sum / 1e6
    out("exec.shuffle_read_mb") = ts.map(_.shuffleRead).sum / mb
    out("exec.shuffle_write_mb") = ts.map(_.shuffleWrite).sum / mb
    out("exec.fetch_wait_ms") = ts.map(_.fetchWaitMs).sum.toDouble
    out("exec.spill_mb") = ts.map(_.spill).sum / mb
    out("exec.input_mb") = ts.map(_.input).sum / mb
    out("exec.output_mb") = ts.map(_.output).sum / mb
    val gs = gcs.asScala.filter(g => in(g.at)).toSeq
    out("jvm.gc_ms") = gs.map(_.ms).sum
    out("jvm.gc_count") = gs.size
    out("jvm.gc_pause_max_ms") = if (gs.isEmpty) 0.0 else gs.map(_.ms).max
    out
  }

  def gcPauseMax(from: Double, to: Double): Double =
    gcs.asScala.filter(g => g.at >= from && g.at < to).map(_.ms).maxOption.getOrElse(0.0)

  /** Catalyst phase and job spans, attached to the harness span that
    * contains them (for a single client, the row that ran them). */
  def listenerSpans(parents: Seq[Span]): Unit = if (traced) {
    def owner(t: Double): Option[Span] = parents.find(p => t >= p.start && t <= p.end)
    qes.asScala.foreach { q =>
      q.phases.foreach { case (n, (a, b)) =>
        owner(a).foreach(p => tracer.record(p.id, p.req, s"catalyst.$n", a, b))
      }
    }
    jobs.asScala.foreach { j =>
      owner(j.start).foreach(p => tracer.record(p.id, p.req, "exec.job", j.start, j.end))
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The p-th percentile, but only when at least ten samples lie beyond
    * it; 0 otherwise. */
  def tail(xs: Seq[Double], q: Double): Double =
    if (xs.size * (1 - q) >= 10) quantile(xs, q) else 0.0

  /** Self time per span name: duration minus the part covered by children. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var curA = -1.0; var curB = -1.0
        cs.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered += curB - curA
        s.dur - covered
      }.sum
    }
  }
}
