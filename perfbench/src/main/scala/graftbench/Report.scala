package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Everything one run measured. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer ones; `info` carries stamps and detail. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private var attempts = 0L
  private val failureList = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attempts)
  def failed: Long = synchronized(failureList.size.toLong)
  def failures: Seq[String] = synchronized(failureList.toSeq)
  def attempt(): Unit = synchronized(attempts += 1)
  def fail(what: String): Unit = synchronized {
    if (failureList.size < 1000) failureList += what.linesIterator.take(1).mkString.take(300)
    else failureList += "..."
  }
}

object Report {
  /** Renders the harness's output files (Scala maps and sequences). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** Host contention over an interval: the stolen share of all CPU ticks
  * (/proc/stat) and the 1-minute load average at both ends. */
final class HostLoad {
  private def ticks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Exception => None }
  private def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private val t0 = ticks()
  private val l0 = load1()

  def stamp(): Map[String, Double] = {
    val steal = (t0, ticks()) match {
      case (Some((a, s0)), Some((b, s1))) if b > a => 100.0 * (s1 - s0) / (b - a)
      case _ => -1.0
    }
    Map("steal_pct" -> steal, "load1_start" -> l0, "load1_end" -> load1())
  }
}
