package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerExecutorRemoved}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId
import org.scalatest.funsuite.AnyFunSuite

/** Executor loss on a real cluster: a registry row is collected, one
  * executor that holds its materialized blocks is killed, and the same
  * DataFrame is collected again. With `graft.util.Reuse` persisting on
  * any non-local master, the lost blocks recompute from their lineage
  * and the second result equals the first; a localCheckpoint would fail
  * the query with "checkpoint block not found".
  *
  * `local-cluster[2,1,1024]` starts a standalone master, two workers and
  * two executor JVMs from `$SPARK_HOME`, which build.sbt points at a
  * directory under `target/` holding the jars the build compiles against;
  * the executors get this JVM's classpath minus those jars.
  * A JVM holds one SparkContext at a time, so this suite runs in its
  * own forked test JVM (`Test / testGrouping` in build.sbt) and builds
  * one cluster per row. */
class ExecutorLossSpec extends AnyFunSuite {

  private def withCluster(body: SparkSession => Unit): Unit = {
    val sparkJars = new File(sys.env("SPARK_HOME"), "jars").getCanonicalPath
    val cp = sys.props("java.class.path").split(File.pathSeparator)
      .filterNot(p => new File(p).getCanonicalPath.startsWith(sparkJars))
      .mkString(File.pathSeparator)
    val spark = graft.session.GraftSession.builder("local-cluster[2,1,1024]")
      .appName("graft-executor-loss")
      .config("spark.executor.extraClassPath", cp)
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Collect `row`, kill an executor holding RDD blocks, collect again. */
  private def survivesExecutorLoss(row: String): Unit = withCluster { spark =>
    val sc = spark.sparkContext
    val rddBlocks = new ConcurrentHashMap[String, Integer]()
    val removed = ConcurrentHashMap.newKeySet[String]()
    sc.addSparkListener(new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isInstanceOf[RDDBlockId] && info.storageLevel.isValid)
          rddBlocks.merge(info.blockManagerId.executorId, 1, Integer.sum(_, _))
      }
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.add(e.executorId)
    })
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what")
    }

    val df = SparkEntry.queries(row)(spark, SparkTestSession.sf)
    val before = df.collect().map(_.toString).sorted.toSeq
    assert(before.nonEmpty, s"$row returned no rows")
    await("a materialized block on an executor")(
      rddBlocks.keySet.stream().anyMatch(_ != "driver"))
    val victim = rddBlocks.keySet.stream().filter(_ != "driver")
      .findFirst().get
    assert(sc.killExecutor(victim), s"could not kill executor $victim")
    await(s"executor $victim to be removed")(removed.contains(victim))

    val after = df.collect().map(_.toString).sorted.toSeq
    assert(after == before, s"$row changed after losing executor $victim")
  }

  test("q_events_retention (lazy materialize) survives executor loss") {
    survivesExecutorLoss("q_events_retention")
  }

  test("d_dup_clusters (eager materialize) survives executor loss") {
    survivesExecutorLoss("d_dup_clusters")
  }
}
