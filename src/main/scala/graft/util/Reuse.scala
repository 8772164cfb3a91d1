package graft.util

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The one materialization policy: every relation an operator, source
  * or main consumes more than once, or cuts for an iterative lineage,
  * is materialized and released here, and nowhere else
  * (SessionFactorySpec keeps `.localCheckpoint(` out of every other
  * main file). The mode follows the session's master:
  *
  * | master              | `materialize(df, eager)`                       | `release(df)`                        | end of `scoped(body)` |
  * |---------------------|------------------------------------------------|--------------------------------------|-----------------------|
  * | `local`, `local[N]` | `localCheckpoint(eager)`                       | drop the `LogicalRDD` leaves' blocks | the same, blocking    |
  * | any other           | `persist(MEMORY_AND_DISK)`, `count()` if eager | `unpersist()`                        | the same, blocking    |
  *
  * In `local[N]` a localCheckpoint is the cheapest lineage cut:
  * executor-local blocks, no replication, and "executor loss" cannot
  * happen separately from JVM death, so the non-recoverability of
  * truncated lineage costs nothing.
  *
  * On a cluster that trade reverses: a localCheckpointed block lives
  * ONLY on the executor that computed it, so one executor loss makes
  * every consumer fail with "checkpoint block not found" — at 100 TB a
  * multi-hour query dies for one lost container. There the relation is
  * persisted MEMORY_AND_DISK instead: the same single computation (the
  * first consumer fills the cache), full lineage kept, so a lost block
  * recomputes from the inputs as one task instead of killing the query
  * (ExecutorLossSpec kills an executor between two collects).
  */
object Reuse {

  private def isLocal(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.isLocal

  /** The cuts made by this thread's innermost [[scoped]] block, each
    * with the mode it was made in. A plain ThreadLocal: a thread started
    * inside a scope (a pooled executor thread above all) must not
    * inherit a scope that may already have ended. */
  private val current = new ThreadLocal[ArrayBuffer[(DataFrame, Boolean)]]

  /** Cut-or-cache `df` for multi-consumer reuse; `eager` computes it
    * now (before an input it reads goes away, or so a later release of
    * its inputs is safe). Mode picked from the session's master. */
  def materialize(df: DataFrame, eager: Boolean = false): DataFrame =
    materialize(df, eager, isLocal(df))

  /** Mode-explicit variant (unit-testable both ways on one session). */
  private[graft] def materialize(df: DataFrame, eager: Boolean,
      local: Boolean): DataFrame = {
    val m =
      if (local) df.localCheckpoint(eager)
      else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        if (eager) p.count()
        p
      }
    Option(current.get).foreach(_ += (m -> local))
    m
  }

  /** Drop the blocks behind a [[materialize]]d relation (non-blocking).
    * After a local-mode release the relation is unreadable (its lineage
    * is cut); after a cluster-mode one it recomputes. */
  def release(df: DataFrame): Unit = release(df, isLocal(df))

  private[graft] def release(df: DataFrame, local: Boolean,
      blocking: Boolean = false): Unit =
    if (local) {
      // dropped by id: `RDD.unpersist` would warn that a locally
      // checkpointed RDD cannot be recomputed, which is the point
      val sc = df.sparkSession.sparkContext
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
        .foreach(GraftPlanBridge.dropRdd(sc, _, blocking))
    } else df.unpersist(blocking)

  /** Runs `body` as one unit of work — a harness row — and releases,
    * blocking, every relation this thread [[materialize]]d inside it,
    * however `body` ends. Scopes nest; outside any scope nothing is
    * recorded and a caller releases its own cuts (serving, streaming).
    *
    * Why the row is the lifetime: every row builds its plan from the
    * sources again, so a previous row's blocks are dead weight. On the
    * sf5.0 rung a median-of-3 row that kept three iterations of
    * multi-GB block residue on a 16 GB heap drove ParallelGC into a
    * full-collection spiral. */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val cuts = ArrayBuffer.empty[(DataFrame, Boolean)]
    current.set(cuts)
    try body
    finally {
      if (outer == null) current.remove() else current.set(outer)
      cuts.foreach { case (df, local) => release(df, local, blocking = true) }
    }
  }
}
