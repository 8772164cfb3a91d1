package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization policy: every relation an operator, source
  * or main consumes more than once, or cuts for an iterative lineage,
  * is materialized, checked and released here, and nowhere else
  * (SessionFactorySpec keeps `.localCheckpoint(` out of every other
  * main file). The mode follows the session's master:
  *
  * | master              | `materialize(df, eager)`                 | `release(df)`             | `isLive(df)`               |
  * |---------------------|------------------------------------------|---------------------------|----------------------------|
  * | `local`, `local[N]` | `localCheckpoint(eager)`                 | unpersist `LogicalRDD` leaves | every leaf still stored |
  * | any other           | `persist(MEMORY_AND_DISK)`, `count()` if eager | `unpersist()`       | `storageLevel` is not NONE |
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

  /** Cut-or-cache `df` for multi-consumer reuse; `eager` computes it
    * now (before an input it reads goes away, or so a later release of
    * its inputs is safe). Mode picked from the session's master. */
  def materialize(df: DataFrame, eager: Boolean = false): DataFrame =
    materialize(df, eager, isLocal(df))

  /** Mode-explicit variant (unit-testable both ways on one session). */
  private[graft] def materialize(df: DataFrame, eager: Boolean,
      local: Boolean): DataFrame =
    if (local) df.localCheckpoint(eager)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) p.count()
      p
    }

  /** Drop the blocks behind a [[materialize]]d relation (non-blocking).
    * After a local-mode release the relation is unreadable (its lineage
    * is cut); after a cluster-mode one it recomputes. */
  def release(df: DataFrame): Unit = release(df, isLocal(df))

  private[graft] def release(df: DataFrame, local: Boolean): Unit =
    if (local) checkpointRdds(df).foreach(_.unpersist(blocking = false))
    else df.unpersist(blocking = false)

  /** True while the blocks behind a [[materialize]]d relation are still
    * held — false once a [[release]] or a [[releaseAll]] sweep dropped
    * them, so a memoized relation knows to rebuild. */
  def isLive(df: DataFrame): Boolean = isLive(df, isLocal(df))

  private[graft] def isLive(df: DataFrame, local: Boolean): Boolean =
    if (local) checkpointRdds(df).forall(_.getStorageLevel != StorageLevel.NONE)
    else df.storageLevel != StorageLevel.NONE

  /** Drop every cached relation and persisted RDD of the session — the
    * per-row sweep of the batch harnesses (Bench, Verify), so one row's
    * materializations never tax the next. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private def checkpointRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
