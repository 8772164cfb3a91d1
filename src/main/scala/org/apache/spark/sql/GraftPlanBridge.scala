package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `private[sql]`/`private[spark]` entry points graft needs.
  * Same shim pattern as [[GraftColumnBridge]]. */
object GraftPlanBridge {

  /** Dataset.ofRows, so graft code can wrap a custom logical leaf (e.g.
    * [[graft.plans.IcebergScanPlan]]) into a DataFrame that Catalyst
    * rules later replace. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drops RDD `id`'s blocks and forgets it as persisted — what
    * `RDD.unpersist` does, without its warning that a locally
    * checkpointed RDD cannot be recomputed afterwards. */
  def dropRdd(sc: SparkContext, id: Int, blocking: Boolean): Unit =
    sc.unpersistRDD(id, blocking)
}
