package org.apache.spark.sql

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]`/`private[spark]` entry points graft needs.
  * Same shim pattern as [[GraftColumnBridge]]. */
object GraftPlanBridge {

  /** Dataset.ofRows, so graft code can wrap a custom logical leaf (e.g.
    * [[graft.plans.IcebergScanPlan]]) into a DataFrame that Catalyst
    * rules later replace. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Writes driver-resident `rows` as one Parquet file in `dir` on the
    * calling thread, with no Spark job. The writer is the one a
    * `df.write.parquet` task builds (`ParquetUtils.prepareWrite` under the
    * session's SQL conf), so the file carries the same footer: Spark's row
    * metadata, required columns for non-nullable fields, and the session's
    * codec, timestamp type and datetime-rebase mode. */
  def writeParquet(spark: SparkSession, schema: StructType,
      rows: Iterable[InternalRow], dir: String): Unit = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    SQLConf.withExistingConf(state.conf) {
      val job = Job.getInstance(state.newHadoopConf())
      val factory = ParquetUtils.prepareWrite(state.conf, job, schema,
        new ParquetOptions(Map.empty[String, String], state.conf))
      val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, attempt)
      val writer = factory.newInstance(
        s"$dir/part-00000${factory.getFileExtension(ctx)}", schema, ctx)
      try rows.foreach(writer.write) finally writer.close()
    }
  }

  /** Drops RDD `id`'s blocks and forgets it as persisted — what
    * `RDD.unpersist` does, without its warning that a locally
    * checkpointed RDD cannot be recomputed afterwards. */
  def dropRdd(sc: SparkContext, id: Int, blocking: Boolean): Unit =
    sc.unpersistRDD(id, blocking)
}
