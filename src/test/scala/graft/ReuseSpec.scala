package graft

import graft.util.Reuse
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** graft.util.Reuse — the one materialization policy: local mode cuts
  * lineage with a localCheckpoint; cluster mode keeps lineage and
  * persists MEMORY_AND_DISK so an executor loss recomputes instead of
  * killing the query. Release follows the same mode, and a scope
  * releases what its thread materialized inside it. */
class ReuseSpec extends AnyFunSuite {
  import SparkTestSession._

  private def base = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .filter(org.apache.spark.sql.functions.col("k") > 1)
  }

  test("local mode: lazy localCheckpoint (LogicalRDD leaf, same rows)") {
    val m = Reuse.materialize(base, eager = false, local = true)
    try {
      // lineage is cut: the analyzed plan bottoms out in an RDD scan
      assert(m.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[LogicalRDD]),
        m.queryExecution.analyzed.toString)
      assert(m.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    } finally m.unpersist(blocking = true)
  }

  test("cluster mode: persist keeps lineage (recomputable) + same rows") {
    val m = Reuse.materialize(base, eager = false, local = false)
    try {
      assert(m.storageLevel.useDisk, "expected MEMORY_AND_DISK persist")
      assert(m.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
      // lineage survives: the plan still reaches the original leaves,
      // so a lost cached block recomputes from the source
      assert(m.queryExecution.analyzed.collectLeaves().forall(
        !_.isInstanceOf[LogicalRDD]),
        m.queryExecution.analyzed.toString)
    } finally m.unpersist(blocking = true)
  }

  test("default mode on a local session is the checkpoint path") {
    val m = Reuse.materialize(base)
    try assert(m.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[LogicalRDD]))
    finally m.unpersist(blocking = true)
  }

  /** Per RDD behind a local-mode cut: are all its partitions stored? */
  private def cutFilled(m: org.apache.spark.sql.DataFrame) =
    m.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
      .map(r => spark.sparkContext.getRDDStorageInfo.find(_.id == r.id)
        .exists(_.numCachedPartitions == r.getNumPartitions))

  test("eager mode computes now: local checkpoint and cluster persist") {
    val local = Reuse.materialize(base, eager = true, local = true)
    val cluster = Reuse.materialize(base, eager = true, local = false)
    try {
      assert(cutFilled(local) == Seq(true), "eager cut holds its blocks")
      // the persisted relation's buffers were filled by the eager count
      val cached = spark.sharedState.cacheManager.lookupCachedData(
        cluster.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      assert(cached.exists(_.cachedRepresentation.cacheBuilder
        .isCachedColumnBuffersLoaded), "eager persist is filled")
      assert(cluster.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    } finally {
      Reuse.release(local, local = true)
      Reuse.release(cluster, local = false)
    }
  }

  private def persistedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the persisted RDDs behind `m`: the cut's `LogicalRDD` leaves in
    * local mode, the cached relation's buffers in cluster mode. */
  private def heldIds(m: org.apache.spark.sql.DataFrame, local: Boolean) =
    if (local) m.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet
    else spark.sharedState.cacheManager.lookupCachedData(
      m.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).toSeq
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id).toSet

  /** The spec's liveness probe: is every RDD behind `m` still persisted? */
  private def isLive(m: org.apache.spark.sql.DataFrame, local: Boolean) = {
    val ids = heldIds(m, local)
    ids.nonEmpty && ids.subsetOf(persistedIds)
  }

  test("release and isLive follow the mode") {
    Seq(true, false).foreach { local =>
      val m = Reuse.materialize(base, eager = true, local = local)
      assert(isLive(m, local), s"local=$local: live after materialize")
      Reuse.release(m, local)
      assert(!isLive(m, local), s"local=$local: dead after release")
    }
  }

  // The end of a row's scope is the row-end sweep: one scope holding a
  // cut of each mode drops the cut's blocks and the cached relation.
  test("releaseAll drops cut blocks and cached relations") {
    var local, cluster: org.apache.spark.sql.DataFrame = null
    Reuse.scoped {
      local = Reuse.materialize(base, eager = true, local = true)
      cluster = Reuse.materialize(base, eager = true, local = false)
      assert(isLive(local, local = true) && isLive(cluster, local = false))
    }
    assert(!isLive(local, local = true))
    assert(!isLive(cluster, local = false))
  }

  test("a scope releases its cuts in both modes") {
    Seq(true, false).foreach { local =>
      val before = persistedIds
      var held = Set.empty[Int]
      val n = Reuse.scoped {
        val m = Reuse.materialize(base, eager = true, local = local)
        held = heldIds(m, local)
        assert(held.nonEmpty && held.subsetOf(persistedIds),
          s"local=$local: held inside the scope")
        m.count()
      }
      assert(n == 2)
      assert((held & persistedIds).isEmpty, s"local=$local: released at exit")
      assert(persistedIds.subsetOf(before), s"local=$local: no residue")
    }
  }

  test("a cut made outside any scope survives") {
    val m = Reuse.materialize(base, eager = true, local = true)
    try {
      Reuse.scoped(Reuse.materialize(base, eager = true, local = true).count())
      assert(isLive(m, local = true))
      assert(m.count() == 2)
    } finally Reuse.release(m, local = true)
  }

  test("a cut made on a thread started inside a scope is not captured") {
    var m: org.apache.spark.sql.DataFrame = null
    Reuse.scoped {
      val t = new Thread(() =>
        m = Reuse.materialize(base, eager = true, local = true))
      t.start(); t.join()
    }
    try {
      assert(isLive(m, local = true))
      assert(m.count() == 2)
    } finally Reuse.release(m, local = true)
  }
}
