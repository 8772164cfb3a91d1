package graft

import graft.util.Reuse
import org.scalatest.funsuite.AnyFunSuite

/** The no-residue storage gate outside any row scope, the way serving
  * and streaming run a row: it may persist/checkpoint whatever it needs
  * WHILE computing, but after its action completes the only storage it
  * adds to the session must be backing the RESULT it returned
  * (localCheckpoint leaves inside the returned plan, which the caller
  * releases or the ContextCleaner drops with the DataFrame). Anything
  * else is a leak that no `Reuse.scoped` cleans up there: a cached pair
  * relation nobody unpersists taxes every later query's memory until
  * the session dies. QuerySuiteSpec holds every row to the same bar
  * inside a scope; this spec covers the rows that exercise every
  * persist/checkpoint site family without one: driver-gated union-find
  * + pagerank (persist + RDD cache), gram-relation reuse (lazy
  * localCheckpoint), tokenizer training (per-round cuts released as the
  * next is made), and the eager-checkpoint iteration shapes in Extended.
  * Other suites share the JVM, so each row is held against the storage
  * held before it, not against a clean slate. */
class StorageResidueSpec extends AnyFunSuite {
  import SparkTestSession._

  /** RDD ids the returned plan legitimately pins: every LogicalRDD
    * leaf (a localCheckpoint surfaces as one). */
  private def plannedRddIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet

  private val rows = Seq(
    "d_dup_clusters",      // measured gate: persist + driver union-find / RDD pointer-doubling
    "d_dup_pagerank",      // persist + count probe + driver/distributed split
    "d_repeated_ngrams",   // lazy localCheckpoint feeding two consumers
    "d_minhash_lsh_pairs", // banded LSH candidate generation
    "t_bpe_train",         // sample-bounded training with per-round cuts
    "q_join_asof",         // Extended's eager localCheckpoint shape
    "s_knn_join")          // bucketed self-join + bounded training collect

  rows.foreach { name =>
    test(s"$name leaves no storage residue beyond its returned result") {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val df = SparkEntry.queries(name)(spark, sf)
      try {
        assert(df.count() > 0, s"$name returned no rows at smoke scale")
        val allowed = plannedRddIds(df)
        val residue = spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before(id) || allowed(id) }
        assert(residue.isEmpty,
          s"$name leaked ${residue.size} persisted RDD(s) not referenced " +
            s"by its result: ${residue.map { case (id, r) =>
              s"#$id ${r.name} [${r.getStorageLevel.description}]" }
              .mkString("; ")}")
      } finally Reuse.release(df, local = true, blocking = true)
    }
  }
}
