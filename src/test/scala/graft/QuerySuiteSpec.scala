package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  /** One session for the whole test JVM, with GraftExtensions installed
    * (inactive unless a user's policies are set — so the plain query
    * suites are unaffected). A second builder.getOrCreate() in another
    * suite would silently reuse this session WITHOUT its own settings, so
    * every suite must use this one. */
  lazy val spark: SparkSession = {
    val s = graft.session.GraftSession.builder("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** One spec per registered operator: every query must plan and execute on
  * sf0.001 with a sane schema, and leave no storage behind once its row
  * scope ends, as it runs in Bench and Verify. A row may persist or
  * checkpoint whatever it needs while computing; a persisted RDD that
  * outlives the scope (an RDD-level cache nobody unpersists, a cut made
  * outside `Reuse`) taxes every later query's memory until the session
  * dies. Other suites share the JVM, so each row is held against the
  * storage held before it, not against a clean slate. Targeted value
  * assertions live in the sibling specs; cross-engine value equality is
  * the DuckDB differential gate (tools/check.py). */
class QuerySuiteSpec extends AnyFunSuite {
  import SparkTestSession._

  // Queries whose empty result at this tiny scale is expected
  private val mayBeEmpty = Set("q_empty_relation", "q_join_anti")

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} executes") {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val n = graft.util.Reuse.scoped {
        val df = q.run(spark, sf)
        assert(df.columns.nonEmpty, "no columns")
        assert(df.columns.distinct.length == df.columns.length,
          s"duplicate column names: ${df.columns.mkString(",")}")
        df.count()
      }
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      val residue = spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before(id) }
      assert(residue.isEmpty,
        s"${q.name} leaked ${residue.size} persisted RDD(s) past its scope: " +
          residue.map { case (id, r) =>
            s"#$id ${r.name} [${r.getStorageLevel.description}]" }
            .mkString("; "))
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.length == names.length)
  }
}
