package graft

import graft.session._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The result cache's serving path: hits come from driver-resident rows
  * with no Spark job, a miss is one bounded collect plus the Parquet
  * copy, and the served rows keep the query's order and schema. */
class QueryCacheSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    Tables(s, SparkTestSession.sf).registerAll()
    s
  }

  private def session(cache: QueryCache, defensiveLimit: Int = 1000) =
    new GraftSession(spark, GraftConfig(defensiveLimit = defensiveLimit), Some(cache))

  private def missed(r: QueryResult) = r.warnings.exists(_.code == WarningCodes.CacheMiss)
  private def hit(r: QueryResult) = r.warnings.exists(_.code == WarningCodes.CacheHit)

  /** Spark jobs started by `action`. A one-task RDD job is the barrier:
    * the listener bus is ordered, so once its start event lands every job
    * `action` ran has been counted. */
  private def jobsDuring(action: => Unit): Int = {
    val jobs = new AtomicInteger
    val barrierSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.job.description") == "barrier")
          barrierSeen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      action
      sc.setJobDescription("barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(barrierSeen.await(10, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  private def assertInOrder(got: DataFrame, expected: Seq[Row]): Unit = {
    val rows = got.collect().toSeq
    assert(rows == expected, s"first keys ${rows.take(3).map(_.get(0)).mkString(", ")}")
  }

  test("cache: a sorted result keeps its order on the miss, the hit and after re-adoption") {
    // v grows with k, and with coalescing off the sorted result spans four
    // shuffle partitions of different sizes
    spark.range(4000).selectExpr("id AS k", "id * 7 AS v")
      .createOrReplaceTempView("cache_order_src")
    val sql = "SELECT k, max(v) AS v FROM cache_order_src GROUP BY k ORDER BY k"
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      val expected = spark.sql(sql).collect().toSeq
      assert(expected.map(_.getLong(0)) == (0L until 4000L))
      val root = Files.createTempDirectory("graft-cache-order")
      val engine = session(new QueryCache(root), defensiveLimit = 0)
      val miss = engine.executeQuery(sql)
      assert(missed(miss))
      assertInOrder(miss.df, expected)
      val again = engine.executeQuery(sql)
      assert(hit(again))
      assertInOrder(again.df, expected)
      // restart: a fresh cache over the same root re-adopts the Parquet copy
      val restarted = new QueryCache(root)
      val df = spark.sql(sql)
      val k = restarted.key(df, AuthenticatedUser.anonymous)
      assert(restarted.store(df, k))
      assertInOrder(restarted.lookup(spark, k).get, expected)
    } finally spark.conf.set(coalesce, before)
  }

  test("cache: a hit starts no Spark job, a miss at most two") {
    val engine = session(QueryCache.temp())
    val sql = "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2"
    val missJobs = jobsDuring {
      val r = engine.executeQuery(sql)
      assert(missed(r))
      assert(r.df.limit(1001).collect().length == 5)
    }
    assert(missJobs <= 2, s"a miss started $missJobs jobs")
    val hitJobs = jobsDuring {
      val r = engine.executeQuery(sql)
      assert(hit(r))
      assert(r.df.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
      assert(r.df.limit(1001).collect().length == 5)
    }
    assert(hitJobs == 0, s"a hit started $hitJobs jobs")
  }

  test("cache: results past 100,000 rows and empty results are served but not cached") {
    val cache = QueryCache.temp()
    val engine = session(cache, defensiveLimit = 0)
    val long = "SELECT id, id * 2 AS twice FROM range(100001)"
    val sizeBefore = cache.size
    val first = engine.executeQuery(long)
    assert(missed(first))
    val rows = first.df.collect()
    assert(rows.length == 100001)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 100001L))
    assert(rows.forall(r => r.getLong(1) == 2 * r.getLong(0)))
    assert(cache.size == sizeBefore)
    assert(missed(engine.executeQuery(long)))
    val empty = "SELECT n_name FROM nation WHERE n_nationkey < 0"
    for (_ <- 1 to 2) {
      val r = engine.executeQuery(empty)
      assert(missed(r))
      assert(r.df.collect().isEmpty)
    }
    assert(cache.size == sizeBefore)
  }

  test("cache: a hit and a miss report the query's own schema, nullability included") {
    val engine = session(QueryCache.temp())
    val sql = "SELECT n_regionkey, count(*) AS n, CAST(1 AS INT) AS one " +
      "FROM nation GROUP BY n_regionkey"
    val expected = spark.sql(sql).schema
    assert(expected.exists(!_.nullable), "the check needs a non-nullable column")
    val miss = engine.executeQuery(sql)
    val again = engine.executeQuery(sql)
    assert(missed(miss) && hit(again))
    assert(miss.df.schema == expected)
    assert(again.df.schema == expected)
  }

  test("cache: an entry weighs its heap bytes when they exceed its Parquet bytes") {
    val root = Files.createTempDirectory("graft-cache-heap")
    val cache = new QueryCache(root)
    // one repeated string: Parquet dictionary-encodes it to a few bytes a
    // row, while every collected row holds its own copy on the heap
    val df: DataFrame = spark.range(20000).selectExpr("repeat('x', 200) AS s")
    val k = cache.key(df, AuthenticatedUser.anonymous)
    assert(cache.store(df, k))
    val onDisk = {
      val stream = Files.walk(root.resolve(k))
      try stream.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally stream.close()
    }
    assert(cache.totalBytes > 20000L * 200, s"weight ${cache.totalBytes}")
    assert(cache.totalBytes > onDisk * 10, s"weight ${cache.totalBytes} disk $onDisk")
    val engine = session(cache)
    assert(engine.cacheUsage == ((1, cache.totalBytes)))
    assert(new GraftSession(spark).cacheUsage == ((0, 0L)))
  }
}
