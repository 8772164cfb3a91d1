package graft

import graft.session._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The result cache's serving path: hits come from driver-resident rows
  * with no Spark job, a miss is one bounded collect whose Parquet copy is
  * written on the driver, and the served rows keep the query's order and
  * schema. */
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
      assert(restarted.store(df, k).isDefined)
      assertInOrder(restarted.lookup(spark, k).get, expected)
    } finally spark.conf.set(coalesce, before)
  }

  test("cache: a hit starts no Spark job, a miss only the jobs of one collect") {
    val engine = session(QueryCache.temp())
    val sql = "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2"
    val collectJobs = jobsDuring(spark.sql(sql).limit(1000).collect())
    assert(collectJobs >= 1)
    val missJobs = jobsDuring {
      val r = engine.executeQuery(sql)
      assert(missed(r))
      assert(r.df.limit(1001).collect().length == 5)
    }
    // the Parquet copy is written on the driver: it adds no job
    assert(missJobs == collectJobs, s"a miss started $missJobs jobs, a collect $collectJobs")
    val hitJobs = jobsDuring {
      val r = engine.executeQuery(sql)
      assert(hit(r))
      assert(r.df.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
      assert(r.df.limit(1001).collect().length == 5)
    }
    assert(hitJobs == 0, s"a hit started $hitJobs jobs")
  }

  test("cache: an empty miss runs the query once") {
    val engine = session(QueryCache.temp())
    val sql = "SELECT n_name FROM nation WHERE n_nationkey < 0"
    val collectJobs = jobsDuring(assert(spark.sql(sql).limit(1000).collect().isEmpty))
    assert(collectJobs >= 1)
    val missJobs = jobsDuring {
      val r = engine.executeQuery(sql)
      assert(missed(r))
      assert(r.df.schema == spark.sql(sql).schema)
      assert(r.df.limit(1001).collect().isEmpty)
    }
    assert(missJobs == collectJobs, s"an empty miss started $missJobs jobs, a collect $collectJobs")
  }

  test("cache: a full cache evicts its least recently used entries and their copies") {
    val root = Files.createTempDirectory("graft-cache-full")
    val cache = new QueryCache(root, maxEntries = 8)
    val dfs = (1 to 12).map(i =>
      spark.sql(s"SELECT n_nationkey FROM nation WHERE n_nationkey < $i"))
    val keys = dfs.map(cache.key(_, AuthenticatedUser.anonymous))
    assert(keys.distinct.size == 12)
    dfs.zip(keys).foreach { case (df, k) =>
      assert(cache.store(df, k).isDefined)
      assert(cache.size <= 8)
      Thread.sleep(2) // distinct last-use stamps, so the LRU order is fixed
    }
    assert(cache.size == 8)
    val (evicted, kept) = keys.splitAt(4)
    evicted.foreach(k => assert(!Files.exists(root.resolve(k)), s"evicted $k kept its copy"))
    kept.foreach(k => assert(Files.isDirectory(root.resolve(k)), s"live $k lost its copy"))
    assert(evicted.forall(cache.lookup(spark, _).isEmpty))
    assert(kept.forall(cache.lookup(spark, _).isDefined))
    // restart: a survivor's copy is adopted, an evicted key runs again
    val restarted = new QueryCache(root, maxEntries = 8)
    for (i <- Seq(0, 11)) {
      val (df, k) = (dfs(i), keys(i))
      assert(Files.exists(root.resolve(k)) == kept.contains(k))
      assert(restarted.lookup(spark, k).isEmpty)
      assert(restarted.store(df, k).get.collect().map(_.getInt(0)).sorted.toSeq ==
        (0 to i))
      assert(Files.isDirectory(root.resolve(k)))
      assert(restarted.lookup(spark, k).isDefined)
    }
  }

  test("cache: the driver-written copy reads back equal, with Spark's own Parquet footer") {
    val df = spark.sql(
      """SELECT IF(id = 1, NULL, CAST(id AS INT)) AS i,
        |  id AS l,
        |  IF(id = 2, NULL, CAST(id AS DOUBLE) / 3) AS d,
        |  IF(id = 3, NULL, CAST(id * 1234567.123456 AS DECIMAL(38, 6))) AS dec,
        |  IF(id = 4, NULL, concat('s', id)) AS s,
        |  IF(id = 5, NULL, CAST(concat('b', id) AS BINARY)) AS b,
        |  IF(id = 0, NULL, id % 2 = 0) AS flag,
        |  IF(id = 1, NULL, date_add(DATE'2024-02-28', CAST(id AS INT))) AS dt,
        |  IF(id = 2, NULL, timestamp_micros(1700000000000000 + id * 1000001)) AS ts,
        |  IF(id = 3, NULL, array(id, NULL, id + 1)) AS arr,
        |  IF(id = 4, NULL, map('k', id, 'n', CAST(NULL AS BIGINT))) AS m,
        |  IF(id = 5, NULL, named_struct('x', id, 'y', CAST(NULL AS STRING))) AS st
        |FROM range(6)""".stripMargin)
    assert(!df.schema("l").nullable && df.schema("i").nullable)
    val root = Files.createTempDirectory("graft-cache-types")
    val cache = new QueryCache(root)
    val k = cache.key(df, AuthenticatedUser.anonymous)
    val served = cache.store(df, k).get.collect().toSeq
    val expected = df.collect().toSeq
    assert(served == expected)
    def parquetFiles(dir: java.nio.file.Path) = {
      val stream = Files.list(dir)
      try stream.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
      finally stream.close()
    }
    val written = parquetFiles(root.resolve(k))
    assert(written.size == 1, s"entry files: $written")
    val readBack = spark.read.schema(df.schema).parquet(root.resolve(k).toString).collect().toSeq
    assert(readBack.sortBy(_.getLong(1)) == expected.sortBy(_.getLong(1)))
    // the copy a Spark write job makes of the same rows
    val ref = Files.createTempDirectory("graft-cache-types-ref").resolve("out")
    df.coalesce(1).write.parquet(ref.toString)
    def footer(p: java.nio.file.Path) = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration()))
      try reader.getFooter.getFileMetaData finally reader.close()
    }
    val (ours, theirs) = (footer(written.head), footer(parquetFiles(ref).head))
    val RowMeta = "org.apache.spark.sql.parquet.row.metadata"
    assert(ours.getKeyValueMetaData.get(RowMeta) != null)
    assert(ours.getKeyValueMetaData.get(RowMeta) == theirs.getKeyValueMetaData.get(RowMeta))
    assert(ours.getSchema == theirs.getSchema)
    assert(ours.getSchema.getType(ours.getSchema.getFieldIndex("l")).getRepetition ==
      org.apache.parquet.schema.Type.Repetition.REQUIRED)
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
    assert(cache.store(df, k).isDefined)
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
