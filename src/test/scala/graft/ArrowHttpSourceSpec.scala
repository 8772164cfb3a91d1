package graft

import graft.server.{ApiKeyAuthenticator, ApiServer}
import graft.session.{AuthenticatedUser, GraftConfig, GraftSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Engine-to-engine federation over the Arrow HTTP surface: one graft
  * serves /api/v1/tables + /api/v1/query_arrow, a second Spark session
  * reads it as a DSv2 source — discovery from the embedded IPC schema
  * bytes (no data fetch), execution as an Arrow stream, filters and
  * column pruning pushed into the remote SQL. */
class ArrowHttpSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private var api: ApiServer = _
  private var url: String = _

  override def beforeAll(): Unit = {
    Tables(spark, sf).registerAll()
    val engine = new GraftSession(spark, GraftConfig(defensiveLimit = 10000))
    api = new ApiServer(engine,
      new ApiKeyAuthenticator(Map("k" -> AuthenticatedUser("u",
        permissions = Set("query:execute", "catalog:read")))).apply,
      maxRows = 10000)
    val port = api.start()
    url = s"http://localhost:$port"
  }

  override def afterAll(): Unit = if (api != null) api.stop()

  private def remote(table: String) =
    spark.read.format("graft.sources.arrowhttp.ArrowHttpDataSource")
      .option("url", url).option("table", table).option("authToken", "k")
      .load()

  test("schema discovers from the embedded IPC schema bytes") {
    val s = remote("nation").schema
    val local = spark.table("nation").schema
    assert(s.fieldNames.toSeq == local.fieldNames.toSeq)
    assert(s("n_nationkey").dataType == local("n_nationkey").dataType)
    assert(s("n_name").dataType == org.apache.spark.sql.types.StringType)
  }

  test("full table reads match the local table") {
    val got = remote("nation").orderBy("n_nationkey").collect()
    val want = spark.table("nation").orderBy("n_nationkey").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
  }

  test("filters and column pruning are pushed into the remote SQL") {
    val df = remote("customer")
      .filter(col("c_nationkey") === 3 && col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_name"))
    val scanDesc = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    // remote SQL carries the predicates and only the requested columns
    assert(scanDesc.contains("c_nationkey` = 3"), scanDesc)
    // double literals travel as exact string casts (Double.toString
    // round-trips; a bare 0.0 would parse as DECIMAL remotely)
    assert(scanDesc.contains("c_acctbal` > CAST('0.0' AS DOUBLE)"), scanDesc)
    assert(!scanDesc.contains("c_address"), scanDesc)
    val want = spark.table("customer")
      .filter(col("c_nationkey") === 3 && col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_name"))
    assert(df.orderBy("c_custkey").collect().toSeq ==
      want.orderBy("c_custkey").collect().toSeq)
  }

  test("string filters escape safely") {
    val df = remote("nation").filter(col("n_name") === "NATION_0'; --")
    assert(df.count() == 0) // no match, and no injection/parse failure
  }

  test("pushed string filters keep backslashes: rows match the local query") {
    import spark.implicits._
    // the remote reads Spark SQL, where a backslash in a literal is an
    // escape: 'C:\tmp' unescaped would compare against a tab, and a
    // value ending in \' would close the literal early
    Seq("""C:\tmp""" -> 1, "C:\tmp" -> 2, """x\' OR 1=1 --""" -> 3, "plain" -> 4)
      .toDF("p", "n").createOrReplaceTempView("bs_paths")
    def both(f: org.apache.spark.sql.Column): (Seq[Int], Seq[Int]) = {
      def ns(df: org.apache.spark.sql.DataFrame) =
        df.filter(f).select("n").collect().map(_.getInt(0)).toSeq.sorted
      (ns(remote("bs_paths")), ns(spark.table("bs_paths")))
    }
    val (got, want) = both(col("p") === """C:\tmp""")
    assert(got == want && want == Seq(1), s"remote $got, local $want")
    val (got2, want2) = both(col("p") === """x\' OR 1=1 --""")
    assert(got2 == want2 && want2 == Seq(3), s"remote $got2, local $want2")
    // IN and OR are pushed now too, and still read the same rows
    val inOr = col("p").isin("""C:\tmp""", "plain") || col("n") === 3
    val pushed = remote("bs_paths").filter(inOr).queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    assert(pushed.contains(" IN (") && pushed.contains(" OR "), pushed)
    val (got3, want3) = both(inOr)
    assert(got3 == want3 && want3 == Seq(1, 3, 4), s"remote $got3, local $want3")
  }

  test("a truncated remote result fails the scan loudly") {
    // a second server whose cap is below the table size: consuming the
    // capped stream would silently mis-count downstream, so the source
    // must refuse it (the server declares x-graft-truncated)
    val engine = new GraftSession(spark, GraftConfig(defensiveLimit = 10000))
    val small = new ApiServer(engine,
      new ApiKeyAuthenticator(Map("k" -> AuthenticatedUser("u",
        permissions = Set("query:execute", "catalog:read")))).apply,
      maxRows = 5)
    val sport = small.start()
    try {
      val df = spark.read.format("graft.sources.arrowhttp.ArrowHttpDataSource")
        .option("url", s"http://localhost:$sport")
        .option("table", "nation").option("authToken", "k").load()
      // collect(), not count(): a count now FEDERATES (the aggregate
      // runs remotely and returns one row, under any cap) — the
      // truncation guard is about pulling capped raw rows
      val e = intercept[Exception] { df.collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("truncated")), messages(e).toString)
      // under the cap the same server serves complete results
      val filtered = spark.read.format("graft.sources.arrowhttp.ArrowHttpDataSource")
        .option("url", s"http://localhost:$sport")
        .option("table", "nation").option("authToken", "k").load()
        .filter(org.apache.spark.sql.functions.col("n_nationkey") < 5)
      assert(filtered.count() == 5)
    } finally small.stop()
  }

  test("LIMIT pushes into the remote SQL, so capped servers stay usable") {
    // a server whose cap is below the table size: a pushed LIMIT keeps
    // the result under the cap, so small queries over large remote
    // tables work — the truncation refusal only fires for full scans
    val engine = new GraftSession(spark, GraftConfig(defensiveLimit = 10000))
    val small = new ApiServer(engine,
      new ApiKeyAuthenticator(Map("k" -> AuthenticatedUser("u",
        permissions = Set("query:execute", "catalog:read")))).apply,
      maxRows = 5)
    val sport = small.start()
    try {
      val df = spark.read.format("graft.sources.arrowhttp.ArrowHttpDataSource")
        .option("url", s"http://localhost:$sport")
        .option("table", "nation").option("authToken", "k").load()
        .limit(3)
      val scanDesc = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(scanDesc.contains("LIMIT 3"), scanDesc)
      assert(df.collect().length == 3)
    } finally small.stop()
  }

  test("unknown table fails with a clear error") {
    val e = intercept[Exception](remote("no_such_table").schema)
    assert(e.getMessage.contains("not found"), e.getMessage)
  }
}
