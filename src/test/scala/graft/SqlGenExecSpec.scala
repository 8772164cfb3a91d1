package graft

import graft.sql._
import java.nio.file.Files
import java.sql.DriverManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Live differential proof of the SQL generator: the same logical plan is
  * (a) executed by Spark and (b) unparsed to dialect SQL and executed by a
  * real remote engine (in-tree Derby — the one JDBC engine available
  * offline); the row sets must match. This is the step beyond the
  * reference's exact-string tests (crates/sql/tests): generated SQL that
  * actually RUNS on the target proves quoting, aliasing, and clause
  * placement, not just expected text. */
class SqlGenExecSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private var url: String = _

  override def beforeAll(): Unit = {
    val dir = Files.createTempDirectory("graft-sqlgen-derby").toString
    url = s"jdbc:derby:$dir/db;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE "sqlexec_users" (
      |  "id" INT NOT NULL, "name" VARCHAR(64), "score" DOUBLE)""".stripMargin)
    st.execute("""CREATE TABLE "sqlexec_orders" (
      |  "order_id" INT NOT NULL, "user_id" INT, "amount" DOUBLE)""".stripMargin)
    val users = Seq((1, "ann", 7.5), (2, "bob", 3.0), (3, "cyd", 9.25),
      (4, "dee", 3.0), (5, "eve", 1.0))
    val orders = Seq((10, 1, 50.0), (11, 1, 70.0), (12, 2, 20.0),
      (13, 3, 10.0), (14, 3, 90.0), (15, 5, 30.0))
    users.foreach { case (i, n, s0) =>
      st.execute(s"""INSERT INTO "sqlexec_users" VALUES ($i, '$n', $s0)""") }
    orders.foreach { case (o, u, a) =>
      st.execute(s"""INSERT INTO "sqlexec_orders" VALUES ($o, $u, $a)""") }
    st.close(); conn.close()

    import spark.implicits._
    users.toDF("id", "name", "score").createOrReplaceTempView("sqlexec_users")
    orders.toDF("order_id", "user_id", "amount")
      .createOrReplaceTempView("sqlexec_orders")
  }

  private def derbyRows(sql: String): Seq[Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[Seq[Any]]
      while (rs.next()) out += (1 to n).map { i =>
        rs.getObject(i) match {
          case null => null
          case x: java.lang.Number => BigDecimal(x.doubleValue).setScale(6,
            BigDecimal.RoundingMode.HALF_UP)
          case x => x.toString
        }
      }
      out.result()
    } finally conn.close()
  }

  private def sparkRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case null => null
      case x: java.lang.Number => BigDecimal(x.doubleValue).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)
      case x => x.toString
    })

  /** Generate Derby SQL from the plan, run BOTH sides, compare row sets
    * (order-insensitive unless `ordered`). */
  private def check(df: DataFrame, ordered: Boolean = false): String = {
    val sql = GraftSqlGen.forDataFrame(df, "derby").get
    val remote = derbyRows(sql)
    val local = sparkRows(df)
    def norm(rs: Seq[Seq[Any]]) =
      if (ordered) rs else rs.sortBy(_.mkString("|"))
    assert(norm(remote) == norm(local),
      s"MISMATCH for generated SQL:\n$sql\nremote=$remote\nlocal=$local")
    sql
  }

  private def users = spark.table("sqlexec_users")
  private def orders = spark.table("sqlexec_orders")

  test("exec: plain scan") {
    val sql = check(users)
    assert(sql.contains("\"sqlexec_users\" AS \"rel_0\""))
  }

  test("exec: projection + compound filter") {
    check(users.filter(col("score") > 2.0 && col("name") =!= "bob")
      .select(col("id"), col("name")))
  }

  test("exec: inner join with aggregation and HAVING") {
    val df = users.join(orders, col("id") === col("user_id"))
      .groupBy(col("name")).agg(sum(col("amount")).as("total"))
      .filter(col("total") > 25.0)
    val sql = check(df)
    assert(sql.contains("INNER JOIN") && sql.contains("GROUP BY") &&
      sql.contains("HAVING"), sql)
  }

  test("exec: left outer join preserves unmatched rows") {
    check(users.join(orders, col("id") === col("user_id"), "left")
      .select(col("id"), col("order_id")))
  }

  test("exec: sort with nulls ordering, limit and offset use FETCH syntax") {
    val df = users.orderBy(col("score").desc_nulls_last, col("id"))
      .limit(3).offset(1)
    val sql = check(df, ordered = true)
    assert(sql.contains("OFFSET 1 ROWS"), sql)
    // Spark's take-3-then-skip-1 folds to OFFSET 1 FETCH NEXT 2, keeping
    // the governing ORDER BY in the same block
    assert(sql.contains("FETCH NEXT 2 ROWS ONLY"), sql)
    assert(!sql.contains("LIMIT"), sql)
  }

  test("exec: distinct") {
    check(users.select(col("score")).distinct())
  }

  test("exec: union all across derived selects") {
    check(users.select(col("id")).union(orders.select(col("user_id"))))
  }

  test("exec: CASE WHEN and arithmetic expressions") {
    check(users.select(col("id"),
      when(col("score") >= 7.0, lit("high"))
        .when(col("score") >= 3.0, lit("mid"))
        .otherwise(lit("low")).as("band"),
      (col("score") * 2 + 1).as("adj")))
  }

  test("exec: scalar functions route through the default renderer") {
    check(users.select(upper(col("name")).as("u"),
      length(col("name")).as("n")))
  }

  test("exec: derived-table nesting (aggregate of a filtered subquery)") {
    val df = users.filter(col("score") > 1.0).alias("f")
      .groupBy().agg(count(lit(1)).as("n"), avg(col("score")).as("avg_score"))
    check(df)
  }

  test("exec: set-op branch with ORDER BY+LIMIT runs on Derby") {
    check(users.select(col("id")).orderBy(col("id").desc).limit(2)
      .union(orders.select(col("user_id"))))
  }

  test("exec: LIKE with escaped wildcard matches literally on Derby") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "sqlexec_notes" ("id" INT, "note" VARCHAR(64))""")
      st.execute("""INSERT INTO "sqlexec_notes" VALUES (1, '50% off sale')""")
      st.execute("""INSERT INTO "sqlexec_notes" VALUES (2, '50 units left')""")
      st.close()
    } finally conn.close()
    import spark.implicits._
    Seq((1, "50% off sale"), (2, "50 units left")).toDF("id", "note")
      .createOrReplaceTempView("sqlexec_notes")
    // without the ESCAPE clause Derby treats the backslash literally and
    // finds nothing; with it, exactly the row containing '50%' matches
    check(spark.table("sqlexec_notes").filter(col("note").contains("50%")))
  }

  private lazy val nullsFixture: Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "sqlexec_nulls" ("id" INT, "a" VARCHAR(8), "b" VARCHAR(8))""")
      st.execute("""INSERT INTO "sqlexec_nulls" VALUES (1, 'x', 'x')""")
      st.execute("""INSERT INTO "sqlexec_nulls" VALUES (2, 'x', NULL)""")
      st.execute("""INSERT INTO "sqlexec_nulls" VALUES (3, NULL, NULL)""")
      st.close()
    } finally conn.close()
    import spark.implicits._
    Seq((1, Some("x"), Some("x")), (2, Some("x"), None),
      (3, None, None)).toDF("id", "a", "b")
      .createOrReplaceTempView("sqlexec_nulls")
  }

  test("exec: null-safe equality matches Spark's <=> on Derby") {
    nullsFixture
    // rows 1 (equal) and 3 (both null) match; row 2 does not
    check(spark.table("sqlexec_nulls").filter(col("a") <=> col("b"))
      .select(col("id")))
  }

  test("exec: NEGATED null-safe equality matches Spark on Derby") {
    nullsFixture
    // the rewrite must be total (never NULL): NOT over a NULL-yielding
    // form silently dropped one-sided-null rows
    check(spark.table("sqlexec_nulls").filter(!(col("a") <=> col("b")))
      .select(col("id")))
  }

  test("exec: join/aggregate differential fuzz — 30 generated plans match Derby") {
    val rnd = new scala.util.Random(42424242)
    val aggFns = Seq[(org.apache.spark.sql.Column => org.apache.spark.sql.Column, String)](
      (c => sum(c), "s"), (c => count(c), "c"), (c => min(c), "mn"),
      (c => max(c), "mx"), (c => avg(c), "av"))
    (1 to 30).foreach { i =>
      val joined = rnd.nextInt(3) match {
        case 0 => users.join(orders, col("id") === col("user_id"))
        case 1 => users.join(orders, col("id") === col("user_id"), "left")
        case _ => users
      }
      val filtered =
        if (rnd.nextBoolean()) joined.filter(col("score") > rnd.nextInt(8)) else joined
      val hasAmount = filtered.columns.contains("amount")
      val aggCol = if (hasAmount && rnd.nextBoolean()) col("amount") else col("score")
      val shaped =
        if (rnd.nextBoolean()) {
          val (fn, nm) = aggFns(rnd.nextInt(aggFns.length))
          val agged = filtered.groupBy(col("name")).agg(fn(aggCol).as(nm))
          if (rnd.nextBoolean()) agged.filter(col(nm).isNotNull) else agged
        } else filtered.select(col("id"), col("name"))
      withClue(s"join/agg fuzz case $i: ") { check(shaped) }
    }
  }

  test("exec: randomized differential fuzz — 40 generated plans match Derby") {
    val rnd = new scala.util.Random(20260812)
    val numCols = Seq("id", "score")
    val cmps = Seq[(org.apache.spark.sql.Column, Double) => org.apache.spark.sql.Column](
      (c, v) => c > v, (c, v) => c >= v, (c, v) => c < v,
      (c, v) => c <= v, (c, v) => c === v, (c, v) => c =!= v)
    def leaf(): org.apache.spark.sql.Column = {
      val c = col(numCols(rnd.nextInt(numCols.length)))
      val v = BigDecimal(rnd.nextDouble() * 10).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      cmps(rnd.nextInt(cmps.length))(c, v)
    }
    def pred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextBoolean()) leaf()
      else if (rnd.nextBoolean()) pred(depth - 1) && pred(depth - 1)
      else pred(depth - 1) || pred(depth - 1)
    (1 to 40).foreach { i =>
      val base = users.filter(pred(2))
      val projected =
        if (rnd.nextBoolean()) base.select(col("id"), col("name"))
        else base
      val shaped =
        if (rnd.nextBoolean())
          projected.orderBy(col("id")).limit(1 + rnd.nextInt(5))
        else projected
      val ordered = shaped.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.GlobalLimit]
      withClue(s"fuzz case $i: ") { check(shaped, ordered = ordered) }
    }
  }
}
