package graft

import graft.functions.{ExactSum, ExactSumValue}
import graft.util.Exact
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-long exact-sum kernel behind `Exact.dsum`: carries across the
  * low word in update and merge, signs, NULL on no input, loud overflow in
  * every ANSI mode, codegen parity and equality with BigDecimal. */
class ExactSumSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def exactSum(c: Column): Column =
    GraftColumnBridge.column(ExactSum(GraftColumnBridge.expression(c)).toAggregateExpression())

  private def big(xs: Seq[Long]): java.math.BigDecimal =
    new java.math.BigDecimal(xs.map(BigInt(_)).sum.bigInteger)

  /** The sum of `xs` spread over `parts` partitions (each partition's
    * partial is merged into the total). */
  private def total(xs: Seq[Long], parts: Int): java.math.BigDecimal =
    xs.toDF("v").repartition(parts).agg(exactSum(col("v"))).head().getDecimal(0)

  test("a carry across 2^64 in update and in merge") {
    val xs = Seq.fill(6)(Long.MaxValue)
    // one partition: every carry happens in update
    assert(total(xs, 1) == big(xs))
    // one row per partition: each partial is below 2^63, so the carries
    // happen in merge
    assert(total(xs, 6) == big(xs))
    assert(big(xs).compareTo(new java.math.BigDecimal(BigInt(2).pow(64).bigInteger)) > 0)
  }

  test("negative values, alone and mixed with positives") {
    val neg = Seq.fill(5)(Long.MinValue) :+ -1L
    assert(total(neg, 1) == big(neg))
    assert(total(neg, 3) == big(neg))
    val mixed = Seq(Long.MinValue, Long.MaxValue, Long.MinValue, 7L, -3L, Long.MaxValue)
    Seq(1, 2, 6).foreach(p => assert(total(mixed, p) == big(mixed), s"$p partitions"))
  }

  test("all-null groups and empty input give NULL") {
    val df = Seq(("a", Some(1L)), ("a", None), ("b", None), ("b", None))
      .toDF("k", "v")
    val byKey = df.groupBy("k").agg(exactSum(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> Option(r.getDecimal(1))).toMap
    assert(byKey("a").contains(java.math.BigDecimal.ONE))
    assert(byKey("b").isEmpty)
    assert(df.filter(lit(false)).agg(exactSum(col("v"))).head().isNullAt(0))
    assert(df.filter(lit(false)).agg(Exact.dsum(col("v").cast("double"))).head().isNullAt(0))
  }

  /** Evaluates `e` in a one-row query, so it runs through the session's
    * code generation. */
  private def eval(e: Expression): Any =
    spark.range(1).select(GraftColumnBridge.column(e)).head().get(0)

  /** Buffer words substituted for the aggregate's attributes. */
  private def bound(agg: ExactSum, exprs: Seq[Expression],
      words: Seq[Any]): Seq[Expression] = {
    val attrs = agg.aggBufferAttributes ++ agg.inputAggBufferAttributes
    val bind = attrs.zip(words.map(Literal(_))).toMap[Expression, Expression]
    exprs.map(_.transform { case a: AttributeReference if bind.contains(a) => bind(a) })
  }

  test("overflow raises with ANSI on and off, in update, merge and result") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      def raises(e: Expression): Unit = {
        val ex = intercept[Exception](eval(e))
        val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => Option(t.getMessage).exists(_.toLowerCase.contains("overflow"))),
          s"ansi=$ansi: $ex")
      }
      // update: the 128-bit maximum plus one
      val up = ExactSum(Literal(1L))
      raises(bound(up, up.updateExpressions, Seq(Long.MaxValue, -1L, true)).head)
      // merge: two halves of 2^127
      val m = ExactSum(Literal(0L))
      raises(bound(m, m.mergeExpressions,
        Seq(1L << 62, 0L, true, 1L << 62, 0L, true)).head)
      // a merge that carries onto exactly the 128-bit minimum is in range
      assert(eval(bound(m, m.mergeExpressions,
        Seq(Long.MinValue, -1L, true, -1L, 1L, true)).head) == Long.MinValue)
      // result: 10^38 does not fit DECIMAL(38,0)
      val ten38 = BigInt(10).pow(38)
      raises(ExactSumValue(Literal((ten38 >> 64).toLong), Literal(ten38.toLong)))
      val max38 = ten38 - 1
      assert(eval(ExactSumValue(Literal((max38 >> 64).toLong), Literal(max38.toLong)))
        .asInstanceOf[java.math.BigDecimal].toBigInteger == max38.bigInteger)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  /** Money-like doubles (two decimals, |v| < 1.8e9, so each scales to an
    * exact long) in three groups of 40,000 rows with some nulls: enough
    * that the group totals cross 2^64 scaled units. */
  private def money(seed: Long): DataFrame = {
    val rows = spark.range(0, 120000, 1, 4).select(
      (col("id") % 3).cast("int").as("g"),
      when(col("id") % 37 =!= 0,
        round(rand(seed) * 2e11 - 2e10) / 100.0).as("v"))
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    rows.toSeq.toDF("g", "v")
  }

  private def byGroup(df: DataFrame): Map[Int, java.math.BigDecimal] =
    df.groupBy("g").agg(exactSum(Exact.scaled(col("v"))).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap

  test("codegen and NO_CODEGEN agree") {
    val df = money(3)
    val on = byGroup(df)
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(byGroup(df) == on)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("equals a BigDecimal reference on money-like data at 1, 3 and 8 partitions") {
    val df = money(11)
    val want = df.collect().groupBy(_.getInt(0)).map { case (g, rs) =>
      g -> rs.filterNot(_.isNullAt(1)).map(r =>
        BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .underlying.unscaledValue).foldLeft(java.math.BigInteger.ZERO)(_ add _)
    }
    assert(want.values.exists(_.abs.bitLength > 64), "no group crosses 2^64")
    Seq(1, 3, 8).foreach { p =>
      val got = byGroup(df.repartition(p))
      assert(got.map { case (g, d) => g -> d.toBigIntegerExact } == want, s"$p partitions")
      // and the double dsum is the reference total, unscaled once
      val dsum = df.repartition(p).groupBy("g").agg(Exact.dsum(col("v")).as("d"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(dsum == want.map { case (g, b) =>
        g -> new java.math.BigDecimal(b, 6).doubleValue }, s"$p partitions")
    }
  }
}
