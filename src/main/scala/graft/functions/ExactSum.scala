package graft.functions

import java.math.BigInteger
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact sum of a LONG column into a DECIMAL(38,0), on two primitive longs.
  *
  * Spark's own `sum` over a decimal input keeps a `Decimal` buffer, and any
  * buffer wider than 18 digits is a `java.math.BigDecimal`: one object
  * allocation and one arbitrary-precision add per row. This aggregate keeps
  * the running total as a 128-bit two's-complement integer in the buffer
  * `(hi, lo, seen)`, so the per-row work is three long adds and one compare:
  *
  *  - update adds the sign-extended input to `lo` with wrapping and detects
  *    the carry out of `lo` by unsigned compare
  *    (`(newLo ^ MIN) < (lo ^ MIN)`); `hi` takes the sign word plus the
  *    carry with an ANSI add, so a total outside the 128-bit range throws
  *    whatever `spark.sql.ansi.enabled` says;
  *  - merge does the same with two words;
  *  - the result is the DECIMAL(38,0) value of `(hi, lo)`, NULL when no
  *    input was non-null, and an error (never a wrap or a NULL) when the
  *    total needs more than 38 digits.
  *
  * The buffer holds only fixed-width fields, so it stays inside the
  * UnsafeRow and the fast hash-aggregate map.
  */
final case class ExactSum(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = ExactSum.ResultType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sum_exact needs a BIGINT input, not ${child.dataType.simpleString}")
  override def prettyName: String = "sum_exact"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private val wrap = NumericEvalContext(EvalMode.LEGACY)
  private val checked = NumericEvalContext(EvalMode.ANSI)
  private val minLong = Literal(Long.MinValue)

  /** 1 when `sum = a + b` (mod 2^64) carried out of the low word, else 0. */
  private def carry(sum: Expression, a: Expression): Expression =
    If(LessThan(BitwiseXor(sum, minLong), BitwiseXor(a, minLong)), Literal(1L), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    // a null input adds zero: the total is unchanged and `seen` stays as is
    val v = if (child.nullable) Coalesce(Seq(child, Literal(0L))) else child
    val newLo = Add(lo, v, wrap)
    Seq(
      Add(hi, Add(ShiftRight(v, Literal(63)), carry(newLo, lo), wrap), checked),
      newLo,
      if (child.nullable) Or(seen, IsNotNull(child)) else Literal(true))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = Add(lo.left, lo.right, wrap)
    // the carry goes to the smaller word first: a negative word plus one
    // cannot overflow, and when both are non-negative the smaller plus one
    // overflows only if the total does, so each ANSI add throws exactly
    // when the 128-bit sum is out of range
    Seq(
      Add(Add(Least(Seq(hi.left, hi.right)), carry(newLo, lo.left), checked),
        Greatest(Seq(hi.left, hi.right)), checked),
      newLo,
      Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen, ExactSumValue(hi, lo), Literal(null, dataType))

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}

object ExactSum {
  val ResultType: DecimalType = DecimalType(38, 0)

  private val Low64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)
  private val Limit = BigInteger.TEN.pow(38)

  /** The DECIMAL(38,0) value of the 128-bit integer `hi·2^64 + unsigned(lo)`;
    * throws when it needs more than 38 digits. */
  def toDecimal(hi: Long, lo: Long): Decimal =
    if ((hi == 0L && lo >= 0L) || (hi == -1L && lo < 0L)) Decimal(lo, 38, 0)
    else {
      val v = BigInteger.valueOf(hi).shiftLeft(64).or(BigInteger.valueOf(lo).and(Low64))
      if (v.abs.compareTo(Limit) >= 0)
        throw new ArithmeticException(s"sum_exact overflow: $v does not fit DECIMAL(38,0)")
      Decimal(new java.math.BigDecimal(v), 38, 0)
    }
}

/** The final step of [[ExactSum]]: `(hi, lo)` as a DECIMAL(38,0). */
final case class ExactSumValue(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ExactSum.ResultType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    ExactSum.toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) => s"${classOf[ExactSum].getName}.toDecimal($h, $l)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactSumValue =
    copy(left = newLeft, right = newRight)
}
