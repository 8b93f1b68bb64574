package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference,
  Cast, CheckOverflowInSum, EvalMode, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** `CAST(SUM(CAST(x AS DECIMAL(p, s))) AS DOUBLE)` for a DOUBLE `x`,
  * bit-identical to Spark's own formulation (result, nulls and errors)
  * without a `java.math.BigDecimal` per row.
  *
  * Per row, [[FixedPoint.unscaled]] computes the unscaled value of the
  * cast (round-half-up at scale `s`) with a few double operations. It
  * hands four kinds of input to Spark's double→decimal `Cast` itself:
  * values within rounding error of a tie, non-finite values, values whose
  * scaled magnitude reaches 2^52 (this includes every value the cast
  * rejects as out of range), and scales above [[FixedPoint.MaxFastScale]].
  * Which rows go there depends only on the value and the scale.
  *
  * The buffer is a 128-bit two's-complement total (`hi`, `lo`) and a
  * state: 0 = no non-null input, 1 = a total, 2 = overflowed. Like
  * Spark's decimal sum buffer, a total whose magnitude ever reaches
  * 10^min(38, p + 10) overflows for good: the result is then the error
  * Spark's `sum` raises (null when ANSI mode is off). The total becomes
  * a double once per group, through the same `BigDecimal.doubleValue`
  * Spark's decimal→double cast uses.
  */
case class FixedPointSum(child: Expression, spec: FixedPointSpec)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed_point_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fixed_point_sum requires a double input, got ${child.dataType}")

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val state = AttributeReference("state", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, state)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0L), Literal(0L))
  override lazy val updateExpressions: Seq[Expression] =
    (0 to 2).map(w => FixedPointUpdate(hi, lo, state, child, spec, w))
  override lazy val mergeExpressions: Seq[Expression] =
    (0 to 2).map(w => FixedPointMerge(
      Seq(hi.left, lo.left, state.left, hi.right, lo.right, state.right), spec, w))
  override lazy val evaluateExpression: Expression = FixedPointResult(hi, lo, state, spec)

  override protected def withNewChildInternal(newChild: Expression): FixedPointSum =
    copy(child = newChild)
}

/** Precision, scale and eval mode of one [[FixedPointSum]], plus what
  * its rare paths need: Spark's cast and the overflow bound.
  */
case class FixedPointSpec(precision: Int, scale: Int, ansi: Boolean) {
  require(scale >= 0 && scale <= precision && precision <= DecimalType.MAX_PRECISION,
    s"bad decimal($precision, $scale)")
  /** Spark's buffer type for `sum` over DECIMAL(p, s). */
  val resultType: DecimalType =
    DecimalType(math.min(precision + 10, DecimalType.MAX_PRECISION), scale)
  private val bound = BigInteger.TEN.pow(resultType.precision)
  val boundHi: Long = bound.shiftRight(64).longValue
  val boundLo: Long = bound.longValue
  @transient private lazy val cast = Cast(BoundReference(0, DoubleType, nullable = true),
    DecimalType(precision, scale), None, if (ansi) EvalMode.ANSI else EvalMode.LEGACY)

  /** Spark's `CAST(x AS DECIMAL(p, s))`: null, or throws as Spark does. */
  def sparkCast(x: Double): Decimal = cast.eval(InternalRow(x)).asInstanceOf[Decimal]

  /** Spark's `sum` result for an overflowed buffer: throws under ANSI. */
  def overflow(): Any =
    CheckOverflowInSum(Literal(null, resultType), resultType, !ansi, null).eval()
}

object FixedPoint {
  /** Largest scale the fast path takes: 10^s < 2^53 is an exact double. */
  val MaxFastScale = 15
  /** [[unscaled]]'s answer for a value Spark's cast must convert. */
  val Slow: Long = Long.MinValue

  private val Pow10D: Array[Double] = Array.iterate(1.0, MaxFastScale + 1)(_ * 10)
  private val Pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  private val TwoP52 = 4503599627370496.0

  /** Unscaled value of Spark's `CAST(x AS DECIMAL(precision, scale))`,
    * or [[Slow]].
    *
    * Spark converts through the decimal string D of x
    * (`Double.toString`), which lies within ulp(x)/2 of x, and rounds
    * D·10^s half-up. Below 2^52, y = |x|·10^s is within ulp(y)/2 of the
    * exact product and has an exact floor and fraction t, so when t is
    * farther than ulp(y) + ulp(x)·10^s from 1/2, D·10^s and y round to
    * the same integer. Nearer than that is a near-tie and goes to Spark.
    */
  def unscaled(x: Double, precision: Int, scale: Int): Long = {
    if (scale > MaxFastScale) return Slow
    val ax = Math.abs(x)
    val m = Pow10D(scale)
    val y = ax * m
    if (!(y < TwoP52)) return Slow // also NaN and infinities
    val f = Math.floor(y)
    val t = y - f
    if (Math.abs(t - 0.5) <= Math.ulp(y) + Math.ulp(ax) * m) return Slow
    val r = f.toLong + (if (t > 0.5) 1L else 0L)
    if (precision < 16 && r >= Pow10L(precision)) return Slow // out of range
    if (x < 0) -r else r
  }

  /** One word (0 = hi, 1 = lo, 2 = state) of a buffer after adding row `x`. */
  def update(k: FixedPointSpec, hi: Long, lo: Long, st: Long,
             xNull: Boolean, x: Double, word: Int): Long = {
    if (xNull) return pick(hi, lo, st, word)
    val v = unscaled(x, k.precision, k.scale)
    if (v != Slow) return if (st == 2) pick(hi, lo, st, word) else add(k, hi, lo, v >> 63, v, word)
    // Spark casts every row, so a cast error wins even over an overflow.
    val d = k.sparkCast(x)
    if (d == null || st == 2) return pick(hi, lo, st, word) // a null cast is a null row
    val u = d.toJavaBigDecimal.unscaledValue
    add(k, hi, lo, u.shiftRight(64).longValue, u.longValue, word)
  }

  /** One word of the merge of two buffers. */
  def merge(k: FixedPointSpec, hi: Long, lo: Long, st: Long,
            hi2: Long, lo2: Long, st2: Long, word: Int): Long =
    if (st2 == 0 || st == 2) pick(hi, lo, st, word)
    else if (st == 0 || st2 == 2) pick(hi2, lo2, st2, word)
    else add(k, hi, lo, hi2, lo2, word)

  /** The group's double, or null; throws as Spark's `sum` on overflow. */
  def result(k: FixedPointSpec, hi: Long, lo: Long, st: Long): java.lang.Double =
    if (st == 0) null
    else if (st == 2) { k.overflow(); null }
    else if (hi == (lo >> 63)) JBigDecimal.valueOf(lo, k.scale).doubleValue
    else new JBigDecimal(toBigInteger(hi, lo), k.scale).doubleValue

  private def pick(hi: Long, lo: Long, st: Long, word: Int): Long =
    if (word == 0) hi else if (word == 1) lo else st

  /** 128-bit add of (aHi, aLo) to a live total; state 2 when the sum
    * wraps or its magnitude reaches the bound.
    */
  private def add(k: FixedPointSpec, hi: Long, lo: Long,
                  aHi: Long, aLo: Long, word: Int): Long = {
    val rLo = lo + aLo
    val rHi = hi + aHi + (if (java.lang.Long.compareUnsigned(rLo, lo) < 0) 1L else 0L)
    if (word == 1) return rLo
    if (word == 0) return rHi
    val wrapped = ((hi ^ rHi) & (aHi ^ rHi)) < 0
    if (wrapped || atLeastBound(k, rHi, rLo)) 2L else 1L
  }

  private def atLeastBound(k: FixedPointSpec, hi: Long, lo: Long): Boolean = {
    // |(hi, lo)| as an unsigned 128-bit value (mHi, mLo).
    val mHi = if (hi >= 0) hi else ~hi + (if (lo == 0L) 1L else 0L)
    val mLo = if (hi >= 0) lo else -lo
    val c = java.lang.Long.compareUnsigned(mHi, k.boundHi)
    c > 0 || (c == 0 && java.lang.Long.compareUnsigned(mLo, k.boundLo) >= 0)
  }

  private def toBigInteger(hi: Long, lo: Long): BigInteger =
    BigInteger.valueOf(hi).shiftLeft(64).add(new BigInteger(java.lang.Long.toUnsignedString(lo)))

  /** `CAST(SUM(CAST(c AS DECIMAL(precision, scale))) AS DOUBLE)` over a
    * DOUBLE column, through [[FixedPointSum]].
    */
  def exactSum(c: Column, precision: Int, scale: Int): Column =
    ColumnShim.column(FixedPointSum(ColumnShim.expression(c),
      FixedPointSpec(precision, scale, SQLConf.get.ansiEnabled)).toAggregateExpression())
}

/** Update expression of [[FixedPointSum]]: one buffer word after a row. */
case class FixedPointUpdate(hi: Expression, lo: Expression, state: Expression,
                            input: Expression, spec: FixedPointSpec, word: Int)
    extends Expression {
  override def children: Seq[Expression] = Seq(hi, lo, state, input)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def eval(row: InternalRow): Any = {
    val x = input.eval(row)
    FixedPoint.update(spec, hi.eval(row).asInstanceOf[Long], lo.eval(row).asInstanceOf[Long],
      state.eval(row).asInstanceOf[Long], x == null,
      if (x == null) 0.0 else x.asInstanceOf[Double], word)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("fixedPointSpec", spec)
    val Seq(h, l, s, x) = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${s.code}
      ${x.code}
      long ${ev.value} = graft.functions.FixedPoint.update($k, ${h.value}, ${l.value},
        ${s.value}, ${x.isNull}, ${x.value}, $word);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FixedPointUpdate =
    copy(hi = c(0), lo = c(1), state = c(2), input = c(3))
}

/** Merge expression of [[FixedPointSum]]: one word of two merged
  * buffers, given (hi, lo, state) of the left then the right buffer.
  */
case class FixedPointMerge(children: Seq[Expression], spec: FixedPointSpec, word: Int)
    extends Expression {
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def eval(row: InternalRow): Any = {
    val v = children.map(_.eval(row).asInstanceOf[Long])
    FixedPoint.merge(spec, v(0), v(1), v(2), v(3), v(4), v(5), word)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("fixedPointSpec", spec)
    val cs = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      ${cs.map(_.code).mkString("\n")}
      long ${ev.value} = graft.functions.FixedPoint.merge($k,
        ${cs.map(_.value).mkString(", ")}, $word);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FixedPointMerge = copy(children = c)
}

/** Evaluate expression of [[FixedPointSum]]: the group's double. */
case class FixedPointResult(hi: Expression, lo: Expression, state: Expression,
                            spec: FixedPointSpec) extends Expression {
  override def children: Seq[Expression] = Seq(hi, lo, state)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def eval(row: InternalRow): Any =
    FixedPoint.result(spec, hi.eval(row).asInstanceOf[Long], lo.eval(row).asInstanceOf[Long],
      state.eval(row).asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("fixedPointSpec", spec)
    val Seq(h, l, s) = children.map(_.genCode(ctx))
    val boxed = ctx.freshName("sum")
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${s.code}
      java.lang.Double $boxed = graft.functions.FixedPoint.result($k, ${h.value},
        ${l.value}, ${s.value});
      boolean ${ev.isNull} = $boxed == null;
      double ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();""")
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FixedPointResult =
    copy(hi = c(0), lo = c(1), state = c(2))
}
