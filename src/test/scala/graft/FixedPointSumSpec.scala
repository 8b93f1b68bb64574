package graft

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.FixedPoint
import graft.operators.Analytics

/** `exactSum`/`exactAvg` run the fixed-point kernel; every result, null
  * and error must equal Spark's decimal formulation
  * `CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)` bit for bit.
  */
class FixedPointSumSpec extends SparkSpec {

  private val ties = Seq(0.125, 1.005, 2.675, 0.5, 2.5, 1.0000005, 1234.565)
  private val special = ties ++ ties.map(-_) ++ Seq(0.0, -0.0, 1e-300, -1e-300,
    Double.MinPositiveValue, 9.007199254740993e15, 4.503599627370497e13, 1e17, -3.3e18,
    123456789.123456789, 0.1, 0.7, 1e15 + 0.5)

  /** Random doubles that favour the hard cases: ties at every scale,
    * values with few decimals, values near 2^53/10^s, wide magnitudes.
    */
  private def values(rng: Random, n: Int): Seq[Double] = Seq.fill(n) {
    val sign = if (rng.nextBoolean()) 1.0 else -1.0
    sign * (rng.nextInt(6) match {
      case 0 => (BigDecimal(rng.nextInt(1000000)) / BigDecimal(10).pow(rng.nextInt(8))
        + BigDecimal(5) / BigDecimal(10).pow(rng.nextInt(8) + 1)).toDouble
      case 1 => BigDecimal(rng.nextLong() % 10000000000L, rng.nextInt(5)).toDouble
      case 2 => math.pow(2, 53) / math.pow(10, rng.nextInt(7)) * (0.5 + rng.nextDouble())
      case 3 => java.lang.Double.longBitsToDouble(rng.nextLong() & 0x7fefffffffffffffL)
        .max(0.0).min(1e20)
      case 4 => rng.nextDouble() * math.pow(10, rng.nextInt(16) - 4)
      case _ => special(rng.nextInt(special.length)).abs
    })
  }

  private def reference(x: Double, scale: Int): BigInt =
    BigInt(BigDecimal.decimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.unscaledValue)

  test("unscaled equals the half-up decimal of the double, or defers to Spark") {
    val rng = new Random(7)
    var fast = 0
    var total = 0
    for (scale <- 0 to 18; x <- values(rng, 20000) ++ special) {
      val v = FixedPoint.unscaled(x, 38, scale)
      total += 1
      if (v != FixedPoint.Slow) {
        fast += 1
        assert(BigInt(v) == reference(x, scale), s"x=$x scale=$scale")
      }
    }
    assert(fast > total / 3, s"fast path took $fast of $total")
    // Ties of the decimal string are never decided by the fast path.
    for (x <- Seq(0.125, 1.005, 2.675, -0.125, -1.005, -2.675))
      assert(FixedPoint.unscaled(x, 30, 2) == FixedPoint.Slow, s"x=$x")
    assert(FixedPoint.unscaled(1000.0, 5, 2) == FixedPoint.Slow)
    assert(FixedPoint.unscaled(999.99, 5, 2) == 99999L)
    // Ordinary two-decimal prices take the fast path.
    assert(Seq.tabulate(10000)(i => i * 1.37 + 0.01).forall(
      x => FixedPoint.unscaled(BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, 30, 2) != FixedPoint.Slow))
  }

  private def frame(xs: Seq[Option[Double]], groups: Int, parts: Int): DataFrame = {
    val rows = xs.zipWithIndex.map { case (x, i) => Row(i % groups, x.map(Double.box).orNull) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("g", IntegerType), StructField("x", DoubleType))))
      .repartition(parts)
  }

  private def decimalSum(c: Column, p: Int, s: Int): Column =
    sum(c.cast(DecimalType(p, s))).cast(DoubleType)

  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }).sortBy(_.head.toString)

  /** Grouped and global results of both formulations, bit for bit. */
  private def assertSame(df: DataFrame, p: Int, s: Int): Unit = {
    val n = count(lit(1))
    val ours = df.groupBy("g").agg(Analytics.exactSum(col("x"), p, s),
      Analytics.exactAvg(col("x"), p, s))
    val spark_ = df.groupBy("g").agg(decimalSum(col("x"), p, s), decimalSum(col("x"), p, s) / n)
    assert(bits(ours.collect()) == bits(spark_.collect()), s"grouped, decimal($p,$s)")
    val g1 = df.agg(Analytics.exactSum(col("x"), p, s), Analytics.exactAvg(col("x"), p, s))
    val g2 = df.agg(decimalSum(col("x"), p, s), decimalSum(col("x"), p, s) / n)
    assert(bits(g1.collect()) == bits(g2.collect()), s"global, decimal($p,$s)")
  }

  test("results equal the decimal formulation at scales 0-6 and 18") {
    val rng = new Random(11)
    for (s <- (0 to 6) :+ 18) {
      val xs = (values(rng, 3000) ++ special).filter(_.abs < math.pow(10, 30 - s))
        .map(Some(_)) ++ Seq.fill(50)(None)
      assertSame(frame(rng.shuffle(xs), 7, 3), 38, s)
      assertSame(frame(xs, 3, 1), 30, s)
      // One row per group: a row's error cannot hide behind another's.
      val single = (special ++ values(rng, 400)).filter(_.abs < math.pow(10, 30 - s))
      assertSame(frame(single.map(Some(_)), single.size, 2), 30, s)
    }
  }

  test("nulls, all-null groups and empty input") {
    val xs = Seq(Some(1.5), None, Some(-0.0), None, None, Some(2.675))
    assertSame(frame(xs, 3, 2), 30, 2) // group 2 holds only nulls
    assertSame(frame(Seq(None, None), 1, 1), 30, 2)
    assertSame(frame(Nil, 1, 1), 30, 2)
    val r = frame(Seq(None, None), 1, 1).agg(Analytics.exactSum(col("x"), 30, 2)).head()
    assert(r.isNullAt(0))
  }

  test("a total past Long.MaxValue stays exact") {
    // 2000 rows of 9.9e13 at scale 6: the unscaled total is ~2e23.
    val xs = Seq.fill(2000)(Some(98765432109876.54)) ++ Seq(Some(0.125), Some(-1.005))
    assertSame(frame(xs, 2, 4), 30, 6)
    val total = frame(xs, 1, 4).agg(Analytics.exactSum(col("x"), 30, 6)).head().getDouble(0)
    assert(total > Long.MaxValue.toDouble / 1e6 * 10)
  }

  /** A result's bits, or the first Spark error in the chain: its
    * condition and parameters.
    */
  private def outcome(df: DataFrame): Either[(String, java.util.Map[String, String]), Seq[Seq[Any]]] =
    try Right(bits(df.collect()))
    catch { case e: Throwable =>
      Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: SparkThrowable => (t.getCondition, t.getMessageParameters)
      }.getOrElse(fail(s"no Spark error in $e")))
    }

  test("NaN, infinities and out-of-range values behave as the decimal cast does") {
    for ((bad, p, s) <- Seq((Double.NaN, 30, 2), (Double.PositiveInfinity, 30, 2),
        (Double.NegativeInfinity, 30, 2), (1e28, 30, 2), (-1e28, 30, 2), (1000.0, 5, 2),
        (99999.995, 7, 2), (1e20, 38, 18))) {
      val df = frame(Seq(Some(1.0), Some(bad), Some(2.0)), 1, 1)
      val ours = outcome(df.groupBy("g").agg(Analytics.exactSum(col("x"), p, s)))
      val theirs = outcome(df.groupBy("g").agg(decimalSum(col("x"), p, s)))
      assert(ours == theirs, s"x=$bad decimal($p,$s)")
      // Spark casts NaN and infinities to null, even under ANSI; a finite
      // value out of range raises.
      assert(ours.isLeft == !(bad.isNaN || bad.isInfinite), s"x=$bad decimal($p,$s)")
    }
  }

  test("a total past the result precision raises the sum's error, or is null") {
    // DECIMAL(38,18) rows of 9.9e19: two of them pass 10^38 unscaled and
    // wrap a signed 128-bit total.
    val df = frame(Seq.fill(3)(Some(9.9e19)), 1, 1)
    val ours = outcome(df.groupBy("g").agg(Analytics.exactSum(col("x"), 38, 18)))
    val theirs = outcome(df.groupBy("g").agg(decimalSum(col("x"), 38, 18)))
    assert(ours.isLeft && ours == theirs)
    // A row the cast rejects still raises the cast's error after overflow.
    val late = frame(Seq(Some(9.9e19), Some(9.9e19), Some(1e20)), 1, 1)
    assert(outcome(late.groupBy("g").agg(Analytics.exactSum(col("x"), 38, 18))) ==
      outcome(late.groupBy("g").agg(decimalSum(col("x"), 38, 18))))
    val key = "spark.sql.ansi.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      assertSame(df, 38, 18)
      assertSame(frame(Seq(Some(Double.NaN), Some(1.0), Some(1e28)), 1, 1), 30, 2)
      assert(df.agg(Analytics.exactSum(col("x"), 38, 18)).head().isNullAt(0))
    } finally spark.conf.set(key, was)
  }

  test("the aggregate runs in generated code") {
    val df = frame(Seq(Some(1.0)), 1, 1).groupBy("g").agg(Analytics.exactSum(col("x"), 30, 2))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("fixed_point_sum"), plan)
  }
}
