package graft

import graft.functions.{ScaledDoubleCast, ScaledSum, ScaledToLong}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The scaled-long decimal kernel (graft.functions.ScaledLong, rewritten
  * in by graft.plans.ScaledDecimalRewrite) must be bit-identical to
  * Spark: every value, every null, every ANSI error class. Each check
  * runs the same input through Spark's own expressions (interpreted, or
  * the query with the rule excluded) and through the kernel (its
  * interpreted eval, and whole-stage codegen with codegen fallback off
  * so a compile error fails the test instead of hiding). */
class ScaledDecimalSpec extends AnyFunSuite {

  private val Rule = "graft.plans.ScaledDecimalRewrite"

  /** A child session: ANSI on or off, codegen fallback off. */
  private def session(ansi: Boolean): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", ansi.toString)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  private def withoutRule[T](s: SparkSession)(body: => T): T = {
    s.conf.set("spark.sql.optimizer.excludedRules", Rule)
    try body finally s.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** The error condition of a failure (first SparkThrowable in the
    * cause chain), or the value. */
  private def outcome[T](body: => T): Either[String, T] =
    try Right(body) catch {
      case e: Throwable =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
          .getOrElse(e.getClass.getName))
    }

  /** Every (precision, scale) the gates cast doubles to, plus the edges. */
  private val types = Seq((18, 2), (18, 0), (18, 6), (10, 2), (9, 2), (12, 4), (5, 2), (18, 18), (1, 0))

  private val adversarial: Seq[Double] = {
    val ties = Seq(0.005, 0.015, 0.125, 0.375, 1.005, 1.115, 2.675, 8.345, 1.0005, 0.5, 2.5, 1234.565)
    val limits = for {
      (p, s) <- types
      base <- Seq(math.pow(2, 40) / math.pow(10, s), math.pow(10, p - s))
      f <- Seq(-2, -1, 0, 1, 2)
    } yield {
      var x = base
      if (f > 0) (1 to f).foreach(_ => x = math.nextUp(x))
      if (f < 0) (1 to -f).foreach(_ => x = math.nextDown(x))
      x
    }
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, 1e-310, java.lang.Double.MIN_NORMAL, Double.MaxValue,
      Long.MaxValue.toDouble, 9.999999999999999e15, 99999999.995, 99999999.994999, 999.995,
      1.23456789, 0.1 + 0.2, 1e-3, 123456789.123456789, 4.35, 4.345)
    val all = ties ++ limits ++ specials
    all ++ all.map(-_)
  }

  private val generated: Seq[Double] = {
    val r = new scala.util.Random(20261017L)
    Seq.fill(3000) {
      r.nextInt(4) match {
        case 0 => math.round(r.nextDouble() * 1e7) / 100.0 // 2-dp money
        case 1 => (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(24) - 6)
        case 2 => (math.round(r.nextDouble() * 1e6) + 0.5) / 1000.0 // ties at 3 dp
        case _ => java.lang.Double.longBitsToDouble(r.nextLong())
      }
    }
  }

  private val doubles = adversarial ++ generated

  test("double → DECIMAL(p, s) interpreted: value, null and error class equal Spark's Cast") {
    for ((p, s) <- types; mode <- Seq(EvalMode.LEGACY, EvalMode.ANSI, EvalMode.TRY); d <- doubles) {
      val cast = Cast(BoundReference(0, DoubleType, nullable = true), DecimalType(p, s),
        Some("UTC"), mode)
      val spark = outcome(Cast(Literal(d), DecimalType(p, s), Some("UTC"), mode).eval())
      val dec = outcome(ScaledDoubleCast(Literal(d), cast, unscaled = false).eval())
      val unscaled = outcome(ScaledDoubleCast(Literal(d), cast, unscaled = true).eval())
      assert(dec == spark, s"decimal($p,$s) $mode d=$d")
      assert(unscaled == spark.map(v => if (v == null) null else v.asInstanceOf[Decimal].toUnscaledLong),
        s"unscaled decimal($p,$s) $mode d=$d")
    }
  }

  private def doublesDf(s: SparkSession, xs: Seq[Double]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(xs.zipWithIndex.map { case (d, i) => Row(i, d) }: _*),
      StructType(Seq(StructField("i", IntegerType), StructField("d", DoubleType)))).repartition(3)

  /** Rows of `q` with and without the rule, sorted. */
  private def both(s: SparkSession, q: => DataFrame): (Seq[String], Seq[String]) = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val fast = rows(q)
    (fast, withoutRule(s)(rows(q)))
  }

  test("double → DECIMAL(p, s) codegen (LEGACY): casts and cents equal Spark's row for row") {
    val s = session(ansi = false)
    val df = doublesDf(s, doubles)
    val cols = types.flatMap { case (p, sc) =>
      Seq(col("d").cast(DecimalType(p, sc)).as(s"c_${p}_$sc"),
        (col("d").cast(DecimalType(p, sc)) * 100).cast("long").as(s"cents_${p}_$sc"),
        (lit(BigDecimal(1)) - col("d").cast(DecimalType(p, sc))).as(s"one_minus_${p}_$sc"))
    }
    val q = df.select(col("i") +: cols: _*)
    assert(q.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[ScaledDoubleCast])))
    val (fast, spark) = both(s, q)
    assert(fast == spark)
  }

  test("ANSI: codegen gives Spark's null or error class for NaN, ±Inf and overflow") {
    val s = session(ansi = true)
    for (d <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e17, -1e16, 1e300)) {
      def q = doublesDf(s, Seq(1.25, d)).select(col("d").cast(DecimalType(18, 2)).as("c"),
        (col("d").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      val fast = outcome(q.collect().toSeq)
      val spark = withoutRule(s)(outcome(q.collect().toSeq))
      // Spark casts NaN and ±Inf to null even under ANSI; overflow fails
      if (!d.isNaN && !d.isInfinite) assert(fast.isLeft, s"d=$d must fail under ANSI")
      assert(fast == spark, s"d=$d")
    }
  }

  test("cents of a product that leaves a long fall back to Spark's cast (value and ANSI error)") {
    for (ansi <- Seq(false, true)) {
      val s = session(ansi)
      // 9e15 * 10^4 at scale 2 does not fit a long: the slow path
      def q = doublesDf(s, Seq(9.0e15, -9.0e15, 12.34))
        .select((col("d").cast(DecimalType(18, 2)) * lit(BigDecimal(10000))).cast("long").as("v"))
      assert(q.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[ScaledToLong])))
      val fast = outcome(q.collect().map(_.toString).toSeq.sorted)
      val spark = withoutRule(s)(outcome(q.collect().map(_.toString).toSeq.sorted))
      assert(fast == spark, s"ansi=$ansi")
    }
  }

  /** (g, v) rows → sums over DECIMAL(18,2) and over a product, per
    * group and globally. */
  private def sums(s: SparkSession, rows: Seq[(Int, java.lang.Double)], parts: Int): DataFrame = {
    val base = s.createDataFrame(java.util.Arrays.asList(rows.map { case (g, v) => Row(g, v) }: _*),
      StructType(Seq(StructField("g", IntegerType), StructField("v", DoubleType))))
    // one partition keeps the input order (the overflow cases need it)
    val df = if (parts == 1) base.coalesce(1) else base.repartition(parts)
    val dec = col("v").cast(DecimalType(18, 2))
    df.groupBy(col("g")).agg(
      sum(dec).as("s"),
      sum(dec * (lit(BigDecimal(1)) - dec)).as("sp"),
      sum(dec * dec).as("sq"),
      count(col("v")).as("n"))
  }

  test("sums: values, negatives, all-null groups and multi-partition merges equal Spark's") {
    val r = new scala.util.Random(7)
    val rows: Seq[(Int, java.lang.Double)] =
      Seq.tabulate(4000)(i => (i % 13, java.lang.Double.valueOf(math.round((r.nextDouble() - 0.4) * 1e8) / 100.0))) ++
        Seq((13, null), (13, null), (14, null), (3, null), (15, java.lang.Double.valueOf(-0.0)))
    for (ansi <- Seq(false, true); parts <- Seq(1, 4)) {
      val s = session(ansi)
      val q = sums(s, rows, parts)
      val opt = q.queryExecution.optimizedPlan
      assert(opt.expressions.exists(_.exists(_.isInstanceOf[ScaledSum])))
      assert(q.schema == withoutRule(s)(sums(s, rows, parts).schema))
      val (fast, spark) = both(s, sums(s, rows, parts))
      assert(fast == spark, s"ansi=$ansi parts=$parts")
      assert(fast.exists(_.startsWith("[13,null,null,null,0]")), fast.mkString("\n"))
    }
  }

  test("sums: empty input gives null, globally and per group") {
    val s = session(ansi = true)
    val empty = sums(s, Seq((1, java.lang.Double.valueOf(1.0))), 2).filter(col("g") < 0)
    assert(empty.collect().isEmpty)
    def global = s.range(0).select(col("id").cast("double").as("v"))
      .agg(sum(col("v").cast(DecimalType(18, 2))).as("s"),
        sum(col("v").cast(DecimalType(18, 2)) * col("v").cast(DecimalType(12, 2))).as("sp"))
    val (fast, spark) = both(s, global)
    assert(fast == Seq("[null,null]") && fast == spark)
  }

  test("sum overflow: LEGACY gives null, ANSI Spark's error class, for partial and merged overflow") {
    // 9e15 * 9e15 = 8.1e31 per row, 8.1e35 unscaled at scale 4: 130
    // rows pass 10^38 (the DECIMAL(38,4) bound) inside one partition;
    // 4 partitions of 40 overflow only when merged; 130 × +big then
    // 130 × −big in one partition overflows in between and must stay
    // null although the total is 0.
    val big = java.lang.Double.valueOf(9.0e15)
    val neg = java.lang.Double.valueOf(-9.0e15)
    val cases = Seq(
      "partial" -> (Seq.fill(130)((1, big)), 1),
      "merged" -> (Seq.fill(160)((1, big)), 4),
      "transient" -> (Seq.fill(130)((1, big)) ++ Seq.fill(130)((1, neg)), 1),
      "fits" -> (Seq.fill(100)((1, big)) ++ Seq((2, neg)), 3))
    for ((name, (rows, parts)) <- cases; ansi <- Seq(false, true)) {
      val s = session(ansi)
      def q = sums(s, rows, parts).select(col("g"), col("sq"))
      val fast = outcome(q.collect().map(_.toString).toSeq.sorted)
      val spark = withoutRule(s)(outcome(q.collect().map(_.toString).toSeq.sorted))
      assert(fast == spark, s"$name ansi=$ansi")
      if (name != "fits")
        assert(if (ansi) fast.isLeft else fast == Right(Seq("[1,null]")), s"$name ansi=$ansi: $fast")
    }
  }

  test("DECIMAL(p > 18), DECIMAL(p ≤ 8) sums and DISTINCT sums keep Spark's path") {
    val s = session(ansi = true)
    val df = doublesDf(s, Seq(1.5, 2.25, 2.25))
    val q = df.agg(sum(col("d").cast(DecimalType(20, 2))).as("wide"),
      sum(col("d").cast(DecimalType(8, 2))).as("narrow"),
      sum_distinct(col("d").cast(DecimalType(18, 2))).as("distinct"))
    val exprs = q.queryExecution.optimizedPlan.expressions.flatMap(_.collect { case e => e })
    assert(!exprs.exists(_.isInstanceOf[ScaledSum]))
    assert(exprs.exists {
      case Cast(c, d: DecimalType, _, _) => d == DecimalType(20, 2) && c.dataType == DoubleType
      case _ => false
    })
    val (fast, spark) = both(s, q)
    assert(fast == spark && fast == Seq("[6.00,6.00,3.75]"))
  }
}
