package graft.plans

import graft.functions.{ScaledDoubleCast, ScaledSum, ScaledToLong}
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Cast, EvalMode, Expression, Literal, Multiply, Subtract, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, CAST, SUM}
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, LongType}

/** SCALED-LONG DECIMALS — moves exact money arithmetic off Spark's
  * one-`BigDecimal`-per-row path into unscaled longs
  * ([[graft.functions.ScaledLong]]), with results bit-identical to
  * Spark's, nulls and ANSI errors included. The gates keep money exact
  * by casting doubles to DECIMAL(18,2) or to integer cents; Spark
  * evaluates that cast through `Double.toString` and `BigDecimal`, and
  * sums DECIMAL(18,2) into a DECIMAL(28,2) buffer that is a
  * `BigDecimal` per update. Rewrites:
  *
  *   - `CAST(double AS DECIMAL(p ≤ 18, s))` → [[ScaledDoubleCast]]:
  *     round(d·10^s) when |d·10^s| < 2^40 and it lies within 0.25 of
  *     that integer, Spark's own Cast for every other input;
  *   - `SUM(e)` over DECIMAL(9..18, s), and over `a * b` with both
  *     factors' unscaled values in longs and no scale adjustment →
  *     [[ScaledSum]], a two- or three-long buffer with Spark's
  *     overflow semantics;
  *   - `CAST(e AS BIGINT)` of such an `e` or product (the cents
  *     spelling `(CAST(v AS DECIMAL(18,2)) * 100)::BIGINT`) →
  *     [[ScaledToLong]].
  *
  * Inside these, decimal ± decimal (the literal in q1's `1 − discount`)
  * stays in longs whenever the result type's bounds prove the long
  * arithmetic exact; any other decimal of precision ≤ 18 is read with
  * `UnscaledValue`. Sums over DECIMAL(p ≤ 8) are left to Spark's
  * `DecimalAggregates`, DISTINCT and try_sum aggregates and window
  * sums to Spark. Injected by `GraftExtensions`; it fires wherever the
  * shape occurs.
  */
object ScaledDecimalRewrite extends Rule[LogicalPlan] {

  private val LongMax = BigInt(Long.MaxValue)
  private def pow10(n: Int): BigInt = BigInt(10).pow(n)

  /** A decimal expression as an unscaled long: its value is
    * `expr / 10^scale` with |expr| ≤ `bound` ≤ Long.MaxValue. */
  private case class Scaled(expr: Expression, scale: Int, bound: BigInt)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(AGGREGATE, SUM)) {
      case a: Aggregate =>
        a.transformExpressionsWithPruning(_.containsPattern(SUM)) {
          case ae @ AggregateExpression(s: Sum, _, false, _, _) =>
            scaledSum(s).fold(ae)(f => ae.copy(aggregateFunction = f))
        }
    }.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case c: Cast => rewriteCast(c).getOrElse(c)
    }

  private def scaledSum(s: Sum): Option[ScaledSum] = s.dataType match {
    case out: DecimalType if out.precision > 18 && s.evalContext.evalMode != EvalMode.TRY =>
      product(s.child).orElse(word(s.child).map(w => Seq(w.expr)))
        .map(ScaledSum(_, out, s.evalContext.evalMode != EvalMode.ANSI, s.getContextOrNull()))
    case _ => None
  }

  private def rewriteCast(c: Cast): Option[Expression] = (c.child.dataType, c.dataType) match {
    case (DoubleType, d: DecimalType) if d.precision <= 18 && d.scale >= 0 =>
      Some(ScaledDoubleCast(c.child, bound(c), unscaled = false))
    case (d: DecimalType, LongType) if d.scale <= 18 =>
      product(c.child).orElse(structural(c.child).map(w => Seq(w.expr)))
        .map(ScaledToLong(_, d.scale, bound(c)))
    case _ => None
  }

  /** `c` over `input[0]`: Spark's own evaluation for the slow path,
    * keeping c's eval mode, time zone and origin (error context). */
  private def bound(c: Cast): Cast =
    c.withNewChildren(Seq(BoundReference(0, c.child.dataType, c.child.nullable))).asInstanceOf[Cast]

  /** Any decimal of precision ≤ 18 as an unscaled long. */
  private def word(e: Expression): Option[Scaled] = structural(e).orElse(e.dataType match {
    case d: DecimalType if d.precision <= 18 => Some(Scaled(UnscaledValue(e), d.scale, pow10(d.precision) - 1))
    case _ => None
  })

  /** The shapes whose long form is cheaper than Spark's evaluation. */
  private def structural(e: Expression): Option[Scaled] = e.dataType match {
    case d: DecimalType => e match {
      case c @ Cast(child, _, _, _) if child.dataType == DoubleType && d.precision <= 18 && d.scale >= 0 =>
        Some(Scaled(ScaledDoubleCast(child, bound(c), unscaled = true), d.scale, pow10(d.precision) - 1))
      case Literal(v: Decimal, _) =>
        scala.util.Try(BigInt(v.toJavaBigDecimal.movePointRight(d.scale).toBigIntegerExact))
          .toOption.filter(_.abs <= LongMax)
          .map(u => Scaled(Literal(u.toLong), d.scale, u.abs))
      case Add(l, r, _) => additive(d, l, r)(Add(_, _))
      case Subtract(l, r, _) => additive(d, l, r)(Subtract(_, _))
      case _ => None
    }
    case _ => None
  }

  /** `x` at the larger scale `s`, if the long cannot overflow. */
  private def rescale(x: Scaled, s: Int): Option[Scaled] =
    if (s < x.scale) None
    else if (s == x.scale) Some(x)
    else {
      val f = pow10(s - x.scale)
      Some(x.bound * f).filter(_ <= LongMax).map { bd =>
        val e = x.expr match {
          case Literal(v: Long, _) => Literal(v * f.toLong)
          case other => Multiply(other, Literal(f.toLong))
        }
        Scaled(e, s, bd)
      }
    }

  /** l ± r at the result scale (no precision loss), where the bounds
    * prove Spark's result neither overflows nor leaves a long. */
  private def additive(d: DecimalType, l: Expression, r: Expression)(
      op: (Expression, Expression) => Expression): Option[Scaled] =
    for {
      x <- word(l).flatMap(rescale(_, d.scale))
      y <- word(r).flatMap(rescale(_, d.scale))
      bd = x.bound + y.bound
      if bd < pow10(d.precision) && bd <= LongMax
    } yield Scaled(op(x.expr, y.expr), d.scale, bd)

  /** A decimal product as its two unscaled long factors: exact when
    * the result scale is the sum of the factors' scales and the product
    * of their bounds fits the result precision. */
  private def product(e: Expression): Option[Seq[Expression]] =
    (e, e.dataType) match {
      case (Multiply(l, r, _), d: DecimalType) =>
        for {
          x <- word(l)
          y <- word(r)
          if d.scale == x.scale + y.scale && x.bound * y.bound < pow10(d.precision)
        } yield Seq(x.expr, y.expr)
      case _ => None
    }
}
