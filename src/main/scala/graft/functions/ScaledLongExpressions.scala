package graft.functions

import java.math.{BigInteger, BigDecimal => JBigDecimal}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, CheckOverflowInSum, Expression, GenericInternalRow, If, IsNull, Literal, Or, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, LongType}

/** Scaled-long decimal kernel: the arithmetic behind
  * [[graft.plans.ScaledDecimalRewrite]]. A DECIMAL(p, s) value with
  * p ≤ 18 is carried as its unscaled long (value = unscaled / 10^s);
  * sums are accumulated in two or three 64-bit words (two's complement,
  * word 0 least significant) instead of one `BigDecimal` per row.
  *
  * Every expression here is bit-identical to the Spark expression it
  * replaces, including nulls and ANSI errors: whatever the fast path
  * cannot prove exact is handed to Spark's own `Cast`.
  */
object ScaledLong {
  val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** 2^40: below it a double's ulp is at most 2^-13. */
  val FastMagnitude: Double = 1099511627776.0

  /** [[fastUnscaled]]'s "no exact answer" result. A fast answer is
    * below 10^18 in magnitude, so it is never this value. */
  final val NoFast = Long.MinValue

  /** Unscaled value of Spark's `CAST(d AS DECIMAL(p, s))`, where
    * `pow` = 10^s and `limit` = 10^p, or [[NoFast]].
    *
    * Spark casts through `Double.toString(d)` (a decimal within a few
    * ulps of d) and rounds it HALF_UP to s places. With y = d·10^s
    * (one rounding) and k = round(y): if |y| < 2^40 the decimal times
    * 10^s lies within 2^-11 of y, so |y − k| ≤ 0.25 puts it strictly
    * closer to k than to any other integer and HALF_UP yields k; and
    * |k| < 10^p means it fits. NaN, ±Inf, near-ties, large magnitudes
    * and overflow return [[NoFast]]. */
  def fastUnscaled(d: Double, pow: Double, limit: Long): Long = {
    val y = d * pow
    val k = Math.round(y)
    if (Math.abs(y) < FastMagnitude && Math.abs(y - k) <= 0.25 && k < limit && k > -limit) k
    else NoFast
  }

  /** Carry out of the unsigned 64-bit addition `r = a + b`. */
  def carry(r: Long, a: Long): Long =
    if (java.lang.Long.compareUnsigned(r, a) < 0) 1L else 0L

  /** Per precision p: floor(10^p / 2^64), the bound on the middle word
    * below which a sign-extended value is certainly under 10^p. */
  private val MidLimit: Array[Long] =
    Array.tabulate(39)(p => BigInteger.TEN.pow(p).shiftRight(64).longValue)

  def toBigInteger(w2: Long, w1: Long, w0: Long): BigInteger = {
    val b = java.nio.ByteBuffer.allocate(24)
    b.putLong(w2).putLong(w1).putLong(w0)
    new BigInteger(b.array())
  }

  /** |(w2, w1, w0)| < 10^precision, for precision in 19..38. */
  def fits(w2: Long, w1: Long, w0: Long, precision: Int): Boolean = {
    if (w2 == (w1 >> 63)) {
      if (w1 == (w0 >> 63)) return true // |v| < 2^63 < 10^19
      val lim = MidLimit(precision)
      if (w1 > -lim && w1 < lim) return true
    }
    toBigInteger(w2, w1, w0).abs.compareTo(BigInteger.TEN.pow(precision)) < 0
  }

  /** The value (w2, w1, w0) / 10^scale as a Decimal of the given
    * precision; the caller has checked [[fits]]. */
  def toDecimal(w2: Long, w1: Long, w0: Long, precision: Int, scale: Int): Decimal =
    if (w2 == (w1 >> 63) && w1 == (w0 >> 63)) Decimal(w0, precision, scale)
    else Decimal(new JBigDecimal(toBigInteger(w2, w1, w0), scale), precision, scale)

  /** `w + a` over equal-length word arrays (the interpreted path). */
  def addWords(w: Array[Long], a: Array[Long]): Array[Long] = {
    val r = new Array[Long](w.length)
    var c = 0L
    var i = 0
    while (i < w.length) {
      val t = w(i) + a(i)
      r(i) = t + c
      c = carry(t, w(i)) + carry(r(i), t)
      i += 1
    }
    r
  }

  private[functions] val className = getClass.getName.stripSuffix("$")
}

/** Spark's `CAST(child AS DECIMAL(p ≤ 18, s))` from DOUBLE, as the
  * unscaled long (`unscaled`) or as the Decimal itself. Inputs the fast
  * path of [[ScaledLong.fastUnscaled]] cannot settle go to `fallback`:
  * the original Cast over `input[0]`, with its eval mode, time zone and
  * origin, so NaN, ±Inf, ties and overflow give Spark's own null or
  * error. */
case class ScaledDoubleCast(child: Expression, fallback: Cast, unscaled: Boolean)
    extends UnaryExpression {
  private def target: DecimalType = fallback.dataType.asInstanceOf[DecimalType]
  private def pow: Double = ScaledLong.Pow10(target.scale).toDouble
  private def limit: Long = ScaledLong.Pow10(target.precision)

  override def dataType: DataType = if (unscaled) LongType else target
  override def nullable: Boolean = fallback.nullable
  override def toString: String =
    s"scaled_cast($child as ${target.simpleString}${if (unscaled) " unscaled" else ""})"

  /** Spark's result for an input the fast path rejected. */
  def slow(d: Double): Decimal =
    fallback.eval(new GenericInternalRow(Array[Any](d))).asInstanceOf[Decimal]

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val d = v.asInstanceOf[Double]
    val k = ScaledLong.fastUnscaled(d, pow, limit)
    if (k != ScaledLong.NoFast) {
      if (unscaled) k else Decimal.createUnsafe(k, target.precision, target.scale)
    } else {
      val r = slow(d)
      if (r == null || !unscaled) r else r.toUnscaledLong
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("scaledCast", this)
    val (k, r) = (ctx.freshName("k"), ctx.freshName("r"))
    val dec = classOf[Decimal].getName
    val (jt, fast, slow) =
      if (unscaled) ("long", k, s"$r.toUnscaledLong()")
      else (dec, s"$dec.createUnsafe($k, ${target.precision}, ${target.scale})", r)
    ev.copy(code =
      code"""
            |${c.code}
            |boolean ${ev.isNull} = ${c.isNull};
            |$jt ${ev.value} = ${if (unscaled) "0L" else "null"};
            |if (!${ev.isNull}) {
            |  long $k = ${ScaledLong.className}.fastUnscaled(${c.value}, ${pow}D, ${limit}L);
            |  if ($k != Long.MIN_VALUE) {
            |    ${ev.value} = $fast;
            |  } else {
            |    $dec $r = $self.slow(${c.value});
            |    if ($r == null) ${ev.isNull} = true; else ${ev.value} = $slow;
            |  }
            |}
          """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Spark's `CAST(e AS BIGINT)` of a decimal e with scale ≤ 18 whose
  * unscaled value is `factors(0)` or the product `factors(0) ·
  * factors(1)` of unscaled longs: truncation toward zero by 10^scale.
  * A product that does not fit in a long goes to `fallback`, the
  * original Cast over `input[0]`, as the exact Decimal. */
case class ScaledToLong(factors: Seq[Expression], scale: Int, fallback: Cast)
    extends Expression {
  require(factors.size == 1 || factors.size == 2)
  override def children: Seq[Expression] = factors
  override def dataType: DataType = LongType
  override def nullable: Boolean = fallback.nullable
  override def toString: String = s"scaled_to_long(${factors.mkString(" * ")}, $scale)"

  /** Spark's result for the product hi·2^64 + lo. */
  def slow(hi: Long, lo: Long): Any = {
    val t = fallback.child.dataType.asInstanceOf[DecimalType]
    fallback.eval(new GenericInternalRow(Array[Any](
      ScaledLong.toDecimal(hi >> 63, hi, lo, t.precision, t.scale))))
  }

  override def eval(input: InternalRow): Any = {
    val vs = factors.map(_.eval(input))
    if (vs.contains(null)) return null
    val pow = ScaledLong.Pow10(scale)
    if (vs.size == 1) vs.head.asInstanceOf[Long] / pow
    else {
      val (a, b) = (vs.head.asInstanceOf[Long], vs(1).asInstanceOf[Long])
      val (hi, lo) = (Math.multiplyHigh(a, b), a * b)
      if (hi == (lo >> 63)) lo / pow else slow(hi, lo)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = factors.map(_.genCode(ctx))
    val pow = s"${ScaledLong.Pow10(scale)}L"
    val body = if (gens.size == 1) s"${ev.value} = ${gens.head.value} / $pow;"
    else {
      val self = ctx.addReferenceObj("scaledToLong", this)
      val (a, b) = (gens.head.value, gens(1).value)
      val (hi, lo, r) = (ctx.freshName("hi"), ctx.freshName("lo"), ctx.freshName("r"))
      s"""long $hi = Math.multiplyHigh($a, $b);
         |long $lo = $a * $b;
         |if ($hi == ($lo >> 63)) {
         |  ${ev.value} = $lo / $pow;
         |} else {
         |  Object $r = $self.slow($hi, $lo);
         |  if ($r == null) ${ev.isNull} = true; else ${ev.value} = ((Long) $r).longValue();
         |}""".stripMargin
    }
    ev.copy(code =
      code"""
            |${gens.map(_.code).mkString("\n")}
            |boolean ${ev.isNull} = ${gens.map(_.isNull).mkString(" || ")};
            |long ${ev.value} = 0L;
            |if (!${ev.isNull}) {
            |  $body
            |}
          """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(factors = newChildren)
}

object WideAdd {
  /** Addend kinds: one signed long, the product of two longs, or a
    * second buffer of the same width. */
  val AddLong = 0
  val AddProduct = 1
  val AddWords = 2
}

/** Word `index` of `buffer + addend`, where `children` are the
  * `words` buffer words (least significant first) followed by the
  * addend ([[WideAdd.AddLong]]: one long; [[WideAdd.AddProduct]]: two
  * longs; [[WideAdd.AddWords]]: `words` more words). The top word is
  * null when the buffer's top word is, when an [[WideAdd.AddWords]]
  * addend's top word is, or when the sum reaches 10^precision in
  * magnitude — the nulls Spark's decimal Sum buffer takes on overflow.
  * A null long or product addend leaves the buffer unchanged. */
case class WideAdd(children: Seq[Expression], words: Int, addend: Int, index: Int,
    precision: Int) extends Expression {
  import WideAdd._
  require((words == 2 && addend != AddProduct) || words == 3)
  private def top = index == words - 1

  override def dataType: DataType = LongType
  override def nullable: Boolean = top
  override def toString: String = s"wide_add_w$index(${children.mkString(", ")})"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    val (buf, add) = vs.splitAt(words)
    if (addend != AddWords && add.contains(null)) return buf(index)
    def long(v: Any): Long = if (v == null) 0L else v.asInstanceOf[Long]
    val a: Array[Long] = addend match {
      case AddLong => val x = long(add.head); Array.fill(words)(x >> 63).updated(0, x)
      case AddProduct =>
        val (x, y) = (long(add.head), long(add(1)))
        val hi = Math.multiplyHigh(x, y)
        Array(x * y, hi, hi >> 63)
      case _ => add.map(long).toArray
    }
    val r = ScaledLong.addWords(buf.map(long).toArray, a)
    if (!top) r(index)
    else if (buf(index) == null || (addend == AddWords && add(index) == null)) null
    else {
      val w2 = if (words == 3) r(2) else r(1) >> 63
      if (ScaledLong.fits(w2, r(1), r(0), precision)) r(index) else null
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val (buf, add) = gens.splitAt(words)
    val kl = ScaledLong.className
    val a = Seq.fill(words)(ctx.freshName("a"))
    val r = Seq.fill(words)(ctx.freshName("r"))
    val c = ctx.freshName("c")
    val addendCode = addend match {
      case AddLong =>
        s"long ${a(0)} = ${add.head.value};\n" +
          a.tail.map(ai => s"long $ai = ${a(0)} >> 63;").mkString("\n")
      case AddProduct =>
        s"""long ${a(0)} = ${add.head.value} * ${add(1).value};
           |long ${a(1)} = Math.multiplyHigh(${add.head.value}, ${add(1).value});
           |long ${a(2)} = ${a(1)} >> 63;""".stripMargin
      case _ => a.zip(add).map { case (ai, g) => s"long $ai = ${g.value};" }.mkString("\n")
    }
    // ripple-carry from word 0 up to the requested one
    val chain = (0 to index).map { i =>
      val w = buf(i).value
      if (i == 0) s"long ${r(0)} = $w + ${a(0)};\nlong $c = $kl.carry(${r(0)}, $w);"
      else {
        val t = ctx.freshName("t")
        s"long $t = $w + ${a(i)};\nlong ${r(i)} = $t + $c;" +
          (if (i < index) s"\n$c = $kl.carry($t, $w) + $kl.carry(${r(i)}, $t);" else "")
      }
    }.mkString("\n")
    val overflow =
      if (!top) "false"
      else {
        val w2 = if (words == 3) r(2) else s"(${r(1)} >> 63)"
        val addNull = if (addend == AddWords) s"${add(index).isNull} || " else ""
        s"${buf(index).isNull} || $addNull!$kl.fits($w2, ${r(1)}, ${r(0)}, $precision)"
      }
    val skip = if (addend == AddWords) "false" else add.map(_.isNull).mkString(" || ")
    ev.copy(code =
      code"""
            |${gens.map(_.code).mkString("\n")}
            |boolean ${ev.isNull} = ${buf(index).isNull};
            |long ${ev.value} = ${buf(index).value};
            |if (!($skip)) {
            |  $addendCode
            |  $chain
            |  ${ev.isNull} = $overflow;
            |  ${ev.value} = ${r(index)};
            |}
          """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** The buffer words of a [[ScaledSum]] as its Decimal result; null when
  * the top word is (overflow). */
case class WideToDecimal(children: Seq[Expression], dataType: DecimalType)
    extends Expression {
  override def nullable: Boolean = true
  override def toString: String = s"wide_to_decimal(${children.mkString(", ")})"

  override def eval(input: InternalRow): Any = {
    val w = children.map(_.eval(input))
    if (w.last == null) null
    else {
      val Seq(w0, w1) = w.take(2).map(_.asInstanceOf[Long])
      val w2 = if (w.size == 3) w(2).asInstanceOf[Long] else w1 >> 63
      ScaledLong.toDecimal(w2, w1, w0, dataType.precision, dataType.scale)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = children.map(_.genCode(ctx))
    val w2 = if (w.size == 3) w(2).value.toString else s"(${w(1).value} >> 63)"
    ev.copy(code =
      code"""
            |${w.map(_.code).mkString("\n")}
            |boolean ${ev.isNull} = ${w.last.isNull};
            |${classOf[Decimal].getName} ${ev.value} = null;
            |if (!${ev.isNull}) {
            |  ${ev.value} = ${ScaledLong.className}.toDecimal($w2, ${w(1).value}, ${w(0).value},
            |    ${dataType.precision}, ${dataType.scale});
            |}
          """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Spark's decimal `Sum` of unscaled longs (one factor) or of products
  * of two (two factors), with result type `dataType` (precision 19..38)
  * and the same semantics: null inputs skipped, an all-null or empty
  * group gives null, and a partial sum reaching 10^precision in
  * magnitude nulls the buffer, so the result is then null
  * (`nullOnOverflow`) or Spark's ANSI overflow error with `context`.
  * The buffer is two words for longs and three for products, wide
  * enough that no partial sum of fewer than 2^63 rows wraps. */
case class ScaledSum(factors: Seq[Expression], dataType: DecimalType,
    nullOnOverflow: Boolean, context: QueryContext) extends DeclarativeAggregate {
  require(factors.size == 1 || factors.size == 2)
  require(dataType.precision > 18)
  import WideAdd._

  override def children: Seq[Expression] = factors
  override def nullable: Boolean = true
  override def prettyName: String = "scaled_sum"
  override protected def flatArguments: Iterator[Any] = factors.iterator

  private def nWords = factors.size + 1
  private lazy val sum = (0 until nWords).map(i =>
    AttributeReference(s"sum_w$i", LongType, nullable = i == nWords - 1)())
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = sum :+ isEmpty
  override lazy val initialValues: Seq[Expression] = sum.map(_ => Literal(0L)) :+ Literal(true)

  override lazy val updateExpressions: Seq[Expression] = {
    val kind = if (factors.size == 1) AddLong else AddProduct
    val anyNull = factors.filter(_.nullable).map(IsNull(_): Expression).reduceOption(Or(_, _))
    sum.indices.map(i => WideAdd(sum ++ factors, nWords, kind, i, dataType.precision)) :+
      anyNull.fold[Expression](Literal(false))(And(isEmpty, _))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    sum.indices.map(i =>
      WideAdd(sum.map(_.left) ++ sum.map(_.right), nWords, AddWords, i, dataType.precision)) :+
      And(isEmpty.left, isEmpty.right)

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(WideToDecimal(sum, dataType), dataType, nullOnOverflow, context))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ScaledSum = copy(factors = newChildren)
}
