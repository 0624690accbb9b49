package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector hot path (SURVEY §2.9:
  * the one place custom-Catalyst budget is genuinely spent).
  *
  * `aggregate(zip_with(a, b, ...))` — the built-in way to fold a dot
  * product — is a HigherOrderFunction, which is CodegenFallback: every
  * element bounces through boxed lambdas and breaks the surrounding
  * WholeStageCodegen stage. At sf0.1 the similarity queries spend most
  * of their time there. [[DotF64]] generates a primitive double loop
  * inline in the stage (doGenCode), keeping the whole operator chain
  * codegen'd.
  *
  * Semantics are IDENTICAL to the HOF fold (and to the DuckDB oracle's
  * `list_reduce(list_transform(...))`): left-to-right IEEE adds over
  * products in array order — results stay bit-for-bit hash-matchable.
  */
case class DotF64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f64 expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_f64"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `moment_i64(v, scale)` — the exact-integer second-moment (Gram)
  * matrix Σ_rows floor(v[a]·v[b]·scale) as ONE bounded-state
  * aggregate: buffer = long[d·d], update = d² fused
  * multiply-floor-adds, merge = elementwise add, result = the d²-cell
  * matrix in row-major order (cell a·d+b). d is fixed by the first
  * row seen; scale is a literal.
  *
  * Why a custom aggregate (same §2.9 budget test as kmv_kmin): the
  * composed spelling — `posexplode(flatten(transform(v, x ->
  * transform(v, y -> floor(x·y·scale)))))` then `groupBy(idx).sum` —
  * materializes d² rows PER INPUT ROW and pushes N·d² entries through
  * a hash aggregate (8.2 M updates at sf0.1's 2 000×64² — and
  * corpus-proportional at 100 TB) to produce an answer whose true
  * state is d² cells. This aggregate's state is d²·8 bytes per
  * partition regardless of corpus size, exactly one buffer crosses
  * the final exchange per partition, and the per-row work is the d²
  * products themselves with no array allocation, row expansion, or
  * per-cell hashing. Cell values are BIT-IDENTICAL to the composed
  * form (same floor(double·double·scale) per row, same Long adds in
  * a different order — Long addition is associative/commutative), so
  * the DuckDB oracle runs the composed SQL unchanged.
  *
  * Overflow contract (the one divergence from the composed spelling):
  * under ANSI mode (Spark 4 default) the composed CAST/SUM errors on
  * Long overflow, while here `floor(...).toLong` saturates at
  * ±Long.Max and the `+=` adds wrap. On the gates' inputs every cell
  * is ≤ Σ|v|²·scale ≪ 2⁶³ (unit-norm 64-dim vectors, scale 10⁶), so
  * the regimes never diverge in practice; on pathological magnitudes
  * this aggregate returns wrapped values where ANSI SUM would raise.
  */
case class MomentI64(
    child: Expression,
    scale: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"moment_i64 expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "moment_i64"

  // empty sentinel: dimension is learned from the first row
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    // empty array: the composed spelling's posexplode emits nothing
    // for it — contribute nothing rather than flagging it ragged
    if (d == 0) return buf
    val b = if (buf.length == d * d) buf else {
      require(buf.length == 0,
        s"moment_i64: ragged input (dim $d vs ${math.sqrt(buf.length).toInt})")
      new Array[Long](d * d)
    }
    // null elements: the composed spelling's x·y·scale is null when
    // either factor is null, and SUM skips nulls — mirror that by
    // skipping the cell (sim24's vecs() filter guarantees null-free
    // input, but the registered function must match the composed form
    // on every input)
    var a = 0
    while (a < d) {
      if (!arr.isNullAt(a)) {
        val va = arr.getDouble(a)
        val base = a * d
        var c = 0
        while (c < d) {
          if (!arr.isNullAt(c))
            b(base + c) += math.floor(va * arr.getDouble(c) * scale).toLong
          c += 1
        }
      }
      a += 1
    }
    b
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 0) return buf
    if (buf.length == 0) return other
    require(buf.length == other.length, "moment_i64: ragged partials")
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MomentI64 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MomentI64 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MomentI64 =
    copy(child = newChild)
}

/** Session extension registering the graft native functions; enabled
  * via `spark.sql.extensions=graft.functions.GraftExtensions` (set by
  * Verify/Bench/tests), after which `expr("dot_f64(a, b)")` resolves
  * like any built-in. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Aggregate-navigation rewrite (graft.plans.SummaryRewrite): a
    // no-op until a gate registers a summary in SummaryRegistry.
    ext.injectOptimizerRule(session => new graft.plans.SummaryRewrite(session))
    // Range-join bin rewrite (graft.plans.RangeBinRewrite): a no-op
    // until spark.graft.rangeJoin.binWidth is set.
    ext.injectOptimizerRule(session => new graft.plans.RangeBinRewrite(session))
    // Sketch-driven join-strategy selection (graft.plans.SketchJoinHint):
    // inert unless spark.graft.sketchJoin.thresholdBytes is set AND a
    // statistic is registered in SketchJoinRegistry.
    ext.injectOptimizerRule(session => new graft.plans.SketchJoinHint(session))
    // Scaled-long decimals (graft.plans.ScaledDecimalRewrite): double →
    // DECIMAL(≤18) casts, decimal sums and cents casts on unscaled
    // longs, bit-identical to Spark; fires wherever the shape occurs.
    ext.injectOptimizerRule(_ => graft.plans.ScaledDecimalRewrite)
    // Whole-operator rung: plans the graft.plans.AsOfJoin logical node
    // (a node only AsOfJoin.asof builds — inert for every other query).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotF64].getName, "dot_f64"),
      (children: Seq[Expression]) => DotF64(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("parse_yt_duration"),
      new ExpressionInfo(classOf[ParseYtDuration].getName, "parse_yt_duration"),
      (children: Seq[Expression]) => ParseYtDuration(children.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => MinHashSig(children.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("md5h60_array"),
      new ExpressionInfo(classOf[Md5H60Array].getName, "md5h60_array"),
      (children: Seq[Expression]) => Md5H60Array(children.head)))
    ext.injectFunction((
      FunctionIdentifier("moment_i64"),
      new ExpressionInfo(classOf[MomentI64].getName, "moment_i64"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"moment_i64 expects exactly 2 arguments (v array<double>, " +
            s"scale double literal), got ${children.length}")
        MomentI64(children.head, children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
        // parsed SQL decimal literals (no D suffix) arrive as
        // o.a.s.sql.types.Decimal, not java.math.BigDecimal
        case org.apache.spark.sql.catalyst.expressions.Literal(
            v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
        case other => throw new IllegalArgumentException(
          s"moment_i64 scale must be a double literal, got $other")
      })}))
    def litInt(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) =>
        PqEncode(children.head, children(1), litInt(children(2), "pq_encode sub_dim"))))
    ext.injectFunction((
      FunctionIdentifier("pq_dist_table"),
      new ExpressionInfo(classOf[PqDistTable].getName, "pq_dist_table"),
      (children: Seq[Expression]) =>
        PqDistTable(children.head, children(1), litInt(children(2), "pq_dist_table sub_dim"))))
    ext.injectFunction((
      FunctionIdentifier("kmv_kmin"),
      new ExpressionInfo(classOf[KmvKMin].getName, "kmv_kmin"),
      (children: Seq[Expression]) => {
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"kmv_kmin k must be an integer literal, got $other")
        }
        KmvKMin(children.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_sketch"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch"),
      (children: Seq[Expression]) =>
        KllSketchAgg(children.head, litInt(children(1), "kll_sketch k"))))
    ext.injectFunction((
      FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MgTopKAgg].getName, "mg_topk"),
      (children: Seq[Expression]) =>
        MgTopKAgg(children.head, litInt(children(1), "mg_topk k"))))
  }
}
