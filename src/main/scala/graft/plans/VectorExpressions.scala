package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for embedding math.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`) are
  * CodegenFallback: every element evaluation allocates and boxes, which
  * dominates pairwise-similarity workloads (millions of pairs × vector
  * dim). These expressions run a tight primitive loop both in
  * interpreted mode and via `doGenCode`, keeping similarity joins inside
  * whole-stage codegen — SURVEY.md §7.3 preference order (b): custom
  * `Expression` before any UDF.
  *
  * Against the plain forms (`aggregate(zip_with(a, b, ...))`, same
  * left-to-right double summation over the shorter array), PropertySpec
  * pins two stated divergences: a NULL element reads as 0.0, so beside
  * a ±Inf or NaN partner it gives NaN where the plain form skips it;
  * srpBitsF returns NULL for a NULL vector where the per-plane `when`
  * tree sets no bit and returns 0; and a NaN projection sets no bit
  * here (IEEE `NaN > 0` is false) but every bit in the tree (Spark SQL
  * orders NaN above every number).
  */
object VectorKernels {
  /** Shared primitive kernels (called from generated code too). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def norm(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val v = a.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }
  /** Packed SRP sign bits; per-plane arithmetic identical to [[dot]]
    * against a float-literal plane (same summation order, strict > 0). */
  def srpBits(v: ArrayData, planes: Array[Array[Float]]): Long = {
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val h = planes(p)
      val n = math.min(v.numElements(), h.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getFloat(i).toDouble * h(i).toDouble; i += 1 }
      if (s > 0.0) bits |= (1L << p)
      p += 1
    }
    bits
  }
}

/** dot(a, b) over two array<float> columns, computed in double.
  * kernel: measured — plain 26.66 vs 6.49 s, local[4] (q207, only this
  * kernel swapped) */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.VectorKernels.dot($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) over two array<float> columns, in double; 0.0 for zero
  * vectors (instead of NaN) so thresholds behave.
  * kernel: measured — plain 5.37 vs 0.40 s, local[4] (q44) */
case class CosineSimF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.VectorKernels.cosine($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of an array<float> column.
  * kernel: measured — plain 0.12 vs 0.08 s, local[32] (q83) */
case class NormF(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    VectorKernels.norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.VectorKernels.norm($a)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused signed-random-projection signature: bit i = (v · planes(i)) > 0,
  * packed into one long. Replaces the `nbits`-deep tree of
  * `when(dotF(v, lit(h_i)) > 0, 1L << i)` bitwise-ORs (r15): identical
  * per-plane arithmetic (same left-to-right double summation as
  * [[VectorKernels.dot]] against a float-literal plane, same strict
  * `> 0` sign rule), but ONE expression and one kernel call per row —
  * smaller generated code (the 64-plane tree dominated q101's
  * first-execution janino cost) and no per-plane ArrayData re-walk.
  * SrpBitsSpec pins bit-equality against the expression-tree form.
  * kernel: measured — plain 4.70 vs 1.69 s, local[4] (q101, only this
  * kernel swapped) */
case class SrpBitsF(child: Expression, planes: Array[Array[Float]])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    VectorKernels.srpBits(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpPlanes", planes, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.VectorKernels.srpBits($v, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  private def e(c: Column) = GraftColumnBridge.expression(c)
  def dotF(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductF(e(a), e(b)))
  def cosineF(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimF(e(a), e(b)))
  def normF(a: Column): Column = GraftColumnBridge.column(NormF(e(a)))
  def srpBitsF(v: Column, planes: Seq[Array[Float]]): Column =
    GraftColumnBridge.column(SrpBitsF(e(v), planes.toArray))
}
