package graft.plans

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) bit interleave for multi-dimensional data layout.
  *
  * At 100 TB the dominant cost is the scan, and Parquet min/max file
  * skipping is effectively one-dimensional under a linear sort: files
  * are narrow in the sort column and span the full range of every
  * other column. Range-partitioning by the interleaved Z-value keeps
  * EVERY interleaved dimension's per-file range narrow, so point/range
  * predicates on any of them prune files (the same public layout trick
  * as OPTIMIZE ZORDER BY in lakehouse table formats; Morton 1966).
  *
  * The interleave itself is a codegen'd Catalyst expression — pure bit
  * arithmetic, stays inside whole-stage codegen (SURVEY.md §7.3
  * preference (b)).
  */
object ZOrderKernels {
  /** Spread the low 32 bits of x so input bit i lands at output bit 2i. */
  def part1by1(x: Long): Long = {
    var v = x & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }
  def interleave(a: Long, b: Long): Long =
    part1by1(a) | (part1by1(b) << 1)
}

/** z = interleave(bits of a, bits of b); inputs LongType (caller casts),
  * low 32 bits of each are used.
  * kernel: measured — plain 0.29 vs 0.25 s, local[32] (q115) */
case class ZValue2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderKernels.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.ZOrderKernels.interleave($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrder {
  private def e(c: Column) = GraftColumnBridge.expression(c)

  /** Z-value of two long columns (low 32 bits each interleaved). */
  def zvalue(a: Column, b: Column): Column =
    GraftColumnBridge.column(ZValue2(e(a), e(b)))

  /** Lay a frame out Z-clustered on (a, b): min/max-scale each dim to
    * 16 bits (raw dims of different magnitudes would otherwise collapse
    * the interleave to the wider one), interleave, range-partition by
    * the Z-value (distributed sample-based ranges, no single-task
    * funnel) and sort within partitions so Parquet row-group stats are
    * tight. Bounds come from a 1-row agg broadcast — in-plan, no
    * driver-side action. */
  def layoutByZ(df: DataFrame, a: Column, b: Column,
      numPartitions: Int): DataFrame = {
    val bounds = df.agg(
      F.min(a).cast("double").as("__amn"), F.max(a).cast("double").as("__amx"),
      F.min(b).cast("double").as("__bmn"), F.max(b).cast("double").as("__bmx"))
    def scale(v: Column, mn: Column, mx: Column): Column =
      F.when(mx === mn, F.lit(0L)).otherwise(
        F.floor((v.cast("double") - mn) * 65535.0 / (mx - mn)))
    val z = df.crossJoin(F.broadcast(bounds))
      .withColumn("__z", zvalue(
        scale(a, F.col("__amn"), F.col("__amx")),
        scale(b, F.col("__bmn"), F.col("__bmx"))))
      .drop("__amn", "__amx", "__bmn", "__bmx")
    z.repartitionByRange(numPartitions, F.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
