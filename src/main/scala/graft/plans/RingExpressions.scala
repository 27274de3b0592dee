package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Consistent-hash ring successor lookup as a native codegen'd
  * expression.
  *
  * The original formulation —
  * `coalesce(array_min(filter(ring, p >= h)), array_min(ring)).s` over
  * a literal array<struct<p,s>> — is semantically right but `filter` /
  * `array_min` are higher-order functions (CodegenFallback): every row
  * re-walks the 128-160-struct ring with boxed lambda evaluation, and
  * the projection drops out of whole-stage codegen. Measured on q269:
  * ~24 µs/row for what is a binary search over a sorted literal table.
  * Same preference order as [[VectorKernels]] (SURVEY.md §7.3 (b)):
  * custom Expression before any UDF.
  *
  * Semantics (bit-identical to the HOF form): smallest ring position
  * `p >= h` wins, wrapping to the ring's global minimum; among equal
  * positions the smallest shard id wins (array_min's lexicographic
  * struct order). Positions are pre-sorted by (p, s) at construction.
  * One stated divergence (pinned in PropertySpec): a NULL hash gives
  * NULL, where the HOF form filters out every position and wraps to
  * the ring minimum's shard.
  */
object RingKernels {
  /** First index i with pos(i) >= h, or 0 (wrap) when none; among an
    * equal-position run the entries are pre-sorted by shard id, so the
    * first index is the lexicographic minimum. */
  def successor(h: Long, pos: Array[Long], shard: Array[Int]): Int = {
    var lo = 0
    var hi = pos.length // exclusive
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pos(mid) >= h) hi = mid else lo = mid + 1
    }
    if (lo == pos.length) shard(0) else shard(lo)
  }
}

// kernel: measured — plain 2.09 vs 0.42 s, local[4] (q269, only this
// kernel swapped)
case class RingSuccessor(child: Expression, positions: Array[Long],
                         shards: Array[Int])
    extends UnaryExpression {
  require(positions.length == shards.length && positions.nonEmpty)
  require(positions.zip(positions.tail).forall { case (a, b) => a <= b },
    "ring positions must be sorted ascending")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(h: Any): Any =
    RingKernels.successor(h.asInstanceOf[Long], positions, shards)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val posRef = ctx.addReferenceObj("ringPos", positions, "long[]")
    val shRef = ctx.addReferenceObj("ringShard", shards, "int[]")
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.plans.RingKernels.successor($h, $posRef, $shRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RingExpressions {
  /** Successor shard of hash column `h` on a (position, shard) ring.
    * Entries are sorted by (position, shard) so equal-position ties
    * resolve to the smallest shard, matching array_min struct order. */
  def ringSuccessor(h: Column, ring: Seq[(Long, Int)]): Column = {
    val sorted = ring.sortBy(identity).toArray
    GraftColumnBridge.column(RingSuccessor(
      GraftColumnBridge.expression(h),
      sorted.map(_._1), sorted.map(_._2)))
  }
}
