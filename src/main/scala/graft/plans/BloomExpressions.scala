package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Bloom-filter probe count as a native codegen'd expression.
  *
  * The original q106 formulation —
  * `size(filter(transform(sh, s -> xxhash64(s)), h -> forall(
  *    transform(array(c0..c4), c -> pmod(xxhash64(h ^ c), B)),
  *    p -> (element_at(bf, p div 64 + 1) & shiftleft(1L, p % 64)) != 0L)))`
  * — is three nested higher-order functions (CodegenFallback): every
  * shingle of every document walks boxed lambda evaluation for 1 + k
  * xxhash64 calls and k word probes, and the projection drops out of
  * whole-stage codegen. Shingle arrays here are per-document word
  * 5-shingles (hundreds of elements), so this was the only "HOF in a
  * hot path over a NON-small array" site left by the r15 sweep. Same
  * preference order as [[RingKernels]] / [[VectorKernels]] (SURVEY.md
  * §7.3 (b)): custom Expression before any UDF.
  *
  * Semantics (bit-identical to the HOF form, pinned by CurationSpec's
  * kernel-vs-HOF test):
  *  - element hash = SQL `xxhash64(s)` (seed 42; a NULL element hashes
  *    to the seed itself, exactly like the SQL function);
  *  - probe i ∈ [0, k): `pmod(xxhash64(h ^ (i·0x9E3779B97F4A7C15)), B)`
  *    with the same wrapping long multiply as [[graft.text.Bloom]]'s
  *    compile-time constants;
  *  - a shingle counts iff ALL k probe bits are set in the `bf` long
  *    array (`p div 64` word, `1L << (p % 64)` mask — p ≥ 0 so the
  *    Java shift's implicit &63 is identical);
  *  - `numBits` ≤ [[BloomKernels.MaxBits]] (Int.MaxValue): a probe
  *    position is an Int array index, as in the HOF form's
  *    `cast(pmod(...) as int)`; a larger filter is rejected when the
  *    expression is built rather than wrapping to a wrong position;
  *  - returns the count as BIGINT (the HOF form's final cast); NULL
  *    array → NULL (size(NULL) = NULL under the 3.0+ default this
  *    repo runs with).
  */
object BloomKernels {
  private final val Golden = 0x9E3779B97F4A7C15L
  /** Largest filter width whose bit positions an Int can address. */
  final val MaxBits: Long = Int.MaxValue.toLong

  /** Count of elements of `sh` whose `numHashes` probe bits are all
    * set in `bf`. Bit-for-bit the HOF pipeline above. */
  def countHits(sh: ArrayData, bf: ArrayData, numBits: Long,
                numHashes: Int): Long = {
    var count = 0L
    var i = 0
    val n = sh.numElements()
    while (i < n) {
      // SQL xxhash64: NULL input leaves the running hash at the seed
      val h =
        if (sh.isNullAt(i)) 42L
        else {
          val s = sh.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
            s.numBytes, 42L)
        }
      var all = true
      var j = 0
      while (all && j < numHashes) {
        val hh = XXH64.hashLong(h ^ (j * Golden), 42L)
        val m = hh % numBits
        val p = (if (m < 0) m + numBits else m).toInt
        if ((bf.getLong(p >>> 6) & (1L << (p & 63))) == 0L) all = false
        j += 1
      }
      if (all) count += 1
      i += 1
    }
    count
  }
}

/** `bloomCountHits(shingles, bf)`: per-row count of `shingles`
  * elements whose probe bits are all set in the broadcast `bf` long
  * array. numBits/numHashes are plan-time constants (they size the
  * filter, same as [[graft.text.Bloom]]'s expression builders). */
case class BloomCountHits(left: Expression, right: Expression,
                          numBits: Long, numHashes: Int)
    extends BinaryExpression {
  require(numBits > 0 && numHashes > 0)
  require(numBits <= BloomKernels.MaxBits,
    s"numBits $numBits exceeds ${BloomKernels.MaxBits}: probe positions are Int indexes")
  override def dataType: DataType = LongType
  override def nullSafeEval(sh: Any, bf: Any): Any =
    BloomKernels.countHits(sh.asInstanceOf[ArrayData],
      bf.asInstanceOf[ArrayData], numBits, numHashes)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, bf) =>
      s"""${ev.value} = graft.plans.BloomKernels.countHits(
            $sh, $bf, ${numBits}L, $numHashes);""")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomExpressions {
  /** Count of `sh` shingles whose `numHashes` probe bits are all set
    * in the bloom long-array column `bf`. */
  def bloomCountHits(sh: Column, bf: Column, numBits: Long,
                     numHashes: Int): Column =
    GraftColumnBridge.column(BloomCountHits(
      GraftColumnBridge.expression(sh),
      GraftColumnBridge.expression(bf), numBits, numHashes))
}
