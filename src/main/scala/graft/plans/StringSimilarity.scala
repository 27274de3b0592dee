package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity as a native codegen'd kernel — the
  * record-linkage scorer (fuzzy name matching) Spark lacks; a Scala UDF
  * here would box both strings per comparison inside the hottest loop of
  * a blocked self-join.
  *
  * Semantics pin the textbook definition (and DuckDB's
  * `jaro_winkler_similarity`, which is the oracle): match window
  * ⌊max(|s|,|t|)/2⌋−1, transpositions = half the out-of-order matches,
  * Winkler prefix boost p=0.1 over at most 4 common lead codepoints,
  * applied only when jaro > 0.7; either side empty → 0. Codepoint-based
  * (not UTF-16 units) to match SQL length semantics beyond the BMP.
  */
object StringSimilarityKernels {

  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString
    val t = b.toString
    val s1 = s.codePoints.toArray
    val s2 = t.codePoints.toArray
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk matched positions in order on both sides
    var tr = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) tr += 1
        k += 1
      }
      i += 1
    }
    val half = tr / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - half).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var p = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (p < maxP && s1(p) == s2(p)) p += 1
    jaro + p * 0.1 * (1.0 - jaro)
  }
}

/** jaro_winkler_similarity(left, right) — double in [0, 1].
  * kernel: no built-in form (Spark has no Jaro-Winkler function) */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    StringSimilarityKernels.jaroWinkler(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.StringSimilarityKernels.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object StringSimilarity {
  def jaroWinkler(a: Column, b: Column): Column =
    GraftColumnBridge.column(JaroWinkler(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
