package graft.functions

import org.apache.spark.sql.{Column, functions => F}

/** Special functions missing from `org.apache.spark.sql.functions`
  * (SURVEY §2.9: erf, erfc, digamma, lgamma), written out as Column
  * arithmetic that Catalyst compiles into the projection's generated
  * code like any built-in. A cold A/B found the former hand-written
  * Catalyst expressions no faster than this form at `local[4]` or
  * `local[32]` (SCALE.md §kernels).
  *
  * erf/erfc use Abramowitz & Stegun 7.1.26 (|ε| ≤ 1.5e-7); digamma
  * uses a 6-step recurrence shift + asymptotic series; lgamma the
  * Lanczos sum (g=7, n=9). digamma and lgamma are defined for x > 0
  * and return NULL elsewhere (a shift step would divide by zero at a
  * pole). The DuckDB oracles mirror THE SAME formulas term-by-term
  * ([[erfSql]], [[digammaSql]]), so results match bit-for-bit up to
  * exp/ln ulps (absorbed by round-to-6).
  */
object SpecialMath {
  // A&S 7.1.26 constants
  private val p = 0.3275911
  private val a1 = 0.254829592
  private val a2 = -0.284496736
  private val a3 = 1.421413741
  private val a4 = -1.453152027
  private val a5 = 1.061405429

  def erf(x0: Column): Column = {
    val x = x0.cast("double")
    val ax = F.abs(x)
    val t = F.lit(1.0) / (F.lit(1.0) + F.lit(p) * ax)
    val poly = ((((F.lit(a5) * t + a4) * t + a3) * t + a2) * t + a1) * t
    F.when(x < 0, -1.0).otherwise(1.0) *
      (F.lit(1.0) - poly * F.exp(-ax * ax))
  }

  def erfc(x: Column): Column = F.lit(1.0) - erf(x)

  /** ψ(x) for x > 0: shift to y = x+6 then asymptotic expansion. */
  def digamma(x0: Column): Column = {
    var r: Column = F.lit(0.0)
    var xx: Column = x0.cast("double")
    (0 until 6).foreach { _ => r = r - F.lit(1.0) / xx; xx = xx + 1.0 }
    val inv = F.lit(1.0) / xx
    val inv2 = inv * inv
    F.when(x0.cast("double") > 0, r + F.log(xx) - F.lit(0.5) * inv -
      inv2 * (F.lit(1.0 / 12.0) - inv2 * (F.lit(1.0 / 120.0) - inv2 / 252.0)))
  }

  /** Lanczos log-gamma (g=7, n=9) for x > 0. */
  private val lg = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  def lgamma(x0: Column): Column = {
    val xm = x0.cast("double") - 1.0
    var a: Column = F.lit(lg(0))
    val t = xm + 7.5
    (1 until 9).foreach { i => a = a + F.lit(lg(i)) / (xm + i.toDouble) }
    F.when(x0.cast("double") > 0,
      F.lit(0.5 * math.log(2.0 * math.Pi)) + (xm + 0.5) * F.log(t) - t +
        F.log(a))
  }

  /** DuckDB-SQL mirror of `erf` (identical constant/op order). */
  def erfSql(col: String): String =
    s"""(CASE WHEN $col < 0 THEN -1.0 ELSE 1.0 END) *
        (1.0 - (((((($a5) * (1.0/(1.0+$p*abs($col))) + ($a4))
                 * (1.0/(1.0+$p*abs($col))) + ($a3))
                 * (1.0/(1.0+$p*abs($col))) + ($a2))
                 * (1.0/(1.0+$p*abs($col))) + ($a1))
                 * (1.0/(1.0+$p*abs($col))))
              * exp(-abs($col)*abs($col)))"""

  /** DuckDB-SQL mirror of `digamma` (6-step shift + same series). */
  def digammaSql(col: String): String = {
    val y = s"($col + 6.0)"
    val shift = (0 until 6).map(k => s"1.0/($col + $k)").mkString(" - ", " - ", "")
    s"""(ln($y) - 0.5/$y
        - (1.0/($y*$y)) * (1.0/12.0 - (1.0/($y*$y)) * (1.0/120.0 - (1.0/($y*$y))/252.0))
        $shift)"""
  }
}
