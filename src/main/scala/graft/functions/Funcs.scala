package graft.functions

import org.apache.spark.sql.{Column, functions => F}

/** Scalar-function layer — SURVEY.md §2.9 (reference src/extras.jl,
  * src/operators.jl). All pure Column compositions: codegen'd, no UDFs.
  */
object Funcs {

  /** reference `cut(v, breaks)` (export src/DataFrames.jl:78; exercised
    * test/extras.jl:17-33): bin into left-open intervals labelled
    * `(a,b]`, values outside the breaks → null. Labels use the break
    * literals as written so both engines print identically.
    */
  def cut(col: Column, breaks: Seq[Double]): Column = {
    val labels = breaks.sliding(2).map { case Seq(a, b) =>
      val fmt = (d: Double) =>
        if (d == d.floor && d.abs < 1e15) d.toLong.toString else d.toString
      s"(${fmt(a)},${fmt(b)}]"
    }.toSeq
    breaks.sliding(2).zip(labels.iterator).foldLeft(F.lit(null: String)) {
      case (acc, (Seq(a, b), lab)) =>
        F.when(col > a && col <= b, F.lit(lab)).otherwise(acc)
    }
  }

  /** reference `paste_columns` (src/extras.jl:32-44): row-wise concat of
    * columns with a separator — the reference's grouping-key synthesis. */
  def pasteColumns(sep: String, cols: Column*): Column =
    F.concat_ws(sep, cols: _*)

  /** reference `paste` WITH RECYCLING (src/extras.jl:12-30): elementwise
    * concat of several sequences, shorter ones repeating cyclically to
    * the longest length — R's paste semantics. Sequences are array
    * columns here (the row-parallel analog of the reference's vector
    * arguments); all-pure-expression, codegen'd. Arrays must be
    * non-empty (recycling an empty sequence is undefined in the
    * reference too). */
  def pasteRecycle(sep: String, arrs: Column*): Column = {
    require(arrs.nonEmpty)
    val len =
      if (arrs.size == 1) F.size(arrs.head)
      else F.greatest(arrs.map(F.size): _*)
    F.transform(F.sequence(F.lit(0), len - 1), i =>
      F.concat_ws(sep,
        arrs.map(a => F.element_at(a, (i % F.size(a)) + 1)): _*))
  }

  /** reference `isna` (src/dataframe.jl:1485-1511). */
  def isna(c: Column): Column = c.isNull

  /** reference `rep(x; times)` (src/extras.jl:52-87): element
    * replication via explode(array_repeat(...)) — lazy, no driver
    * materialization. */
  def repTimes(c: Column, times: Int): Column =
    F.explode(F.array_repeat(c, times))
}
