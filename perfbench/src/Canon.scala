package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical result hash: independent of row order, partitioning and
  * column order, so a plan change that keeps the answer keeps the hash.
  *
  * Columns are taken in name order. Each row renders to one string
  * (cells normalised as below), whose SHA-256 gives two 64-bit lanes;
  * the lanes are summed with wrap-around over all rows, a multiset hash
  * computed inside the executors without collecting the result. The
  * schema (names and types, so an int never matches a double) and the
  * row count are part of the digest. Doubles are rounded to 9
  * significant digits, the precision of the DuckDB oracle comparison,
  * so parallel float sums in a different order still match.
  */
object Canon {
  final case class Digest(hash: String, rows: Long)

  def digest(df: DataFrame): Digest = {
    val names = df.columns.zipWithIndex.sortBy(_._1)
    val order = names.map(_._2)
    val schema = names.map { case (n, i) =>
      s"$n:${df.schema(i).dataType.simpleString}" }.mkString(",")
    val (a, b, n) = df.rdd.mapPartitions { rows =>
      val md = MessageDigest.getInstance("SHA-256")
      var a = 0L
      var b = 0L
      var n = 0L
      rows.foreach { r =>
        val d = md.digest(order.map(i => cell(r.get(i))).mkString("\u0001")
          .getBytes(UTF_8))
        a += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
        b += java.nio.ByteBuffer.wrap(d, 8, 8).getLong
        n += 1
      }
      Iterator((a, b, n))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((x, y, z), (p, q, r)) =>
      (x + p, y + q, z + r)
    }
    val head = MessageDigest.getInstance("SHA-256").digest(schema.getBytes(UTF_8))
      .take(8).map("%02x".format(_)).mkString
    Digest(f"$head-$a%016x$b%016x-$n", n)
  }

  private val Sig = new MathContext(9)

  def cell(v: Any): String = v match {
    case null => "␀"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toString.toDouble)
    case d: java.math.BigDecimal => "m:" + d.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => "t:" + t.toInstant
    case d: java.sql.Date => "D:" + d.toLocalDate
    case b: Array[Byte] => "b:" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "d:NaN"
    else if (d.isInfinite) (if (d > 0) "d:Inf" else "d:-Inf")
    else if (d == 0.0) "d:0"
    else "d:" + new java.math.BigDecimal(d).round(Sig).stripTrailingZeros
      .toString
}
