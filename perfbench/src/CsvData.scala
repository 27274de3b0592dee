package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** The seeded CSV input of the `csv_roundtrip` workload, shaped after
  * the reference's headline `readtable` benchmark file, movies.csv:
  * 58,788 rows of a row number, a title, year, length, budget (mostly
  * missing), rating, votes, the ten rating shares r1..r10 (one
  * decimal), the MPAA rating (mostly missing) and seven 0/1 genre
  * flags, 25 columns in all.
  *
  * It is written in the dialect `ReadTable.readtable` reads by
  * default: a header line, `,` separators, fields quoted with `"` and
  * inner quotes doubled, and `NA` or the empty field as missing
  * values. Titles are UTF-8 and some hold commas or quotes. Every value
  * is kept, so what is read back can be compared cell by cell with what
  * was generated.
  */
final class CsvData(val rows: Int, seed: Long) {
  private val genres = Seq("Action", "Animation", "Comedy", "Drama",
    "Documentary", "Romance", "Short")
  private val shares = (1 to 10).map(i => s"r$i")
  val columns: Seq[String] = Seq("id", "title", "year", "length", "budget",
    "rating", "votes") ++ shares ++ Seq("mpaa") ++ genres

  private val Missing = Int.MinValue
  /** Integral columns, and the one-decimal columns in tenths; `Missing`
    * marks a missing value. */
  private val tenths = Set("rating") ++ shares
  private val nums: Map[String, Array[Int]] =
    (columns.filterNot(Set("id", "title", "mpaa")).map(_ -> new Array[Int](rows))).toMap
  private val title = new Array[String](rows)
  private val mpaa = new Array[String](rows) // null when missing

  locally {
    val rnd = new SplittableRandom(seed)
    val words = Array("Alpha", "Zürich", "Naïve", "東京", "Smørrebrød",
      "Café", "Ωmega", "🙂 Ok", "São Paulo", "X")
    val ratings = Array("PG", "PG-13", "R", "NC-17")
    var i = 0
    while (i < rows) {
      val w = words(rnd.nextInt(words.length))
      title(i) = rnd.nextInt(4) match {
        case 0 => s"$w Returns"
        case 1 => s"$w, Part $i"
        case 2 => s"""The "$w" Story"""
        case _ => s"$w $i"
      }
      nums("year")(i) = rnd.nextInt(1893, 2006)
      nums("length")(i) = rnd.nextInt(1, 240)
      nums("budget")(i) = if (rnd.nextInt(11) == 0) rnd.nextInt(1000, 200000000) else Missing
      nums("rating")(i) = rnd.nextInt(10, 101)
      nums("votes")(i) = rnd.nextInt(5, 160000)
      shares.foreach(r => nums(r)(i) = rnd.nextInt(0, 1001))
      mpaa(i) = if (rnd.nextInt(12) == 0) ratings(rnd.nextInt(ratings.length)) else null
      genres.foreach(g => nums(g)(i) = rnd.nextInt(2))
      i += 1
    }
  }

  /** The generated value of row `i`, column `c`: a number, a string or
    * null when missing. */
  private def want(i: Int, c: String): Any = c match {
    case "id" => BigDecimal(i)
    case "title" => title(i)
    case "mpaa" => mpaa(i)
    case _ =>
      val v = nums(c)(i)
      if (v == Missing) null
      else if (tenths(c)) BigDecimal(v.toLong, 1)
      else BigDecimal(v)
  }

  private def quoted(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Writes the file; returns its size in bytes. */
  def write(path: String): Long = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), UTF_8), 1 << 16)
    val rnd = new SplittableRandom(~seed)
    try {
      out.write(columns.mkString(","))
      out.write('\n')
      var i = 0
      while (i < rows) {
        out.write(columns.map { c =>
          want(i, c) match {
            case null => if (rnd.nextBoolean()) "NA" else ""
            case s: String => quoted(s)
            case n: BigDecimal => n.toString
          }
        }.mkString(","))
        out.write('\n')
        i += 1
      }
    } finally out.close()
    new java.io.File(path).length()
  }

  /** Cells of `df` that differ from the generated values (0 = equal).
    * Numbers compare by value, so any integral or floating type
    * inference picks is accepted. */
  def mismatches(df: DataFrame): Long = {
    if (!columns.forall(df.columns.contains)) return rows.toLong + 1
    val n = columns.size
    mismatches(df.select(columns.map(df.col): _*).collect().iterator.map { r =>
      (0 until n).map(j => if (r.isNullAt(j)) null else r.get(j).toString)
    })
  }

  /** Cells of the CSV files under `dir` (the `part-*` files of a Spark
    * write, each with a header line) that differ from the generated
    * values. A quote inside a quoted field may be escaped either by
    * doubling it or with a backslash, so the check does not depend on
    * which of the two common dialects the writer chose; `NA` and the
    * empty field are missing values. */
  def fileMismatches(dir: String): Long = {
    val parts = Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val lines = parts.iterator.flatMap { f =>
      Files.readAllLines(Paths.get(f.getPath), UTF_8).asScala.iterator.drop(1)
    }
    mismatches(lines.filter(_.nonEmpty).map(split).map(_.map {
      case (raw, false) if raw.isEmpty || raw == "NA" => null
      case (v, _) => v
    }))
  }

  /** Fields of one CSV line with whether each was quoted. */
  private def split(line: String): Seq[(String, Boolean)] = {
    val out = Seq.newBuilder[(String, Boolean)]
    val sb = new StringBuilder
    var i = 0
    var quoted = false
    var inQuotes = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '\\' && i + 1 < line.length) { sb.append(line.charAt(i + 1)); i += 1 }
        else if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') {
          sb.append('"'); i += 1
        } else if (c == '"') inQuotes = false
        else sb.append(c)
      } else if (c == '"') { inQuotes = true; quoted = true }
      else if (c == ',') { out += sb.toString -> quoted; sb.clear(); quoted = false }
      else sb.append(c)
      i += 1
    }
    out += sb.toString -> quoted
    out.result()
  }

  /** Counts differing cells over rows given in `columns` order (null =
    * missing), plus one for a wrong row count and one per row whose id
    * is out of range or whose width is wrong. */
  private def mismatches(got: Iterator[Seq[String]]): Long = {
    var bad = 0L
    var count = 0
    got.foreach { r =>
      count += 1
      val i = scala.util.Try(BigDecimal(r.head).toIntExact).getOrElse(-1)
      if (r.size != columns.size || i < 0 || i >= rows) bad += 1
      else bad += columns.indices.count { j =>
        (want(i, columns(j)), r(j)) match {
          case (null, g) => g != null
          case (_, null) => true
          case (w: BigDecimal, g) => scala.util.Try(BigDecimal(g)).toOption.forall(_ != w)
          case (w, g) => w != g
        }
      }
    }
    if (count != rows) bad += 1
    bad
  }
}
