package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV/TSV/WSV reader facade — reference `readtable`
  * (src/io.jl:596-655) with its `ParseOptions` surface
  * (src/io.jl:11-31) mapped onto Spark's (Univocity-based) CSV source.
  *
  * The reference's byte-scanner + Int→Float64→Bool→String inference
  * cascade (src/io.jl:135-263, 427-474) is subsumed by Spark's
  * partition-parallel reader with `inferSchema` — the scan splits across
  * the cluster, which is the distributed `dreadtable`
  * (src/dataframe_blocks.jl:126-152) for free. `.gz` decompresses
  * transparently on both systems (src/io.jl:623-625).
  */
final case class ReadOptions(
    header: Boolean = true,                 // src/io.jl:617 allowcomments etc.
    separator: Option[Char] = None,         // default: from extension
    quotemark: Char = '"',
    naStrings: Seq[String] = Seq("NA", ""), // src/io.jl:20 nastrings
                                            // (first non-empty is the
                                            // CSV nullValue; empties are
                                            // null by default)
    multiline: Boolean = false,             // quoted embedded newlines;
                                            // forces single-task file
                                            // reads — off by default
    trueStrings: Seq[String] = Seq("T", "t", "TRUE", "true"), // src/io.jl:602
    falseStrings: Seq[String] = Seq("F", "f", "FALSE", "false"),
    commentMark: Option[Char] = None,       // src/io.jl:24 commentmark
    skipStart: Int = 0,                     // src/io.jl:26 skipstart
    nrows: Option[Int] = None,              // src/io.jl:18 nrows limit
    ignorePadding: Boolean = true,          // src/io.jl:23
    inferSchema: Boolean = true,
    colNames: Seq[String] = Nil)            // src/io.jl:25 names override

object ReadTable {

  /** Separator from extension: .csv→',' .tsv→'\t' .wsv→' '
    * (reference getseparator, src/io.jl:121-131). */
  def separatorFor(path: String): Char = {
    val base = path.stripSuffix(".gz").stripSuffix(".bz2")
    base.split('.').lastOption.map(_.toLowerCase) match {
      case Some("csv") => ','
      case Some("tsv") => '\t'
      case Some("wsv") => ' '
      case _ => ','
    }
  }

  def readtable(spark: SparkSession, path: String,
                opts: ReadOptions = ReadOptions()): DataFrame = {
    val sep = opts.separator.getOrElse(separatorFor(path))
    var r = spark.read
      .option("header", opts.header.toString)
      .option("sep", sep.toString)
      .option("quote", opts.quotemark.toString)
      .option("escape", opts.quotemark.toString) // CSV doubled-quote style
      .option("nullValue", opts.naStrings.find(_.nonEmpty).getOrElse(""))
      .option("multiLine", opts.multiline.toString)
      .option("inferSchema", opts.inferSchema.toString)
      .option("ignoreLeadingWhiteSpace", opts.ignorePadding.toString)
      .option("ignoreTrailingWhiteSpace", opts.ignorePadding.toString)
      .option("mode", "PERMISSIVE")
    opts.commentMark.foreach(c => r = r.option("comment", c.toString))
    // skipstart (src/io.jl:26): Spark CSV has no skip-N-lines option;
    // route through the text source with a line index. Only the head of
    // the file is affected, so the shuffle-free path stays for the
    // common case.
    var df =
      if (opts.skipStart > 0) {
        import spark.implicits._
        val lines = spark.read.textFile(path).rdd.zipWithIndex()
          .filter(_._2 >= opts.skipStart).map(_._1)
        r.csv(spark.createDataset(lines))
      } else r.csv(path)
    // Reference true/false string sets are wider than Spark's CSV
    // booleans (src/io.jl:356-368, 602-603: T/t/F/f parse as Bool), and
    // nastrings is a SET while Spark's nullValue is one string. Finish
    // both post-parse: null out extra naStrings in EVERY column (the
    // reference nulls sentinels before type inference, so a numeric
    // sentinel like -999 must not survive as data), then re-run the
    // reference's Int→Float64→Bool cascade over string columns whose
    // non-sentinel values now all parse (a column held string only by
    // its NA marker becomes numeric, as in the reference). A head
    // probe decides most columns; one aggregate pass decides the rest
    // together (see inferencePostCast).
    df = nullExtraNaStrings(df, opts)
    if (opts.inferSchema) df = inferencePostCast(df, opts)
    if (opts.colNames.nonEmpty) {
      require(opts.colNames.size == df.columns.length,
        s"colNames size ${opts.colNames.size} != ${df.columns.length}")
      df = df.toDF(opts.colNames: _*)
    }
    opts.nrows.map(df.limit).getOrElse(df)
  }

  /** Null out every extra naStrings entry (beyond the one Spark's CSV
    * `nullValue` already handled) in ALL columns — the reference nulls
    * sentinels before inference (src/io.jl:20, 427-474), so a -999 in
    * a numeric column must become null, not data. Non-string columns
    * match on their canonical string rendering (the form a numeric
    * sentinel is written in). */
  private def nullExtraNaStrings(df0: DataFrame,
                                 opts: ReadOptions): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.types.StringType
    val primaryNa = opts.naStrings.find(_.nonEmpty).getOrElse("")
    val extraNa = opts.naStrings.filter(s => s.nonEmpty && s != primaryNa)
    if (extraNa.isEmpty) return df0
    df0.schema.fields.foldLeft(df0) { (d, f) =>
      val probe =
        if (f.dataType == StringType) F.col(f.name)
        else F.col(f.name).cast("string")
      d.withColumn(f.name,
        F.when(probe.isin(extraNa: _*), F.lit(null))
          .otherwise(F.col(f.name)))
    }
  }

  /** Rows the post-cast head probe reads (see [[inferencePostCast]]). */
  private[graft] val HeadRows = 1000

  /** Post-parse finish of the reference's Int→Float64→Bool→String
    * inference cascade (src/io.jl:135-263, 356-368, 602-603) for the
    * pieces Spark's CSV options can't express: a string column whose
    * non-null values all parse as longs / doubles / members of
    * trueStrings ∪ falseStrings is cast accordingly — needed because
    * Spark's inference ran BEFORE the extra naStrings were nulled, so
    * a column held string only by its NA marker must still come out
    * numeric.
    *
    * Each string column has four flags: three "every non-null value
    * parses" flags (`bool_and`) and one "some value is non-null" flag
    * (`bool_or`). A head probe evaluates the same per-row checks on the
    * first [[HeadRows]] rows (one `limit` collect, one task for a file
    * whose first split holds that many rows) and settles a flag when
    * the head can only decide it one way: an "every" flag false on the
    * head is false on the file, a "some" flag true on the head is true
    * on the file, and a head shorter than [[HeadRows]] is the whole
    * frame, so it settles every flag. Only the flags left open go into
    * the full aggregate scan, which does not run when none are — the
    * common case, since a text column usually shows a non-numeric
    * value early. The decisions, and so the schema, are the same as
    * aggregating every flag over the whole file.
    */
  private def inferencePostCast(df: DataFrame,
                                opts: ReadOptions): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.types.StringType
    val strCols = df.schema.fields
      .filter(_.dataType == StringType).map(_.name).toSeq
    if (strCols.isEmpty) return df
    val tf = opts.trueStrings ++ opts.falseStrings
    // (flag name, per-row check, isAll): the "every" flags aggregate
    // with bool_and, the "some" flag with bool_or; no check is null
    val checks = strCols.flatMap { c =>
      val v = F.col(c)
      Seq(
        (s"${c}__lng", v.isNull || F.expr(s"try_cast(`$c` as long)").isNotNull, true),
        (s"${c}__dbl", v.isNull || F.expr(s"try_cast(`$c` as double)").isNotNull, true),
        (s"${c}__bool", v.isNull || v.isin(tf: _*), true),
        (s"${c}__any", v.isNotNull, false))
    }
    val head = df.select(checks.map { case (n, e, _) => e.as(n) }: _*)
      .limit(HeadRows).collect()
    val whole = head.length < HeadRows
    // more rows can only turn an "every" flag false and a "some" flag
    // true, so the head settles a flag that already reads that way
    val settled: Map[String, Boolean] = checks.zipWithIndex.flatMap {
      case ((n, _, isAll), i) =>
        val v = if (isAll) head.forall(_.getBoolean(i))
                else head.exists(_.getBoolean(i))
        if (whole || v != isAll) Some(n -> v) else None
    }.toMap
    val open = checks.filterNot { case (n, _, _) => settled.contains(n) }
    val flags = if (open.isEmpty) settled else {
      val aggs = open.map { case (n, e, isAll) =>
        (if (isAll) F.bool_and(e) else F.bool_or(e)).as(n) }
      val row = df.agg(aggs.head, aggs.tail: _*).first()
      settled ++ open.map { case (n, _, _) =>
        val i = row.fieldIndex(n)
        n -> (!row.isNullAt(i) && row.getBoolean(i))
      }
    }
    strCols.foldLeft(df) { (d, c) =>
      if (!flags(s"${c}__any")) d // all-null: leave string, like Spark
      else if (flags(s"${c}__lng"))
        d.withColumn(c, F.col(c).cast("long"))
      else if (flags(s"${c}__dbl"))
        d.withColumn(c, F.col(c).cast("double"))
      else if (tf.nonEmpty && flags(s"${c}__bool"))
        d.withColumn(c,
          F.when(F.col(c).isin(opts.trueStrings: _*), true)
            .when(F.col(c).isin(opts.falseStrings: _*), false))
      else d
    }
  }

  /** reference writetable (src/io.jl:726-791): header + separator +
    * quoting; `coalesce(1)` mimics the single-file output, omit it for
    * the distributed part-file layout (dwritetable,
    * src/dataframe_blocks.jl:590-625). Quotes inside a quoted field are
    * doubled, the dialect [[readtable]] reads (Spark's default writer
    * escapes them with a backslash instead). */
  def writetable(df: DataFrame, path: String, separator: Char = ',',
                 header: Boolean = true, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("header", header.toString)
      .option("sep", separator.toString)
      .option("escape", "\"")
      .csv(path)
  }

  /** HTML table writer — reference MIME"text/html" show
    * (src/io.jl:805-827): header row + up to `n` body rows, values
    * escaped, nulls as the reference's `NA`. Presentation-layer by
    * nature: collects only the `limit(n)` head (bounded driver data),
    * exactly like the reference's truncated notebook display. */
  def toHtml(df: DataFrame, n: Int = 30): String = {
    val cols = df.columns
    val esc = (s: String) => s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
    val body = df.limit(n).collect().map { r =>
      cols.indices.map { i =>
        val cell = if (r.isNullAt(i)) "NA" else esc(String.valueOf(r.get(i)))
        s"<td>$cell</td>"
      }.mkString("<tr>", "", "</tr>")
    }.mkString
    s"<table><thead><tr>$head</tr></thead><tbody>$body</tbody></table>"
  }
}
