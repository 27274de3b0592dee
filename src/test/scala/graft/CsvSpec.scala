package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import graft.sources.{ReadOptions, ReadTable}

/** CSV hazard corpus — the reference organizes test/data/ by hazard
  * dimension (SURVEY.md §5.1): separators, quoting, newlines, blank
  * lines, comments, padding, type inference, compression, round-trip.
  * Fixtures are generated under target/ (self-contained).
  */
class CsvSpec extends SparkSpec {

  private val dir = {
    val d = Paths.get("target/csv-fixtures")
    Files.createDirectories(d)
    d
  }

  private def fixture(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  /** A file with `header` and one line per row index. */
  private def rowsFixture(name: String, header: String, rows: Int)(
      line: Int => String): String =
    fixture(name, (0 until rows).map(line).mkString(header + "\n", "\n", "\n"))

  /** The result of `body` and the number of Spark jobs it submitted,
    * counted under a job group of its own (other suites may share the
    * session). Listener events arrive in order, so once a marker job
    * run afterwards has been seen, so has every job of `body`. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"csvspec-jobs-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def typesOf(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("separator inferred from extension: csv/tsv/wsv") {
    assert(ReadTable.separatorFor("x.csv") == ',')
    assert(ReadTable.separatorFor("x.tsv") == '\t')
    assert(ReadTable.separatorFor("x.wsv") == ' ')
    assert(ReadTable.separatorFor("x.csv.gz") == ',')
    val csv = fixture("sep.csv", "a,b\n1,2\n")
    val tsv = fixture("sep.tsv", "a\tb\n1\t2\n")
    val wsv = fixture("sep.wsv", "a b\n1 2\n")
    for (p <- Seq(csv, tsv, wsv)) {
      val df = ReadTable.readtable(spark, p)
      assert(df.columns.toSeq == Seq("a", "b") && df.count() == 1)
    }
  }

  test("T/t/F/f columns post-cast to boolean; extra naStrings nulled") {
    // reference parses T/t/F/f as Bool (src/io.jl:356-368, 602-603);
    // nastrings is a set, here {"NA", "NULL"}
    val p = fixture("boolish.csv",
      "b1,b2,s,m\nT,true,Tx,1\nf,F,ok,NULL\nt,T,T,NA\n")
    val df = ReadTable.readtable(spark, p,
      ReadOptions(naStrings = Seq("NA", "", "NULL")))
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("b1") == BooleanType) // T/f/t
    assert(types("b2") == BooleanType) // Spark-native true/false + T/F
    assert(types("s") == StringType)   // "Tx"/"ok" are not boolean-ish
    // m was held string only by its "NULL" marker: after sentinel
    // nulling the reference cascade re-infers it numeric
    assert(types("m") == LongType)
    val rows = df.orderBy("m").collect()
    assert(df.filter(df("m").isNull).count() == 2) // NA and NULL
    assert(rows.exists(r => r.getBoolean(0) && r.getBoolean(1)))
  }

  test("numeric NA sentinels (-999) null out of already-numeric columns") {
    val p = fixture("sentinel.csv", "v,w\n1,1.5\n-999,2.5\n3,-999.0\n")
    val df = ReadTable.readtable(spark, p,
      ReadOptions(naStrings = Seq("NA", "", "-999", "-999.0")))
    assert(df.filter(df("v").isNull).count() == 1)
    assert(df.filter(df("w").isNull).count() == 1)
    assert(df.agg(F.sum("v")).head().getLong(0) == 4L)
  }

  test("quoting: embedded separators, quotes, and newlines") {
    val p = fixture("quote.csv",
      "name,note\n\"x,y\",\"say \"\"hi\"\"\"\n\"multi\nline\",plain\n")
    val df = ReadTable.readtable(spark, p,
      ReadOptions(inferSchema = false, multiline = true)).collect()
    assert(df.length == 2)
    assert(df(0).getString(0) == "x,y")
    assert(df(0).getString(1) == "say \"hi\"")
    assert(df(1).getString(0) == "multi\nline")
  }

  test("type inference lattice: int, double, bool, string, NA") {
    val p = fixture("types.csv",
      "i,f,b,s,m\n1,1.5,true,abc,NA\n2,2.5,false,def,x\n3,3e2,true,ghi,y\n")
    val df = ReadTable.readtable(spark, p)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("i") == IntegerType)
    assert(types("f") == DoubleType)
    assert(types("b") == BooleanType)
    assert(types("s") == StringType)
    assert(df.filter(df("m").isNull).count() == 1) // NA string → null
  }

  test("comments, blank-line skip, and skipstart") {
    val p = fixture("comments.csv",
      "# leading comment\n# another\na,b\n1,2\n\n# mid comment\n3,4\n")
    val df = ReadTable.readtable(spark, p,
      ReadOptions(commentMark = Some('#'), skipStart = 2))
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2) // blank line + comments dropped
  }

  test("windows and old-mac newlines") {
    val crlf = fixture("crlf.csv", "a,b\r\n1,2\r\n3,4\r\n")
    assert(ReadTable.readtable(spark, crlf).count() == 2)
  }

  test("padding ignored when requested") {
    val p = fixture("pad.csv", "a,b\n  1 , 2 \n 3,4\n")
    val df = ReadTable.readtable(spark, p)
    assert(df.schema("a").dataType == IntegerType)
  }

  test("gzip source reads transparently") {
    val raw = "a,b\n1,2\n3,4\n"
    val gz = dir.resolve("z.csv.gz")
    val os = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(gz))
    os.write(raw.getBytes); os.close()
    assert(ReadTable.readtable(spark, gz.toString).count() == 2)
  }

  test("bzip2 source reads transparently") {
    // reference corpus hazard (test/data/compressed/movies.csv.bz2,
    // asserted parse-success by test/io.jl): Spark/Hadoop decode .bz2
    // natively, same extension-driven path as .gz
    val raw = "a,b\n1,2\n3,4\n"
    val bz = dir.resolve("z.csv.bz2")
    val os = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(Files.newOutputStream(bz))
    os.write(raw.getBytes); os.close()
    val df = ReadTable.readtable(spark, bz.toString)
    assert(df.count() == 2 && df.schema("a").dataType == IntegerType)
  }

  test("corrupt UTF-8 bytes parse without failing the read") {
    // reference corpus hazard (test/data/utf8/corrupt_utf8.csv +
    // short_corrupt_utf8.csv, asserted parse-success by
    // test/io.jl:29-30): rows carrying invalid UTF-8 byte sequences
    // must not abort ingestion — the malformed bytes decode to
    // replacement characters, every row survives, and WELL-FORMED
    // rows in the same file keep their exact values
    val p = dir.resolve("corrupt.csv")
    val out = Files.newOutputStream(p)
    out.write("name,n\n".getBytes("UTF-8"))
    out.write("ok,1\n".getBytes("UTF-8"))
    // invalid sequences: a lone continuation byte, an overlong-ish
    // truncated 3-byte lead, and a bare 0xFF
    out.write("bad".getBytes("UTF-8"))
    out.write(Array[Byte](0x80.toByte, 0xE2.toByte, 0xFF.toByte))
    out.write(",2\n".getBytes("UTF-8"))
    out.write("fine,3\n".getBytes("UTF-8"))
    out.close()
    val df = ReadTable.readtable(spark, p.toString)
    assert(df.count() == 3, "corrupt UTF-8 must not drop or abort rows")
    val byN = df.collect().map(r => r.getInt(1) -> r.getString(0)).toMap
    assert(byN(1) == "ok" && byN(3) == "fine")
    assert(byN(2).startsWith("bad")) // garbled tail tolerated, row kept
  }

  test("explicit colnames override and nrows limit") {
    val p = fixture("names.csv", "a,b\n1,2\n3,4\n5,6\n")
    val df = ReadTable.readtable(spark, p,
      ReadOptions(colNames = Seq("x", "y"), nrows = Some(2)))
    assert(df.columns.toSeq == Seq("x", "y") && df.count() == 2)
  }

  test("round-trip: write then read equals original (reference io test)") {
    val s = spark
    import s.implicits._
    val cust = T.load(spark, sf, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    // names holding the characters a CSV dialect must escape: a quote,
    // the separator, both, and a backslash before a quote
    val tricky = Seq(
      (900001L, "say \"hi\"", 1.5),
      (900002L, "Smith, Jr.", 2.5),
      (900003L, "\"Quoted, with comma\"", 3.5),
      (900004L, "back\\\"slash", 4.5))
      .toDF("c_custkey", "c_name", "c_acctbal")
      .select(cust.schema.fields.map(f => F.col(f.name).cast(f.dataType)): _*)
    val orig = cust.unionByName(tricky)
    val out = dir.resolve("roundtrip").toString
    ReadTable.writetable(orig, out)
    val back = ReadTable.readtable(spark, out)
    assert(back.count() == orig.count())
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    val names = back.filter(F.col("c_custkey") >= 900001L)
      .orderBy("c_custkey").collect().map(_.getString(1)).toSeq
    assert(names == tricky.collect().map(_.getString(1)).toSeq)
  }

  // The post-cast inference settles what it can from the first
  // ReadTable.HeadRows rows and aggregates the whole file for the rest.
  // Each file below puts the deciding value past the head, so the head
  // alone would decide wrongly; the result must be the whole file's.
  private val pastHead = ReadTable.HeadRows + 5
  /** Jobs of a readtable whose head settles the post-cast: the header
    * line, Spark's inference scan and the head probe. The full-file
    * aggregate adds its own jobs on top. */
  private val ReadJobs = 3

  test("post-cast: a non-numeric value past the head keeps a column string") {
    val p = rowsFixture("late_text.csv", "k,v", pastHead + 10) { i =>
      s"$i,${if (i == pastHead) "oops" else i.toString}"
    }
    val (df, jobs) = jobsOf(ReadTable.readtable(spark, p))
    assert(typesOf(df)("v") == StringType)
    assert(df.filter(F.col("v") === "oops").count() == 1)
    assert(jobs > ReadJobs, s"head cannot settle v, yet only $jobs jobs ran")
  }

  test("post-cast: a column null throughout the head but typed later is cast") {
    val p = rowsFixture("late_typed.csv", "k,w", pastHead + 10) { i =>
      s"$i,${if (i < pastHead) "NULL" else (i * 2).toString}"
    }
    val (df, jobs) = jobsOf(ReadTable.readtable(spark, p,
      ReadOptions(naStrings = Seq("NA", "", "NULL"))))
    assert(jobs > ReadJobs, s"head cannot settle w, yet only $jobs jobs ran")
    assert(typesOf(df)("w") == LongType)
    assert(df.filter(F.col("w").isNotNull).count() == 10)
    assert(df.agg(F.max("w")).head().getLong(0) == 2L * (pastHead + 9))
  }

  test("post-cast: an extra NA marker past the head still comes out numeric") {
    val p = rowsFixture("late_na.csv", "k,m,d", pastHead + 10) { i =>
      if (i == pastHead) s"$i,NULL,NULL" else s"$i,$i,$i.5"
    }
    val (df, jobs) = jobsOf(ReadTable.readtable(spark, p,
      ReadOptions(naStrings = Seq("NA", "", "NULL"))))
    assert(jobs > ReadJobs, s"head cannot settle m, yet only $jobs jobs ran")
    val types = typesOf(df)
    assert(types("m") == LongType && types("d") == DoubleType)
    assert(df.filter(F.col("m").isNull).count() == 1)
    assert(df.filter(F.col("d").isNull).count() == 1)
  }

  test("post-cast: a header-only file keeps string columns, no aggregate") {
    val p = fixture("header_only.csv", "a,b\n")
    val (df, jobs) = jobsOf(ReadTable.readtable(spark, p))
    assert(df.columns.toSeq == Seq("a", "b") && df.count() == 0)
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(jobs == ReadJobs, s"an empty head settles every flag, got $jobs jobs")
  }

  test("post-cast: a head that settles every string column runs no aggregate") {
    // title and mpaa are strings from their first rows on; the numeric
    // column is typed by Spark's own inference. Jobs: header, inference
    // and head probe, and no full-file aggregate.
    val p = rowsFixture("settled.csv", "id,title,mpaa,year",
        3 * ReadTable.HeadRows) { i =>
      s"$i,\"Film, $i\",${if (i % 3 == 0) "PG" else "NA"},${1900 + i % 100}"
    }
    val (df, jobs) = jobsOf(ReadTable.readtable(spark, p))
    val types = typesOf(df)
    assert(types("title") == StringType && types("mpaa") == StringType)
    assert(types("year") == IntegerType)
    assert(jobs == ReadJobs, s"expected header, inference and probe jobs only, got $jobs")
  }

  test("UTF-8 content survives") {
    val p = fixture("utf8.csv", "w\nhéllo\nmötör\n日本語\n")
    val vals = ReadTable.readtable(spark, p).collect().map(_.getString(0))
    assert(vals.toSet == Set("héllo", "mötör", "日本語"))
  }

  test("toHtml renders header + escaped cells + NA nulls (MIME writer)") {
    import spark.implicits._
    val df = Seq((1L, "a<b"), (2L, null)).toDF("k", "v")
      .orderBy("k")
    val html = ReadTable.toHtml(df, 10)
    assert(html.startsWith("<table><thead><tr><th>k</th><th>v</th>"))
    assert(html.contains("<td>a&lt;b</td>") && html.contains("<td>NA</td>"))
    // row limit respected
    val limited = ReadTable.toHtml(df, 1)
    assert(!limited.contains("<td>NA</td>"))
  }
}
