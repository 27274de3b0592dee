package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.commons.io.FileUtils
import graft.queries.StreamQueries

/** Opening a parquet table ([[T.load]], and the stream sources over the
  * same files) reads its schema from the parquet footer on the driver,
  * so it submits no Spark job, and the schema is the one Spark's own
  * inference gives. */
class TableOpenSpec extends SparkSpec {

  /** A part-file directory `dir/two.parquet` whose two data files have
    * different schemas (plus Spark's `_SUCCESS` and `.crc` files), so
    * only the file inference reads, the first by path, gives its
    * schema. */
  private def twoPartTable(dir: String): Unit = {
    import spark.implicits._
    val table = s"$dir/two.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.parquet(table)
    val other = s"$dir/other"
    Seq((3L, 0.5)).toDF("k", "x").coalesce(1).write.parquet(other)
    val part = new File(other).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(table, "part-99999.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    assert(new File(table).listFiles().count(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) == 2)
  }

  test("T opens every table with the inferred schema and no Spark job") {
    val dir = Files.createTempDirectory("table_open").toString
    try {
      twoPartTable(dir)
      val tables = T.tpch.map(n => (sf, n)) :+ ((dir, "two"))
      for ((d, name) <- tables) {
        val path = s"$d/$name.parquet"
        // T.read sets the conf the conversion follows (nanosAsLong)
        val inferred = T.read(spark, name)(spark.read.parquet(path))
        assert(T.schema(spark, path) == spark.read.parquet(path).schema,
          s"$name: footer schema differs from Spark's inference")
        val (loaded, jobs) = jobsOf(T.load(spark, d, name))
        assert(jobs == 0, s"$name: T.load submitted $jobs Spark jobs")
        assert(loaded.schema == inferred.schema, name)
      }
      assert(T.schema(spark, s"$dir/two.parquet").fieldNames.toSeq ==
        Seq("k", "s"))
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("tableStream's source schema equals the batch table's") {
    for (name <- T.tpch) {
      val (stream, jobs) = jobsOf(StreamQueries.tableStream(spark, sf, name))
      assert(stream.isStreaming)
      assert(jobs == 0, s"$name: tableStream submitted $jobs Spark jobs")
      assert(stream.schema == T.load(spark, sf, name).schema, name)
    }
  }

  test("a session with parquet schema merging on fails loudly") {
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val batch = intercept[IllegalArgumentException](
      T.load(merging, sf, "region"))
    assert(batch.getMessage.contains("spark.sql.parquet.mergeSchema"))
    val stream = intercept[IllegalArgumentException](
      StreamQueries.tableStream(merging, sf, "region"))
    assert(stream.getMessage.contains("spark.sql.parquet.mergeSchema"))
  }
}
