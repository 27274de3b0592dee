package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args = query-name prefixes (local iteration aid);
    // the driver passes exactly two args, so its behavior is unchanged.
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_AQE=false runs the dump with adaptive execution off
    // (invariance-audit aid: results must not depend on AQE re-plans;
    // the driver never sets it, so its behavior is unchanged)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Files.deleteIfExists(Paths.get(s"$outDir/FATAL.json")) // from an earlier run
    def writeOracleSql(): Unit = {
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
    SparkEntry.queries
      .filter { case (name, _) =>
        only.isEmpty || only.exists(name.startsWith) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch {
        case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // the dumps so far stay checkable: oracle_sql.json is written,
        // and FATAL.json (not a dump directory) names the query
        case e: Throwable => Harness.abort("verify", name, e) {
          writeOracleSql()
          Files.writeString(Paths.get(s"$outDir/FATAL.json"),
            s"""{"query": ${Harness.jsonString(name)}, "error": ${Harness.jsonString(e.toString)}}""")
        }
      }
      // drop blocks left pinned by iterative ops (see Bench)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    writeOracleSql()
    spark.stop()
  }
}
