package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** Bridge over the `private[parquet]` footer-to-schema conversion
  * (`ParquetFileFormat.readSchema`), so a parquet table's schema can be
  * read from its footer on the driver instead of by Spark's one-task
  * inference job (`StructType.asNullable` is `private[spark]` too).
  * Same extension-library pattern as
  * `org.apache.spark.sql.GraftReleaseBridge`.
  */
object GraftFooterBridge {
  /** The schema of the one file Spark's inference reads with
    * `mergeSchema` off: `path` itself, or the first data file (by path,
    * skipping `_`/`.` names) of a part-file directory. Converted under
    * the session conf (binaryAsString, int96AsTimestamp, NTZ inference,
    * nanosAsLong), like the inference job's own conversion, and made
    * nullable, as DataSource makes every file relation's data schema
    * (a Spark-written footer may record non-null fields). */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val status = fs.getFileStatus(p)
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(p).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString)
        .headOption
        .getOrElse(throw new IllegalArgumentException(
          s"no parquet data file in $path"))
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchema(Seq(footer), spark).get.asNullable
  }
}
