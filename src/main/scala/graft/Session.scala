package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory tuned for the graft engine.
  *
  * Scale notes: these settings assume many-executor clusters; on
  * `local[N]` the same declarative plans run with N threads. AQE is on so
  * shuffle partition counts, skew splits and broadcast conversions are
  * re-planned at runtime from observed statistics — the 100 TB story is
  * "declare the plan, let AQE size it", not hand-tuned partition counts.
  */
object Session {
  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Parquet star-schema loader for the driver-generated test tables.
  *
  * Equivalent of the reference's table ingest (`readtable`,
  * reference src/io.jl:596-655) for the canonical Parquet storage: one
  * call per table, schema comes from Parquet metadata, scans are
  * column-pruned + filter-pushed by Catalyst.
  */
object T {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, name)(spark.read.parquet(s"$dir/$name.parquet"))

  /** Runs `open` (a batch or stream reader over table `name`) with the
    * parquet conf every table is read under, and owns the events `ts`
    * layout for both readers. Older driver-generated events.parquet
    * carried TIMESTAMP(NANOS), which the vectorized reader rejects;
    * with nanosAsLong (set before `open` runs) those files surface ts
    * as LongType and we rebuild a microsecond timestamp (the data has
    * no sub-microsecond component, so lossless). Newer generations
    * write TIMESTAMP(MICROS), read as NTZ and cast to the LTZ type
    * every query was written against (session tz is pinned UTC, so the
    * same instant) — detect by the loaded type so both layouts read
    * identically. */
  private[graft] def read(spark: SparkSession, name: String)(
      open: => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = open
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }

  val tpch: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
