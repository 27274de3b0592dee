package graft

import org.apache.spark.sql.{functions => F}

/** Bucketed co-located join: the SCALE.md claim that pre-bucketing
  * eliminates the join shuffle, proven on the physical plan. This is
  * the 100 TB layout decision for repeated fact-fact joins (SURVEY §4.1
  * IndexedVector analog: layout beats per-query work).
  */
class BucketSpec extends SparkSpec {

  test("join of tables bucketed on the key plans without a shuffle") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val o = T.load(s, sf, "orders")
      val li = T.load(s, sf, "lineitem")
        .groupBy("l_orderkey").agg(F.count(F.lit(1)).as("n_items"))
      o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
      li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
      val j = s.table("orders_b").join(s.table("lineitem_b"),
        F.col("o_orderkey") === F.col("l_orderkey"))
      j.collect() // execute so AQE finalizes
      val plan = j.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // and the same join WITHOUT bucketing does shuffle
      val plain = o.join(li, F.col("o_orderkey") === F.col("l_orderkey"))
      plain.collect()
      assert(plain.queryExecution.executedPlan.toString()
        .contains("Exchange hashpartitioning"))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.sql("DROP TABLE IF EXISTS orders_b")
      s.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("AQE splits a skewed join partition (skew=true in final plan)") {
    import spark.implicits._
    val s = spark
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    // make skew detection fire on toy data
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    try {
      // one pathologically hot key on both sides
      val a = (1 to 40000).map(i =>
        (if (i % 20 == 0) i.toLong else 777L, s"a$i")).toDF("k", "va")
      val b = (1 to 200).map(i =>
        (if (i < 3) 777L else i.toLong, s"b$i")).toDF("k", "vb")
      val j = a.join(b, "k")
      j.collect() // execute THIS QueryExecution so AQE finalizes
      val plan = j.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${plan.take(2000)}")
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("IVF probe over a cell-partitioned corpus prunes to nprobe cells") {
    val s = spark
    val emb = T.load(s, sf, "embeddings")
    // deterministic cells: the partition-pruning claim needs a cell
    // column, not a trained one
    val assigned = emb.select(F.col("vec_id"), F.col("embedding"),
      F.pmod(F.col("vec_id"), F.lit(8L)).cast("int").as("cell"))
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_cells").toString
    try {
      // the SCALE.md layout claim: corpus written partitioned by cell
      assigned.write.mode("overwrite").partitionBy("cell").parquet(dir)
      val corpus = s.read.parquet(dir)
      val probes = Seq(0, 1, 2)
      val probed = corpus.filter(F.col("cell").isin(probes: _*))
      probed.collect()
      val scan = probed.queryExecution.executedPlan.toString()
      // the cell predicate must be a PARTITION filter (directory-level
      // pruning - a probe reads nprobe/ncells of the data), not a
      // post-scan filter
      assert(scan.contains("PartitionFilters") &&
        "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).nonEmpty,
        s"cell filter did not reach partition pruning:\n$scan")
      val allFiles = corpus.inputFiles.length
      val readFiles = probed.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }.sum
      assert(readFiles < allFiles,
        s"probe read all $allFiles files (no pruning)")
      // and the probed slice is exactly those cells' rows
      assert(probed.count() ==
        assigned.filter(F.col("cell").isin(probes: _*)).count())
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }
}
