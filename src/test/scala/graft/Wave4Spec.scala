package graft

import org.apache.spark.sql.{functions => F}
import graft.functions.ProductAgg
import graft.functions.SpecialMath
import graft.streaming.DataStream

/** Wave-4 suites: streaming parity, special math, product aggregate,
  * model matrix. */
class Wave4Spec extends SparkSpec {

  test("streaming running aggregates equal the batch aggregate") {
    val streamed = SparkEntry.queries("q60_stream_agg")(spark, sf)
    val batch = T.load(spark, sf, "events").groupBy("event_type")
      .agg(F.round(F.sum("value"), 2).as("total"),
        F.round(F.avg("value"), 6).as("mean"),
        F.round(F.stddev_samp(F.col("value")), 6).as("sd"),
        F.round(F.covar_samp(F.col("value"),
          F.col("user_id").cast("double")), 4).as("cov_vu"),
        F.count(F.lit(1)).as("n"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("windowed streaming agg totals cover every event exactly once") {
    val win = SparkEntry.queries("q61_stream_window")(spark, sf)
    val total = win.agg(F.sum("n")).first().getLong(0)
    assert(total == T.load(spark, sf, "events").count())
  }

  test("selectRow probes the nth stream row (reference select(ds, n))") {
    import spark.implicits._
    import java.io.File
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_probe").toFile
    dir.deleteOnExit()
    // three single-row-group files with pinned mtimes: FileStreamSource
    // drains them oldest-first, one per micro-batch
    def writeOne(rows: Seq[(Long, String)], name: String, ts: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_probe_tmp").toFile
      rows.toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(dir, name)
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(ts))
    }
    writeOne(Seq((1L, "a"), (2L, "b")), "f1.parquet", 1000000L)
    writeOne(Seq((3L, "c"), (4L, "d")), "f2.parquet", 2000000L)
    writeOne(Seq((5L, "e")), "f3.parquet", 3000000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING")
    // row 3 lives in the SECOND micro-batch (cross-batch counting)
    val r3 = DataStream.selectRow(spark, dir.getPath, schema, 3)
    assert(r3.getLong(0) == 3L && r3.getString(1) == "c")
    // last row, last single-row batch
    val r5 = DataStream.selectRow(spark, dir.getPath, schema, 5)
    assert(r5.getLong(0) == 5L && r5.getString(1) == "e")
    // past-the-end errors like the reference's select
    val err = intercept[RuntimeException](
      DataStream.selectRow(spark, dir.getPath, schema, 6))
    assert(err.getMessage.contains("Did not find requested row"))
  }

  /** A special-math Column evaluated at `x`. */
  private def at(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                 x: Double): Double = {
    import spark.implicits._
    Seq(x).toDF("x").select(f(F.col("x"))).first().getDouble(0)
  }

  test("erf against known values") {
    // erf(0)=0, erf(1)≈0.8427007929, erf(-1)=-erf(1), erf(∞)→1
    val erf = (x: Double) => at(SpecialMath.erf, x)
    assert(math.abs(erf(0.0)) < 1.5e-7) // A&S 7.1.26 |ε| bound
    assert(math.abs(erf(1.0) - 0.8427007929) < 1e-6)
    assert(math.abs(erf(-1.0) + erf(1.0)) < 1e-12)
    assert(math.abs(erf(4.0) - 1.0) < 1e-6)
    assert(math.abs(at(SpecialMath.erfc, 0.5) - (1 - erf(0.5))) < 1e-12)
  }

  test("digamma and lgamma against known values") {
    val gamma = 0.5772156649015329 // Euler–Mascheroni
    assert(math.abs(at(SpecialMath.digamma, 1.0) + gamma) < 1e-9)
    // ψ(2) = 1 - γ
    assert(math.abs(at(SpecialMath.digamma, 2.0) - (1 - gamma)) < 1e-9)
    // lgamma(5) = ln(24)
    assert(math.abs(at(SpecialMath.lgamma, 5.0) - math.log(24.0)) < 1e-9)
    assert(math.abs(at(SpecialMath.lgamma, 0.5) - 0.5 * math.log(math.Pi))
      < 1e-9)
    // off x > 0 both are NULL (a shift step would divide by zero)
    import spark.implicits._
    val off = Seq(0.0, -2.0).toDF("x").select(
      SpecialMath.digamma(F.col("x")), SpecialMath.lgamma(F.col("x")))
      .collect()
    assert(off.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("math expressions evaluate in a plan (codegen path)") {
    import spark.implicits._
    val df = Seq(0.0, 0.5, 1.0, 2.0).toDF("x")
    val r = df.select(
      SpecialMath.erf($"x").as("e"),
      SpecialMath.digamma($"x" + 1.0).as("d"),
      SpecialMath.lgamma($"x" + 1.0).as("g")).collect()
    assert(math.abs(r(2).getDouble(0) - 0.8427007929) < 1e-6)
    assert(!r.exists(row => row.getDouble(2).isNaN))
  }

  test("product aggregator is exact (vs sequential product)") {
    import spark.implicits._
    val vals = Seq(1.5, 2.0, 0.5, 3.0, 1.1)
    val df = vals.toDF("v")
    val got = df.agg(ProductAgg.product(F.col("v"))).first().getDouble(0)
    assert(math.abs(got - vals.product) < 1e-12)
    // zero annihilates exactly (exp∘Σlog cannot do this)
    val withZero = (vals :+ 0.0).toDF("v")
    assert(withZero.agg(ProductAgg.product(F.col("v")))
      .first().getDouble(0) == 0.0)
  }

  test("model matrix encodes treatment contrasts deterministically") {
    val mm = graft.formula.Formula.modelMatrix(
      T.load(spark, sf, "orders")
        .selectExpr("o_totalprice", "o_orderstatus",
          "o_totalprice / 1000.0 as y"),
      "y ~ o_totalprice + o_orderstatus")
    assert(mm.columns.toSeq == Seq("label", "f0", "f1", "f2"))
    // one-hot columns are 0/1 and at most one is set
    val bad = mm.filter(F.col("f1") + F.col("f2") > 1.0)
    assert(bad.count() == 0)
  }
}
