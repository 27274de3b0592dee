package graft

import org.apache.spark.sql.{functions => F}
import graft.plans.VectorExpressions.{dotF, srpBitsF}

/** Pins the r15 fused SRP-signature kernel against the original
  * expression-tree form (when(dotF(v, lit(h_i)) > 0, 1L << i) reduced
  * by bitwise OR) — bit-identical signatures on random vectors,
  * boundary vectors (zero, exact-orthogonal) and both reduce flavors
  * (OR for Srp.signatures, + for exactKnnBnB's cellOf). */
class SrpBitsSpec extends SparkSpec {
  import spark.implicits._

  private def treeSum(v: org.apache.spark.sql.Column,
                      planes: Seq[Array[Float]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (h, i) =>
      F.when(dotF(v, F.typedlit(h)) > 0d, F.lit(1L << i))
        .otherwise(F.lit(0L))
    }.reduce(_ + _)

  test("fused kernel == expression tree on random and boundary vectors") {
    val dim = 64
    val planes = graft.similarity.Srp.hyperplanes(dim, 64, 7L)
    val rnd = new scala.util.Random(3)
    val vecs = (1 to 50).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * 3).toFloat))) ++
      Seq((100L, Array.fill(dim)(0f)),            // zero vector: all dots 0, no bits
        (101L, planes(0).map(-_)),                 // exactly anti-plane-0
        (102L, planes(7)))                         // exactly plane-7
    val df = vecs.toDF("id", "v")
    val out = df.select(
        srpBitsF(F.col("v"), planes).as("kern"),
        PlainForms.srpBits(F.col("v"), planes).as("or"),
        treeSum(F.col("v"), planes).as("sum"))
      .filter(F.col("kern") =!= F.col("or") || F.col("kern") =!= F.col("sum"))
      .collect()
    assert(out.isEmpty, s"kernel mismatch: ${out.mkString(",")}")
  }

  test("fused kernel matches at cellOf widths (4..16 bits)") {
    val dim = 8
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 30).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    Seq(4, 9, 16).foreach { bits =>
      val planes = graft.similarity.Srp.hyperplanes(dim, bits, 11L)
      val bad = vecs.select(
          srpBitsF(F.col("v"), planes).as("kern"),
          treeSum(F.col("v"), planes).as("sum"))
        .filter(F.col("kern") =!= F.col("sum")).collect()
      assert(bad.isEmpty, s"bits=$bits mismatch: ${bad.mkString(",")}")
    }
  }
}
