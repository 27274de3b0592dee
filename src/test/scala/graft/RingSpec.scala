package graft

import org.apache.spark.sql.{Column, functions => F}

/** Pins the r15 codegen'd ring-successor kernel against the original
  * filter+array_min HOF formulation (the executable spec): identical
  * shard for every key on the real q269 rings AND on an adversarial
  * ring with duplicate positions, including the wrap case (h beyond
  * the last vnode) and exact-hit ties. */
class RingSpec extends SparkSpec {
  import spark.implicits._

  /** The original HOF formulation — the executable spec of the
    * successor semantics: the smallest (position, shard) at or after
    * `h`, wrapping to the ring's global minimum. */
  private def ringShardHof(h: Column, r: Seq[(Long, Int)]): Column = {
    val arr = F.array(r.map { case (p, sh) =>
      F.struct(F.lit(p).as("p"), F.lit(sh).as("s")) }: _*)
    F.coalesce(
      F.array_min(F.filter(arr, x => x.getField("p") >= h)),
      F.array_min(arr)).getField("s")
  }

  private def check(ring: Seq[(Long, Int)], hs: Seq[Long]): Unit = {
    val df = hs.toDF("h")
      .withColumn("kern", graft.plans.RingExpressions
        .ringSuccessor(F.col("h"), ring))
      .withColumn("hof", ringShardHof(F.col("h"), ring))
    val bad = df.filter(F.col("kern") =!= F.col("hof")).collect()
    assert(bad.isEmpty, s"kernel != HOF on: ${bad.mkString(", ")}")
  }

  test("kernel == HOF on the q269 rings across the hash domain") {
    val rb = graft.queries.ScoreQueries.ring(8, 16)
    val ra = graft.queries.ScoreQueries.ring(10, 16)
    val probes = (rb ++ ra).flatMap { case (p, _) =>
      Seq(p - 1, p, p + 1) } ++
      Seq(0L, 1L, Long.MaxValue / 2, (1L << 62) - 1)
    check(rb, probes)
    check(ra, probes)
  }

  test("kernel == HOF on duplicate-position ties and tiny rings") {
    // duplicate positions with different shards: lexicographic
    // struct-min must pick the smallest shard at that position
    val dup = Seq((10L, 3), (10L, 1), (20L, 2), (20L, 0), (30L, 5))
    check(dup, Seq(0L, 9L, 10L, 11L, 15L, 20L, 21L, 29L, 30L, 31L, 100L))
    check(Seq((7L, 0)), Seq(0L, 6L, 7L, 8L, 1000L)) // single vnode
  }
}
