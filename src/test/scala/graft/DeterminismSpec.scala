package graft

/** Cross-run determinism for the iterative family (verdict r7 task 7):
  * the 8-dp per-iteration rounding discipline claims both runs of an
  * iterative algorithm walk identical state; this proves it by running
  * each query twice in one session and asserting bit-identical rows.
  * Catches any hidden dependence on partition evaluation order (float
  * accumulation, unpinned lineage re-evaluation, argmax ties broken by
  * arrival order) that a single-run oracle hash cannot.
  */
class DeterminismSpec extends SparkSpec {

  private val iterative = Seq(
    "q231_bradley_terry", // MM fixed-point fit
    "q232_label_prop",    // 4 LPA rounds over the co-basket graph
    "q246_ppr",           // personalized PageRank power iteration
    "q279_mixture_descent", // multi-round mixture reweighting
    "q294_pq",            // Lloyd rounds over 4 subspaces
    "q302_em_mixture",    // EM rounds, 8-dp state
    "q332_markov_stationary", // 8 power iterations, 1e-8-unit sums
    // not iterative: percentile merges per-task value maps in shuffle
    // arrival order, and its sorted-rank result must not depend on it
    "q339_grouped_quantile",  // long cents
    "q344_grouped_double_quantile") // double revenue

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    // Bit-exact canonical form: every cell via toString (doubles print
    // all distinguishing digits), rows sorted — order is not part of
    // the determinism contract, values are.
    df.collect().map(_.mkString("")).toSeq.sorted
  }

  for (name <- iterative; fn <- SparkEntry.queries.get(name)) {
    test(s"$name is run-to-run deterministic (bit-identical rows)") {
      val a = canon(fn(spark, sf))
      // second run builds the plan from scratch — fresh checkpoints,
      // fresh shuffles, different executor scheduling
      val b = canon(fn(spark, sf))
      assert(a.size == b.size, s"row counts differ: ${a.size} vs ${b.size}")
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"row $i differs:\n  run1: $x\n  run2: $y")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }
}
