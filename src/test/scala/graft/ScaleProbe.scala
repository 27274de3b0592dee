package graft

import org.apache.spark.sql.{functions => F}

/** One-off scaling probe (test scope, not shipped — r7 verdict stretch
  * task 9): the SCALE.md curves stop at sf0.1, so hidden
  * superlinearity in the slow families (graph iteration, exact kNN,
  * prefix-filtered Jaccard) would first surface on a real cluster.
  * This replicates each family's sf0.1 input 10× under shifted ids —
  * the sf1-equivalent volume — and times the operator at 1× and 10×.
  * Replication semantics per family:
  *   - LPA: 10 disjoint graph clones (shifted node ids) — 10× edges
  *     through the same 4 rounds.
  *   - prefix-Jaccard: 10 identical corpus clones (shifted doc_ids) —
  *     a deliberately dup-HEAVY corpus (every doc now has 9 exact
  *     twins), the worst realistic load for the verify join.
  *   - exact kNN: 10 corpus clones — every BnB cell gets 10× density,
  *     and each query's true top-k is all clones (max tie pressure).
  *
  * Run: sbt "Test/runMain graft.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.1"

    def timed(name: String)(body: => Long): Unit = {
      // sweep only what the run itself pinned — the shared input
      // checkpoints (edges/docs/emb) must survive into the next run
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val n = body
      println(f"[scale-probe] $name: rows=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
    }

    // ---- label propagation (q232's edge pipeline) -------------------
    val ol = T.load(spark, sf, "lineitem")
      .select(F.col("l_orderkey").as("o"), F.col("l_partkey").as("p"))
      .distinct()
    val edges = ol.toDF("o", "a")
      .join(ol.toDF("o2", "b"),
        F.col("o") === F.col("o2") && F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("nab"))
      .filter(F.col("nab") >= 2)
      .select("a", "b")
      .localCheckpoint() // time the operator, not the edge build
    def repEdges(times: Int) = (0 until times).map(i => edges.select(
      (F.col("a") + F.lit(i.toLong * 10000000L)).as("a"),
      (F.col("b") + F.lit(i.toLong * 10000000L)).as("b")))
      .reduce(_ unionAll _)
    timed("lpa 1x sf0.1") {
      graft.ops.Graph.labelPropagation(repEdges(1), rounds = 4).count()
    }
    timed("lpa 10x sf0.1") {
      graft.ops.Graph.labelPropagation(repEdges(10), rounds = 4).count()
    }

    // ---- prefix-Jaccard (q157) --------------------------------------
    val docs = T.load(spark, sf, "documents")
      .select(F.col("doc_id"), graft.plans.TextExpressions
        .wordShingles(F.col("text"), 3).as("sh"))
      .localCheckpoint()
    def repDocs(times: Int) = (0 until times).map(i => docs.select(
      (F.col("doc_id") + F.lit(i.toLong * 100000000L)).as("doc_id"),
      F.col("sh"))).reduce(_ unionAll _)
    timed("prefix-jaccard 1x sf0.1") {
      graft.dedup.Dedup
        .jaccardPairsPrefix(repDocs(1), "doc_id", "sh", 1, 2).count()
    }
    timed("prefix-jaccard 10x sf0.1 (dup-heavy)") {
      graft.dedup.Dedup
        .jaccardPairsPrefix(repDocs(10), "doc_id", "sh", 1, 2).count()
    }

    // ---- exact kNN branch-and-bound (q207's core) --------------------
    // clones carry the Sf1Gen 1e-4 component-0 jitter: EXACT clone
    // vectors collapse the BnB bounds into zero-distance ties and the
    // probe reads artificially flat (the round-10 finding); jittered
    // clones measure true density growth.
    val emb = T.load(spark, sf, "embeddings")
      .select(F.col("vec_id"), F.col("embedding")).localCheckpoint()
    def repEmb(times: Int) = (0 until times).map(i => emb.select(
      (F.col("vec_id") + F.lit(i.toLong * 100000000L)).as("vec_id"),
      F.expr(s"transform(embedding, (x, j) -> CASE WHEN j = 0 " +
        s"THEN cast(x + $i * 1.0e-4 as float) ELSE x END)")
        .as("embedding"))).reduce(_ unionAll _)
    val qs = emb.filter(F.col("vec_id") < 50)
    // adaptive cell sizing picks bits = clamp(⌈log₂(n/256)⌉, 4, 16):
    // 1× (2k vectors) → 4 bits, 10× (20k) → 7 bits — both literal-path;
    // 35× (70k) → 9 bits — the round-11 BROADCAST-JOIN path, reached
    // naturally through the same adaptive default the queries use
    timed("exact-knn 1x sf0.1 (jittered, 4-bit literal)") {
      graft.similarity.Knn
        .exactKnnBnB(repEmb(1), qs, "vec_id", "embedding", 10).count()
    }
    timed("exact-knn 10x sf0.1 (jittered, 7-bit literal)") {
      graft.similarity.Knn
        .exactKnnBnB(repEmb(10), qs, "vec_id", "embedding", 10).count()
    }
    timed("exact-knn 35x sf0.1 (jittered, 9-bit broadcast-join)") {
      graft.similarity.Knn
        .exactKnnBnB(repEmb(35), qs, "vec_id", "embedding", 10).count()
    }
    // round-12 verdict task 5: a SECOND point on the bits 9-16 join
    // path (100× → 200k vectors → 10 bits through the same adaptive
    // default), so the path rated to bits 16 has its own scaling
    // curve — one point is a reading, two are a slope
    timed("exact-knn 100x sf0.1 (jittered, 10-bit broadcast-join)") {
      graft.similarity.Knn
        .exactKnnBnB(repEmb(100), qs, "vec_id", "embedding", 10).count()
    }

    // ---- CC endgame crossover (round-12 verdict task 6) --------------
    // The union-find endgame claims to replace only the LAST O(log)
    // rounds: grow the chain graph past CcEndgameMaxEdges and prove
    // the bound degrades gracefully — the star loop must converge to
    // the forest ON ITS OWN when the converged edge set (nodes −
    // components, constant for chains) can never fit the 65,536-edge
    // collect budget. Chains of 50 nodes at stride-64 bases make the
    // expected label pure arithmetic: comp(id) = (id div 64) * 64.
    //  - 1,200 chains → 58.8k edges ≤ bound: endgame engages at once;
    //  - 40,000 chains → 1.96M edges, forest 1.96M > bound: the
    //    endgame is disabled-BY-SIZE for the entire run, so a
    //    converged, fully-correct result here is the distributed
    //    loop's own (the require inside connectedComponents fails
    //    loudly if 30 rounds ever stop sufficing).
    import spark.implicits._
    def chains(n: Int) = spark.range(0L, n.toLong * 49L).select(
      ((F.col("id") / 49).cast("long") * 64L
        + F.col("id") % 49).as("id1"),
      ((F.col("id") / 49).cast("long") * 64L
        + F.col("id") % 49 + 1L).as("id2"))
    def assertCc(n: Int, tag: String): Long = {
      val cc = graft.dedup.Dedup.connectedComponents(chains(n))
      val bad = cc.filter(
        F.col("comp") =!= F.expr("(id div 64) * 64")).count()
      require(bad == 0L, s"cc-crossover $tag: $bad mislabeled nodes")
      cc.count()
    }
    timed("cc-star 1200 chains / 58.8k edges (endgame engages)") {
      assertCc(1200, "below-bound")
    }
    timed("cc-star 40k chains / 1.96M edges (endgame disabled-by-size)") {
      assertCc(40000, "above-bound")
    }
    spark.stop()
  }
}
