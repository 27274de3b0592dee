package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.GraftReleaseBridge

/** Distributed graph algorithms over edge-list DataFrames.
  *
  * Complements [[graft.dedup.Dedup.connectedComponents]] (the
  * dedup-cluster path) with the
  * damped-PageRank iteration — the generic "importance by linkage"
  * score a curation pipeline uses to weight interlinked corpora
  * (hosts↔documents, buyers↔producers).
  *
  * Per-round fixed-cost discipline (round 12): an iterative loop's
  * wall time here is dominated not by data volume but by JOBS per
  * round — an eager `localCheckpoint` is one job plus an O(state)
  * block-manager round-trip, and a separate convergence `count()` is
  * another. Two rules cut that to ONE job per round (or zero for
  * short fixed-round loops) without changing a single output value:
  *
  *  - '''fixed-round loops''' (PageRank, PPR, label propagation) keep
  *    intermediate rounds LAZY and checkpoint every [[CkptRounds]]th
  *    round so a deep loop's lineage stays bounded at scale; PPR and
  *    label propagation also checkpoint the final state (one job runs
  *    the whole chain, vs one job + one O(|V|) cache write per round),
  *    while PageRank returns it lazy (its pins measured no faster);
  *  - '''convergence loops''' (BFS, k-core, CC)
  *    mark the round's state with a LAZY `localCheckpoint(false)` and
  *    let the convergence count materialize it — Spark persists local
  *    checkpoint partitions as the counting job computes them and
  *    truncates lineage at job end, so the ckpt+count pair fuses into
  *    the count job. Superseded rounds release AFTER the fused job
  *    (the release-ordering contract in [[GraftReleaseBridge]]).
  */
object Graph {

  /** Lineage-bound for fixed-round loops kept lazy between
    * checkpoints: every CkptRounds-th round materializes, so a
    * 100-round loop at cluster scale cannot grow an unbounded plan
    * while the common 3-4 round calls run as ONE job. */
  val CkptRounds = 8

  /** Explicit broadcast hints on the O(|V|) state relations were
    * MEASURED AND REJECTED here (round 12): a per-round
    * BroadcastExchange serializes a driver collect of lazily-planned
    * state every round (labelProp 1.0 → 1.9 s warmed at sf0.1), while
    * AQE's runtime join conversion already broadcasts genuinely small
    * sides from ACTUAL shuffle stats — locally and on a cluster —
    * without the driver round-trip. The state-side joins therefore
    * stay planner-chosen. */

  /** Damped PageRank with a fixed iteration count.
    *
    * Input: directed edges `(src: long, dst: long)` (send both
    * directions for an undirected graph). Output: `(node, pr)` for
    * every node incident to an edge; Σ pr = 1 when no node is dangling
    * (dangling nodes receive rank but redistribute nothing — the
    * standard simplification). Requires `iters >= 1` (round 12; the
    * inflow-fold loop has no iteration-0 state to return — callers
    * wanting the uniform base vector compute 1/n directly).
    *
    * Scale shape: each iteration is one join + one keyed groupBy over
    * O(|E|) rows with O(|V|) rank state. Nothing is pinned below
    * [[CkptRounds]] iterations: the edge relation, the node set and
    * the result stay lazy (pinning them measured no faster cold at
    * sf0.1, SCALE.md §library pins), so the returned frame re-runs the
    * loop each time it is evaluated — a caller that reads it more than
    * once pins it itself. The raw `edges` input is read by the node
    * count and by every iteration — hand in a cheap lineage (a
    * checkpointed upstream), as q150 does with its distinct pair set.
    * On a cluster the edges would be a bucketed table on `src`, making
    * the per-iteration join co-located.
    *
    * Ownership: at `iters >= CkptRounds` the returned frame reads the
    * last `CkptRounds` checkpoint, so pageRank does not release it;
    * the harness's per-query sweep (Bench, Verify) frees it with the
    * other pins the query leaves.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select(F.col("src").cast("long").as("src"),
      F.col("dst").cast("long").as("dst"))
    val deg = e.groupBy("src").agg(F.count(F.lit(1)).as("deg"))
    val wedges = e.join(deg, "src")
    val nodes = e.select(F.col("src").as("node"))
      .unionAll(e.select(F.col("dst").as("node")))
      .distinct()
    // N is one driver-side scalar — the same bounded-state exception
    // as CC's convergence count.
    val n = nodes.count().toDouble
    require(iters >= 1, "pageRank needs at least one iteration")
    // The loop iterates on the INFLOW relation, not the rank relation:
    // pr_i(v) = (1−d)/n + d·inflow_i(v) is substituted into the next
    // round's weight expression, so the per-round (nodes ⟕ contrib)
    // join that used to rebuild the rank frame disappears — each round
    // is ONE left join + ONE aggregate, and round 1 (uniform pr_0) is
    // just the aggregate. Bit-identical to the rank-state form (same
    // per-row arithmetic; equality checked over every node at sf0.01).
    var contrib = wedges
      .select(F.col("dst").as("cn"),
        ((F.lit(1.0) / F.lit(n)) / F.col("deg")).as("w"))
      .groupBy("cn").agg(F.sum("w").as("inflow"))
    var lastCk: DataFrame = null
    for (i <- 2 to iters) {
      contrib = wedges
        .join(contrib, F.col("src") === F.col("cn"), "left_outer")
        .select(F.col("dst").as("cn2"),
          (((F.lit(1.0) - damping) / F.lit(n)
            + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)))
            / F.col("deg")).as("w"))
        .select(F.col("cn2").as("cn"), F.col("w"))
        .groupBy("cn").agg(F.sum("w").as("inflow"))
      if (i % CkptRounds == 0) {
        // pin: measured — lazy 16.13 vs 13.26 s at 16 iters, local[4] (3 pairs)
        contrib = contrib.localCheckpoint() // lineage bound, deep loops
        if (lastCk != null) GraftReleaseBridge.release(lastCk)
        lastCk = contrib
      }
    }
    // lazy: the result reads lastCk, which the caller's sweep releases
    nodes
      .join(contrib, F.col("node") === F.col("cn"), "left_outer")
      .select(F.col("node"),
        ((F.lit(1.0) - damping) / F.lit(n)
          + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)))
          .as("pr"))
  }

  /** k-core decomposition by simultaneous peeling: repeatedly delete
    * ALL nodes of degree < k (and their incident edges) until none
    * remain; the survivors are the k-core. Returns `(node, deg)` —
    * each surviving node with its degree inside the core.
    *
    * Input: undirected unique edges `(a: long, b: long)` with a < b.
    *
    * Scale shape: each round is one degree aggregation + two left-anti
    * joins against the (small, shrinking) drop set. Rounds are
    * data-bounded (the degeneracy ordering), not diameter-bounded —
    * simultaneous deletion converges in O(peel-depth) rounds, ≤ ~10 on
    * the co-purchase graphs here. Each round is ONE fused job: the
    * drop-set count materializes that round's lazily-marked edge and
    * drop checkpoints together (O(1) driver rows), and the superseded
    * edge and drop sets release only after the fused job has pinned
    * the edge set that reads them. The INPUT edge relation is
    * checkpointed EAGERLY, like every sibling loop's: round 12 marked
    * it lazy and q186 regressed +15% driver-to-driver — folding the
    * expensive upstream (q186's ΣC(k,2) co-purchase pair build) into
    * the first fused count job costs more than the one job the mark
    * saves. Round-13 min-of-5
    * A/B at sf0.1: lazy input {2.43, 2.20} s, eager input + lazy
    * rounds {1.98, 2.00} s (control q232 steady) — see SCALE.md.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 32): DataFrame = {
    var e = edges.select(F.col("a").cast("long").as("a"),
      F.col("b").cast("long").as("b"))
      // pin: measured — lazy 7.58 vs 4.91 s, local[4]
      .localCheckpoint() // EAGER: keep the upstream out of round 1
    var round = 0
    var done = false
    var lastDeg: DataFrame = null
    // round r's edge set and drop set: the edge set of round r+1 reads
    // both until round r+1's count has materialized it
    var pendingRelease: Seq[DataFrame] = Nil
    while (!done && round < maxRounds) {
      val deg = e.select(F.col("a").as("n"))
        .unionAll(e.select(F.col("b").as("n")))
        .groupBy("n").agg(F.count(F.lit(1)).as("deg"))
      lastDeg = deg
      val drop = deg.filter(F.col("deg") < k).select("n")
        // pin: measured — all round pins lazy 26.4 vs 4.91 s, local[4] (1-run smoke)
        .localCheckpoint(false)
      val nDrop = drop.count()
      pendingRelease.foreach(GraftReleaseBridge.release)
      pendingRelease = Nil
      if (nDrop == 0) {
        done = true
        GraftReleaseBridge.release(drop) // empty; nothing reads it
      } else {
        pendingRelease = Seq(e, drop)
        e = e.join(drop.toDF("a"), Seq("a"), "left_anti")
          .join(drop.toDF("b"), Seq("b"), "left_anti")
          .select("a", "b")
          // pin: measured — all round pins lazy 26.4 vs 4.91 s, local[4] (1-run smoke)
          .localCheckpoint(false) // next round's count materializes it
        round += 1
      }
    }
    // on a maxRounds exit lastDeg is stale (it predates the final edge
    // filter) — recompute so the contract (degrees inside the returned
    // subgraph) holds on every exit path. The recompute is checkpointed
    // and counted so the final LAZILY-marked edge checkpoint
    // materializes before its superseded predecessor (pendingRelease)
    // is released; without this both stayed pinned for the session on
    // this exit path (round-12 ADVICE).
    val deg = if (done && lastDeg != null) lastDeg
      else {
        val d = e.select(F.col("a").as("n"))
          .unionAll(e.select(F.col("b").as("n")))
          .groupBy("n").agg(F.count(F.lit(1)).as("deg"))
          // pin: correctness — the returned degrees must not read `e`, released below
          .localCheckpoint(false)
        d.count() // one job: materializes d AND the final edge ckpt
        pendingRelease.foreach(GraftReleaseBridge.release)
        GraftReleaseBridge.release(e) // d is pinned; e is superseded
        d
      }
    deg.filter(F.col("deg") >= k)
      .select(F.col("n").as("node"), F.col("deg"))
  }

  /** Personalized PageRank with a fixed iteration count: the restart
    * mass teleports to the SEED set (uniform over seeds present in the
    * graph) instead of all nodes — "importance relative to these
    * seeds", the recommendation/influence primitive. Same shape and
    * dangling-mass simplification as [[pageRank]], but pinned where
    * pageRank is not (the pins measured faster cold, SCALE.md §library
    * pins): the loop inputs are checkpointed, iterations stay lazy,
    * the final state checkpoints eagerly (one job for the whole loop),
    * and the pinned loop inputs release once it lands.
    *
    * Input: directed `(src, dst)` edges, `(node)` seeds.
    * Output: `(node, ppr)` for every node incident to an edge.
    * Requires `iters >= 1` (same inflow-fold contract as
    * [[pageRank]]).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val e = edges.select(F.col("src").cast("long").as("src"),
      // pin: measured — PPR's pins lazy 9.24 vs 6.08 s, local[4]
      F.col("dst").cast("long").as("dst")).localCheckpoint()
    val deg = e.groupBy("src").agg(F.count(F.lit(1)).as("deg"))
    val nodes = e.select(F.col("src").as("node"))
      .unionAll(e.select(F.col("dst").as("node")))
      .distinct()
      // pin: measured — PPR's pins lazy 9.24 vs 6.08 s, local[4]
      .localCheckpoint(false)
    val seedsIn = seeds.select(F.col("node").cast("long").as("node"))
      .distinct()
      .join(nodes, Seq("node"), "left_semi")
      // pin: measured — PPR's pins lazy 9.24 vs 6.08 s, local[4]
      .localCheckpoint(false)
    // bounded driver scalar, as pageRank's n; the one count job
    // materializes BOTH lazily-marked checkpoints (nodes, seedsIn)
    val s = seedsIn.count().toDouble
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    val base = nodes
      .join(seedsIn.withColumn("__s", F.lit(1)), Seq("node"), "left_outer")
      .select(F.col("node"),
        F.when(F.col("__s").isNotNull, F.lit(1.0) / F.lit(s))
          .otherwise(F.lit(0.0)).as("base"))
    // Fold each source's restart mass INTO the pinned edge relation
    // once, then iterate on the INFLOW relation (the [[pageRank]]
    // substitution): pr_i(v) = (1−d)·base(v) + d·inflow_i(v) goes
    // straight into the next round's weight expression, so the
    // per-round (base ⟕ contrib) rank rebuild disappears — one left
    // join + one aggregate per round, and round 1 (pr_0 = base) is
    // just the aggregate. Per-row arithmetic is unchanged.
    val wedgesB = e.join(deg, "src")
      .join(base.withColumnRenamed("node", "src"), "src")
      // pin: measured — PPR's pins lazy 9.24 vs 6.08 s, local[4]
      .localCheckpoint()
    var contrib = wedgesB
      .select(F.col("dst").as("cn"),
        (F.col("base") / F.col("deg")).as("w"))
      .groupBy("cn").agg(F.sum("w").as("inflow"))
    var lastCk: DataFrame = null
    for (i <- 2 to iters) {
      contrib = wedgesB
        .join(contrib, F.col("src") === F.col("cn"), "left_outer")
        .select(F.col("dst").as("cn2"),
          (((F.lit(1.0) - damping) * F.col("base")
            + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)))
            / F.col("deg")).as("w"))
        .select(F.col("cn2").as("cn"), F.col("w"))
        .groupBy("cn").agg(F.sum("w").as("inflow"))
      if (i % CkptRounds == 0) {
        // pin: measured — lazy 20.54 vs 8.38 s at 16 iters, local[4] (3 pairs)
        contrib = contrib.localCheckpoint() // lineage bound, deep loops
        if (lastCk != null) GraftReleaseBridge.release(lastCk)
        lastCk = contrib
      }
    }
    val pr = base
      .join(contrib, F.col("node") === F.col("cn"), "left_outer")
      .select(F.col("node"),
        ((F.lit(1.0) - damping) * F.col("base")
          + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)))
          .as("ppr"))
      // pin: measured — PPR's pins lazy 9.24 vs 6.08 s, local[4]
      .localCheckpoint() // one job runs every lazy round above
    // the result is checkpointed — every pinned loop input is superseded
    GraftReleaseBridge.release(e)
    GraftReleaseBridge.release(wedgesB)
    GraftReleaseBridge.release(nodes)
    GraftReleaseBridge.release(seedsIn)
    if (lastCk != null) GraftReleaseBridge.release(lastCk)
    pr
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a FIXED
    * round count and deterministic tie-breaking — community detection
    * over an undirected edge list `(a: long, b: long)` with a < b.
    *
    * Every node starts labeled with its own id; each round every node
    * adopts the most frequent label among its neighbors AND itself
    * (the self-vote damps the 2-coloring oscillation synchronous LPA
    * is prone to on near-bipartite graphs), ties broken toward the
    * SMALLEST label. Fixed rounds + deterministic ties make the result
    * replayable in plain SQL (the oracle unrolls the rounds).
    *
    * Scale shape: the directed edge relation (both directions + one
    * self-loop per node) is localCheckpointed ONCE; each round is one
    * keyed join (edges × labels on src) and two partial-agg'd groupBys
    * — (node, label) counts, then per-node argmax via
    * `max(struct(count, -label))`, which stays a hash aggregate (no
    * per-node window/sort). Rounds stay lazy between [[CkptRounds]]
    * boundaries; the final labels checkpoint eagerly (one job for the
    * whole loop) and the pinned inputs release once they land.
    * Returns `(node, comm)`.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    // pin the (possibly expensive) edge lineage ONCE — nodes and the
    // directed relation both derive from it
    val und = edges.select(F.col("a").cast("long").as("a"),
      // pin: measured — q232 with these pins lazy 6.48 vs 4.88 s, local[32]
      F.col("b").cast("long").as("b")).localCheckpoint()
    val nodes = und.select(F.col("a").as("node"))
      .unionAll(und.select(F.col("b").as("node")))
      // pin: measured — q232 with these pins lazy 6.48 vs 4.88 s, local[32]
      .distinct().localCheckpoint(false) // materialized by dir's job
    val dir = und.select(F.col("a").as("src"), F.col("b").as("dst"))
      .unionAll(und.select(F.col("b").as("src"), F.col("a").as("dst")))
      .unionAll(nodes.select(F.col("node").as("src"),
        F.col("node").as("dst")))
      // pin: measured — q232 with these pins lazy 6.48 vs 4.88 s, local[32]
      .localCheckpoint()
    var lab = nodes.select(F.col("node"), F.col("node").as("lab"))
    var lastCk: DataFrame = null
    for (r <- 1 to rounds) {
      // per-node argmax in ONE aggregation: deterministic mode() is
      // defined as the most frequent value with ties to the SMALLEST —
      // exactly the (count desc, label asc) argmax the two-groupBy
      // form ((dst, lab) counts, then max(struct(c, -lab))) computed,
      // for one exchange per round instead of two (equality pinned in
      // EvalSpec). State is a per-dst label-count map, bounded by
      // degree + 1 — the same rows the (dst, lab) shuffle carried.
      lab = dir.join(lab, F.col("src") === F.col("node"))
        .groupBy("dst")
        .agg(F.expr("mode(lab, true)").as("lab"))
        .select(F.col("dst").as("node"), F.col("lab"))
      if (r % CkptRounds == 0 || r == rounds) {
        // at 16 rounds: lazy 10.58 vs 6.91 s, local[4] (3 pairs)
        // pin: measured — q232 lazy 6.48 vs 4.88 s, local[32]
        lab = lab.localCheckpoint() // one job runs every lazy round above
        if (lastCk != null) GraftReleaseBridge.release(lastCk)
        lastCk = lab
      }
    }
    // final labels are checkpointed — the pinned inputs are superseded
    GraftReleaseBridge.release(und)
    GraftReleaseBridge.release(dir)
    GraftReleaseBridge.release(nodes)
    lab.select(F.col("node"), F.col("lab").as("comm"))
  }

  /** Multi-source BFS: minimum hop distance from any seed, frontier
    * expansion bounded to `maxHops` rounds. Returns `(node, hop)` for
    * every node reachable within the bound (seeds at hop 0).
    *
    * Input: directed edges `(src: long, dst: long)` (send both
    * directions for undirected), seeds `(node: long)`.
    *
    * Scale shape: the textbook distributed BFS — each round joins the
    * current FRONTIER (not the visited set, not the whole graph)
    * against the edge list, then anti-joins the accumulated visited
    * set so a node's first discovery wins (= min hop, no per-node min
    * aggregation needed). Each round is ONE fused job: the frontier's
    * liveness count materializes its lazily-marked checkpoint, and the
    * visited set is never materialized at all — it stays a lazy UNION
    * of the (disjoint) checkpointed frontiers, so the old per-round
    * visited checkpoint (an O(|V|) rewrite of mostly-unchanged rows
    * every round) disappears. The returned frame is that union with
    * hop literals — O(|V|) total cached rows across the frontiers,
    * the same residency as the old single visited checkpoint.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int)
      : DataFrame = {
    val e = edges.select(F.col("src").cast("long").as("src"),
      // pin: measured — q213 with these pins lazy 9.81 vs 5.27 s, local[4]
      F.col("dst").cast("long").as("dst")).localCheckpoint()
    var frontier = seeds.select(F.col("node").cast("long").as("node"))
      // pin: measured — q213 with these pins lazy 9.81 vs 5.27 s, local[4]
      .distinct().localCheckpoint(false) // the liveness count materializes it
    // hop-stamped, disjoint, individually checkpointed frontiers;
    // their union IS the visited set (and the result)
    var layers = List(frontier.select(F.col("node"), F.lit(0L).as("hop")))
    var h = 1
    var visitedRows = frontier.count()
    var live = visitedRows > 0
    while (live && h <= maxHops) {
      val visited = layers.map(_.select("node")).reduce(_ unionAll _)
      val next = e.join(frontier, F.col("src") === F.col("node"))
        .select(F.col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        // pin: measured — q213 lazy 33.5 vs 5.27 s, local[4] (1-run smoke)
        .localCheckpoint(false)
      val nNext = next.count() // ONE job: materializes next AND counts it
      live = nNext > 0
      visitedRows += nNext
      if (live) {
        frontier = next
        layers ::= next.select(F.col("node"), F.lit(h.toLong).as("hop"))
      } else {
        GraftReleaseBridge.release(next) // dead round: nothing new found
      }
      h += 1
    }
    // the layers' checkpoints back the result — release only the edges
    GraftReleaseBridge.release(e)
    layers.reduce(_ unionAll _)
  }
}
