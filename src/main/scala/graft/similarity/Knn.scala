package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.plans.VectorExpressions.cosineF

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force exact top-k is the correctness baseline: broadcast the
  * (small) query set against the corpus — one scan, no shuffle of the
  * corpus, per-partition partial ranking. The IVF variant is the scale
  * path: restrict the scan to the `nprobe` nearest coarse cells.
  */
object Knn {

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, sim, rank) with deterministic
    * (sim desc, id asc) ranking.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val q = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).as("qvec"))
    val c = corpus.select(F.col(idCol).as("neighbor_id"),
      F.col(vecCol).as("cvec"))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("sim").desc, F.col("neighbor_id").asc)
    c.join(F.broadcast(q), F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("sim",
        F.floor(cosineF(F.col("qvec"), F.col("cvec")) * 1e6 + 0.5) / 1e6)
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the top-k most-similar corpus vectors with a DIFFERENT label —
    * the negatives that actually teach the model. Same broadcast
    * shape as [[bruteForceKnn]] (queries broadcast, corpus never
    * shuffles); the label-mismatch predicate prunes inside the join.
    * Output: (query_id, neighbor_id, sim, rank).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val q = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).as("qvec"), F.col(labelCol).as("__qlab"))
    val c = corpus.select(F.col(idCol).as("neighbor_id"),
      F.col(vecCol).as("cvec"), F.col(labelCol).as("__clab"))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("sim").desc, F.col("neighbor_id").asc)
    c.join(F.broadcast(q), F.col("__clab") =!= F.col("__qlab"))
      .withColumn("sim",
        F.floor(cosineF(F.col("qvec"), F.col("cvec")) * 1e6 + 0.5) / 1e6)
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Per-label (feature, dimension) z-normalization — the embedding
    * whitening pass before similarity search or clustering when
    * per-class feature scales differ. Two compact-key shuffles:
    * posexplode → (label, pos) partial-agg'd moments, join back, and a
    * per-vector summary aggregation. Output: (idCol, z_sum, z_min,
    * z_max) — rounded at 4 digits because z sums are parallel float
    * reductions (float policy).
    */
  def zNormalizeStats(corpus: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val ex = corpus.select(F.col(idCol), F.col(labelCol),
      F.posexplode(F.col(vecCol)).as(Seq("pos", "x")))
      .withColumn("x", F.col("x").cast("double"))
    val st = ex.groupBy(labelCol, "pos").agg(
      F.avg("x").as("mu"), F.stddev_samp(F.col("x")).as("sd"))
    // degenerate groups: Spark stddev_samp is NaN at n=1 where DuckDB
    // returns NULL, and a constant dimension gives sd=0 (division by
    // zero). Null the z value in BOTH cases — the oracle's
    // nullif(sd, 0) plus its native n=1 NULL produce the same rows,
    // and sum/min/max skip nulls identically on both engines.
    ex.join(st, Seq(labelCol, "pos"))
      .withColumn("__sd", F.when(F.isnan(F.col("sd"))
        || F.col("sd") === 0.0, F.lit(null)).otherwise(F.col("sd")))
      .withColumn("zv", (F.col("x") - F.col("mu")) / F.col("__sd"))
      .groupBy(idCol)
      .agg((F.floor(F.sum("zv") * 1e4 + 0.5) / 1e4).as("z_sum"),
        (F.floor(F.min("zv") * 1e4 + 0.5) / 1e4).as("z_min"),
        (F.floor(F.max("zv") * 1e4 + 0.5) / 1e4).as("z_max"))
  }

  /** Per-label centroids (IVF coarse quantizer learned from the data):
    * posexplode embeddings → avg per (label, dim) → reassemble ordered.
    */
  def centroids(corpus: DataFrame, labelCol: String,
                vecCol: String): DataFrame =
    corpus
      .select(F.col(labelCol), F.posexplode(F.col(vecCol)).as(Seq("pos", "v")))
      .groupBy(labelCol, "pos")
      .agg(F.avg(F.expr("cast(v as double)")).as("cv"))
      .groupBy(labelCol)
      .agg(F.expr(
        "transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
        .as("centroid"))

  /** IVF-style ANN: route each query to its `nprobe` nearest centroids,
    * then exact-rank only the vectors in those cells. At scale the
    * corpus is hash-partitioned (or bucketed) by cell id, so a probe
    * touches `nprobe/ncells` of the data instead of all of it.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, labelCol: String, k: Int,
             nprobe: Int): DataFrame = {
    val cents = centroids(corpus, labelCol, vecCol)
    val q = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).as("qvec"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(F.col("csim").desc, F.col(labelCol).asc)
    val probes = q.crossJoin(F.broadcast(cents))
      .withColumn("cf", F.expr("transform(centroid, x -> cast(x as float))"))
      // probe ranking compares the ROUNDED centroid similarity (6 dp,
      // label tiebreak): the float-cast centroid is bit-stable across
      // engines (avg noise ~1e-16 is far below float ulp) and rounding
      // removes the residual double-summation-order noise, so an
      // oracle can reproduce the routing decision exactly (q46)
      .withColumn("csim",
        F.floor(cosineF(F.col("qvec"), F.col("cf")) * 1e6 + 0.5) / 1e6)
      .withColumn("crank", F.row_number().over(probeW))
      .filter(F.col("crank") <= nprobe)
      .select(F.col("query_id"), F.col("qvec"), F.col(labelCol))
    val c = corpus.select(F.col(idCol).as("neighbor_id"),
      F.col(vecCol).as("cvec"), F.col(labelCol))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("sim").desc, F.col("neighbor_id").asc)
    c.join(F.broadcast(probes), Seq(labelCol))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("sim",
        F.floor(cosineF(F.col("qvec"), F.col("cvec")) * 1e6 + 0.5) / 1e6)
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** EXACT top-k cosine kNN with branch-and-bound cell pruning — the
    * scale replacement for [[bruteForceKnn]] when the query set is the
    * whole corpus (self-kNN: mutual-kNN graphs, LOF, dedup).
    *
    * Unlike probe-limited IVF ([[ivfKnn]], approximate), this is
    * provably exact, so it can sit under a hash-checked oracle:
    *  1. partition the corpus into 2^`cellBits` cells by seeded
    *     signed-random-projection signs ([[Srp.hyperplanes]]) — a pure
    *     codegen projection, no iterative training;
    *  2. per cell, precompute the Cauchy-Schwarz bound ingredients —
    *     for unit query u and member y (normalized), every y in cell j
    *     satisfies u.y <= u.c_j + r_j where c_j is the mean of the
    *     cell's normalized members and r_j = max_y ||y - c_j||. The
    *     O(ncells) stats table is collected and baked into the plan as
    *     LITERALS (the bounded-collect class: 16 rows, like the
    *     quantile histograms) so probe selection is one projection;
    *  3. phase A: exact-score the `nprobe` cells with largest u.c_j ->
    *     per-query kth-best rounded sim t_q (the pruning threshold);
    *  4. phase B: visit ONLY the remaining cells with upper bound
    *     u.c_j + r_j >= t_q - 1e-6 (the margin keeps 6-dp ties that
    *     could win on the id tiebreak, and absorbs double slop);
    *  5. merge and keep the top k.
    * On clusterable data phase B prunes to ~nothing and the scan cost
    * is nprobe/ncells of brute force; on adversarially uniform data it
    * degrades to a full scan but NEVER a wrong answer. The corpus is
    * joined on the cell key (shuffle join — the hint requests SHJ,
    * the optimizer may pick SMJ; either way the corpus is never
    * broadcast), and every ranking runs on the bounded-memory
    * [[TopKAgg]], so shuffles carry O(queries x k), not O(n^2): the
    * two properties brute force lacks at 100 TB.
    * Output: (query_id, neighbor_id, sim, rank) — identical contract
    * and rounding/tiebreak semantics to [[bruteForceKnn]].
    *
    * `cellBits = 0` (the default) sizes the grid to the CORPUS: bits =
    * clamp(⌈log₂(n / 256)⌉, 4, 16). Fixed cells were the round-10 sf1
    * finding — at 10× density each cell holds 10× vectors and the
    * per-query pair work grows superlinearly (measured 35× for q207);
    * constant per-cell occupancy restores ~linear growth. Bits ≤ 8
    * bake the cell stats into the plan as literals (bounded collect);
    * bits 9..16 (round-11 verdict task 2) switch to a BROADCAST JOIN
    * against the stats relation with TopKAgg probe ranking — same
    * algorithm, exact same results (PipelineSpec pins the equality),
    * no literal blow-up. The count is one bounded scalar job off the
    * corpus pin, and the result set is EXACT for every bits value, so
    * the choice can never change an oracle hash — only the pruning
    * economics.
    */
  def exactKnnBnB(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, dim: Int = 64,
                  cellBits: Int = 0, nprobe: Int = 4,
                  seed: Long = 11L): DataFrame = {
    import graft.plans.VectorExpressions.{dotF, normF}
    // per-vector norm precomputed ONCE: pair scoring is then
    // dot/(qn*cn) — 3x fewer flops than cosineF per pair, and
    // bit-identical to it (same kernel, same op order; zero guard kept)
    // pinned FIRST (round-10 ADVICE: the adaptive count used to
    // re-evaluate the whole corpus plan a second time): this pin feeds
    // the adaptive count plus FOUR consumers — the two stats passes
    // (cents, cellStats) and the phase-A / phase-B scoring joins.
    // Without a pin the scan re-runs for each (measured 21.7 s → the
    // dominant cost of q207 in r5's bench). The cell id is a cheap
    // projection over the pin (bits ≤ 16 sign dots per row),
    // re-derived per consumer rather than double-materialized.
    // Bench/Verify sweep the blocks post-query.
    val base = corpus
      .select(F.col(idCol).as("neighbor_id"), F.col(vecCol).as("cvec"),
        normF(F.col(vecCol)).as("cn"))
      .localCheckpoint(false) // the adaptive count materializes it
    val bits =
      if (cellBits > 0) cellBits
      else {
        // one long; the count job also materializes the lazily-marked
        // pin (ckpt+count fused — round 12), so the plan still runs once
        val n = base.count()
        math.min(16, math.max(4,
          math.ceil(math.log(math.max(1.0, n / 256.0)) / math.log(2.0))
            .toInt))
      }
    // ≤ 8 bits: stats collect to O(256) plan literals (the bounded-
    // collect class). 9..16 bits: stats become a broadcast-joined
    // relation (round-11 verdict task 2) — same algorithm, same exact
    // results, no literal blow-up. Past 16 bits the 2^bits stats
    // relation itself stops being broadcast material; at that corpus
    // scale (n ≳ 16M vectors at 256/cell) ANN (ivfKnn) is the
    // production path and exact kNN remains the audit tool.
    require(bits <= 16,
      s"cellBits=$bits: 2^$bits cell stats exceed the broadcast-join " +
        "envelope; use ivfKnn (ANN) at this corpus scale")
    val planes = Srp.hyperplanes(dim, bits, seed)
    // r15: fused SRP kernel (sum of distinct powers of two == bitwise
    // OR, so this is the exact cell id the when(dotF)-sum tree built;
    // SrpBitsSpec pins equality) — one call per row, compact codegen.
    def cellOf(v: Column): Column =
      graft.plans.VectorExpressions.srpBitsF(v, planes)
    // zero-norm vectors have no direction, so the Cauchy-Schwarz cell
    // bound cannot cover them — quarantine them in sentinel cell -1,
    // which gets a manufactured always-visited stats row below (their
    // cosine is DEFINED as 0 by the kernel guard, matching cosineF)
    val assigned = base
      .withColumn("cell", F.when(F.col("cn") === 0d, F.lit(-1L))
        .otherwise(cellOf(F.col("cvec"))))
    // centroid of each cell's NORMALIZED members + its radius, in ONE
    // bounded-key aggregation: 64 per-dimension avg aggregates over the
    // (cell)-keyed rows (round 12 — the posexplode formulation carried
    // 64×n rows through TWO exchanges for the same numbers; per-dim avg
    // of element_at(cvec, i)/cn is the identical double arithmetic in
    // the identical per-cell row order)
    val cents = assigned
      .filter(F.col("cell") >= 0)
      .groupBy("cell")
      .agg(F.avg(F.col("cvec").getItem(0).cast("double") / F.col("cn"))
          .as("c0"),
        (1 until dim).map(i =>
          F.avg(F.col("cvec").getItem(i).cast("double") / F.col("cn"))
            .as(s"c$i")): _*)
      .select(F.col("cell"),
        F.array((0 until dim).map(i =>
          F.col(s"c$i").cast("float")): _*).as("cf"))
      .withColumn("cnorm", F.sqrt(dotF(F.col("cf"), F.col("cf"))))
    val cellStats = assigned
      .join(F.broadcast(cents), "cell")
      .withColumn("ycdot", dotF(F.col("cvec"), F.col("cf"))
        / F.col("cn"))
      .groupBy("cell")
      .agg(F.sqrt(F.greatest(F.max(F.lit(1.0) - F.lit(2.0)
          * F.col("ycdot") + F.col("cnorm") * F.col("cnorm")),
        F.lit(0.0))).as("r"),
        F.first(F.col("cf")).as("cf"))
    val q = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).as("qvec"), normF(F.col(vecCol)).as("qn"))
    def score(cand: DataFrame): DataFrame = cand
      .join(assigned.hint("shuffle_hash"), "cell")
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("sim", F.floor(
        F.when(F.col("qn") === 0d || F.col("cn") === 0d, 0d)
          .otherwise(dotF(F.col("qvec"), F.col("cvec"))
            / (F.col("qn") * F.col("cn"))) * 1e6 + 0.5) / 1e6)
      .select("query_id", "neighbor_id", "sim")

    if (bits <= 8) {
      // ---- literal path ------------------------------------------------
      // O(2^cellBits) rows -> plan literals (bounded collect, like the
      // quantile histogram refinement)
      val stats = cellStats
        .select("cell", "cf", "r").collect()
        .map(row => (row.getLong(0), row.getSeq[Float](1).toArray,
          row.getDouble(2)))
        .sortBy(_._1)
        // sentinel cell for zero-norm members: zero centroid + r = 3
        // makes its bound 3.0 > any cosine threshold, so it is visited
        // for every query and its members are always exact-scored
        .prepended((-1L, Array.fill(dim)(0f), 3.0))
      // one projection computes every cell's exact u.c_j and bound, and
      // ranks cells by u.c_j (cell-id tiebreak) via array_sort on structs
      val cellArr = F.array_sort(F.array(stats.map { case (c, cf, r) =>
        // ANSI mode: a zero-norm query must not reach the divide; its
        // u.c_j is defined 0, and with all its sims 0 the ub = r >= 0
        // bound keeps every cell (no pruning), preserving exactness
        val ucj = F.when(F.col("qn") === 0d, 0d)
          .otherwise(dotF(F.col("qvec"), F.typedlit(cf)) / F.col("qn"))
        F.struct((-ucj).as("negu"), F.lit(c).as("cell"),
          (ucj + F.lit(r)).as("ub"))
      }: _*))
      val ranked = q.withColumn("cells", cellArr)
      // phase A pinned by an eager checkpoint (n x k rows): the tq
      // branch, the candB derivation and the final union all read it —
      // without the pin the whole probe scoring would re-run up to 3x.
      // Bench/Verify sweep the blocks post-query.
      val topA = TopK.perGroup[Long](
        score(ranked.select(F.col("query_id"), F.col("qvec"), F.col("qn"),
          F.explode(F.expr(s"slice(cells, 1, $nprobe)")).as("pc"))
          .select(F.col("query_id"), F.col("qvec"), F.col("qn"),
            F.col("pc.cell").as("cell"))),
        Seq("query_id"), "sim", "neighbor_id", k)
        .localCheckpoint()
      // threshold: kth-best rounded sim among probed cells (no k
      // candidates yet -> -2 = no pruning possible for that query)
      val tq = topA.filter(F.col("rank") === k)
        .select(F.col("query_id"), F.col("sim").as("tq"))
      // phase B: slice PAST the probed prefix (disjoint by construction)
      // and keep only cells whose bound beats the threshold
      val candB = score(ranked
        .join(tq, Seq("query_id"), "left_outer")
        .select(F.col("query_id"), F.col("qvec"), F.col("qn"),
          F.coalesce(F.col("tq"), F.lit(-2.0)).as("t"),
          F.explode(F.expr(
            s"slice(cells, ${nprobe + 1}, ${stats.length})")).as("pc"))
        // a zero-norm query ties every sim at 0, so it must visit every
        // cell for the id-asc tiebreak to be global. With the guarded
        // ucj its bounds are 0 + r >= 0 >= t - 1e-6 (t is 0.0 or -2.0),
        // so the main predicate already keeps every cell — the explicit
        // disjunct just pins the invariant against future bound changes
        .filter(F.col("pc.ub") >= F.col("t") - F.lit(1e-6)
          || F.col("qn") === 0d)
        .select(F.col("query_id"), F.col("qvec"), F.col("qn"),
          F.col("pc.cell").as("cell")))
      TopK.perGroup[Long](
        topA.select("query_id", "neighbor_id", "sim").unionAll(candB),
        Seq("query_id"), "sim", "neighbor_id", k)
    } else {
      // ---- broadcast-stats-join path (bits 9..16, round 11) -----------
      // Identical algorithm and EXACT same results (every phase is
      // exhaustive over the same cell partition; PipelineSpec pins
      // literal == join equality): the stats relation is broadcast and
      // the per-query cell ranking runs through the bounded TopKAgg
      // (shuffle carries O(queries × nprobe)), never a window over the
      // O(queries × 2^bits) score relation and never a literal array.
      val spark = corpus.sparkSession
      import spark.implicits._
      val sentinel = Seq((-1L, Array.fill(dim)(0f), 3.0))
        .toDF("cell", "cf", "r")
      val statsDf = cellStats.select(F.col("cell"), F.col("cf"), F.col("r"))
        .unionByName(sentinel)
        .localCheckpoint() // O(2^bits) rows; read by 2 scoring passes
      // exact u.c_j per (query, cell) — the same guarded expression as
      // the literal path's cellArr, evaluated against the broadcast
      // relation; re-derived for phase B rather than materializing the
      // O(queries × 2^bits) relation (the literal path re-evaluates
      // its cellArr projection for phase B the same way)
      def cellScoreAll(qdf: DataFrame): DataFrame = qdf
        .crossJoin(F.broadcast(statsDf))
        .withColumn("ucj", F.when(F.col("qn") === 0d, 0d)
          .otherwise(dotF(F.col("qvec"), F.col("cf")) / F.col("qn")))
      // probe selection: top-nprobe cells per query by (ucj desc,
      // cell asc) — the same order the literal path's array_sort uses
      val probes = TopK.perGroup[Long](
        cellScoreAll(q).select(F.col("query_id"), F.col("ucj"),
          F.col("cell")),
        Seq("query_id"), "ucj", "cell", nprobe, rankName = "crank")
        .localCheckpoint() // O(queries × nprobe); read twice (A + bound)
      val topA = TopK.perGroup[Long](
        score(probes.select("query_id", "cell").join(q, "query_id")),
        Seq("query_id"), "sim", "neighbor_id", k)
        .localCheckpoint()
      val tq = topA.filter(F.col("rank") === k)
        .select(F.col("query_id"), F.col("sim").as("tq"))
      // the probe boundary: phase B = cells STRICTLY after it in
      // (ucj desc, cell asc) order — the join-path equivalent of
      // slicing past the probed prefix (disjoint by construction)
      val bound = probes.filter(F.col("crank") === nprobe)
        .select(F.col("query_id"), F.col("ucj").as("bu"),
          F.col("cell").as("bc"))
      val candB = cellScoreAll(q
          .join(bound, Seq("query_id")) // every query ranks ≥ nprobe cells
          .join(tq, Seq("query_id"), "left_outer")
          .select(F.col("query_id"), F.col("qvec"), F.col("qn"),
            F.col("bu"), F.col("bc"),
            F.coalesce(F.col("tq"), F.lit(-2.0)).as("t")))
        .filter(F.struct((-F.col("ucj")).as("u"), F.col("cell").as("c"))
          > F.struct((-F.col("bu")).as("u"), F.col("bc").as("c")))
        // zero-norm queries keep every cell (see the literal path)
        .filter(F.col("ucj") + F.col("r") >= F.col("t") - F.lit(1e-6)
          || F.col("qn") === 0d)
        .select(F.col("query_id"), F.col("qvec"), F.col("qn"),
          F.col("cell"))
      TopK.perGroup[Long](
        topA.select("query_id", "neighbor_id", "sim")
          .unionAll(score(candB)),
        Seq("query_id"), "sim", "neighbor_id", k)
    }
  }

  /** Pairs of near-duplicate embeddings (cosine >= threshold) within a
    * blocking column — the embedding-space analog of Dedup. */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    val a = corpus.select(F.col(idCol).as("id1"), F.col(vecCol).as("v1"),
      F.col(blockCol))
    val b = corpus.select(F.col(idCol).as("id2"), F.col(vecCol).as("v2"),
      F.col(blockCol))
    a.join(b, Seq(blockCol))
      .filter(F.col("id1") < F.col("id2"))
      .withColumn("sim",
        F.floor(cosineF(F.col("v1"), F.col("v2")) * 1e6 + 0.5) / 1e6)
      .filter(F.col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }
}
