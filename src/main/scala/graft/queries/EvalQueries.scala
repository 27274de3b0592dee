package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.T
import graft.dedup.Dedup
import graft.plans.TextExpressions
import graft.sketch.CountMin
import graft.text.TextOps
import org.apache.spark.sql.GraftReleaseBridge

/** Waves 9-17 (q231-q261): evaluation / governance / training-infra
  * operators — pairwise-preference strength fitting (the RLHF
  * reward-data report), label-propagation communities, sketch-based
  * join-size estimation, right-to-be-forgotten cascades, held-out
  * Stupid-Backoff LM scoring, silhouette cluster quality, k-anonymity
  * audits, incremental materialized-view maintenance, sliding-window
  * distinct-user sketches, shard balancing, Cohen's kappa, MMR and
  * k-center greedy selection, CUPED / SRM / permutation-test
  * experiment guardrails, join-key skew and event-time disorder
  * audits, near-dup explanations and label-noise audits, personalized
  * PageRank, Heaps/Hill scaling diagnostics, seasonal decomposition,
  * class balancing, BPE pair counting, grouping sets, negative
  * sampling, and tolerance-bounded as-of joins.
  *
  * Reference scope: these extend the reference's split-apply-combine /
  * join algebra (/root/reference/src/grouping.jl, merge.jl) into the
  * reports a large-scale training-data pipeline ships; each entry is
  * oracle-gated like every other wave.
  */
object EvalQueries extends QueryRegistry {

  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

  private val duckShingles3 =
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])"

  /** Bradley–Terry pair aggregation: within each order, brands compete
    * by total quantity (strict winner only). Returns one row per
    * (b1 < b2) pair: n comparisons, w1 wins for b1. Shared by q231 and
    * EvalSpec. */
  private[graft] def btPairs(li: DataFrame, part: DataFrame): DataFrame = {
    val cmp = li.join(part, F.col("l_partkey") === F.col("p_partkey"))
      .groupBy(F.col("l_orderkey").as("o"), F.col("p_brand").as("br"))
      .agg(F.sum("l_quantity").as("q"))
    cmp.select(F.col("o"), F.col("br").as("b1"), F.col("q").as("q1"))
      .join(cmp.select(F.col("o").as("o2"), F.col("br").as("b2"),
        F.col("q").as("q2")),
        F.col("o") === F.col("o2") && F.col("b1") < F.col("b2")
          && F.col("q1") =!= F.col("q2"))
      .groupBy("b1", "b2")
      .agg(F.count(F.lit(1)).as("n"),
        F.count(F.when(F.col("q1") > F.col("q2"), 1)).as("w1"))
  }

  /** Fixed-iteration Bradley–Terry MM fit (Hunter 2004) over a pair
    * aggregate. Per iteration: w_i' = W_i / Σ_j n_ij/(w_i+w_j),
    * normalized to mean 1 and rounded to 8 dp (both engines iterate on
    * identical rounded state, so FP summation-order noise cannot
    * accumulate). Shared by q231 and EvalSpec.
    *
    * r15 optimization (guide §1.2 "the distributed algorithm" + §5
    * "the driver should do almost no data work" — and this is no data
    * work): the pair aggregate is O(items²) where items is a bounded
    * catalog attribute (25 brands), yet the plan-side MM loop cost ~45
    * tiny Spark jobs (2 state joins + 1 scalar agg + 1 broadcast + 1
    * eager checkpoint per iteration × 5) — measured 8.1 s in-suite at
    * sf0.1, with build= (driver loop) 8.0 s and exec 0.2 s. The fit now
    * collects the pair aggregate when it is provably small ([[BtFitMaxPairs]],
    * the audited bounded-collect class: same contract as the
    * exactKnnBnB cell stats and the quantile endgame) and runs the
    * identical arithmetic driver-side — per-iteration state is rounded
    * to 8 dp exactly as before, so the collected fit is bit-compatible
    * with the plan-side loop (EvalSpec pins equality); past the bound
    * the original plan-side loop runs unchanged (items² beyond the
    * collect budget ⇒ the iteration relation is genuinely distributed
    * work). */
  private[graft] val BtFitMaxPairs = 65536

  private[graft] def btFit(pairAgg: DataFrame, iters: Int): DataFrame = {
    // bounded-collect gate: one cheap count on the tiny aggregate —
    // lazily-marked checkpoint + count fuse to ONE job (the round-12
    // ckpt+count discipline)
    // pin: measured — unpinned 6.50 vs 3.76 s, local[32]
    val pairRows = pairAgg.localCheckpoint(false)
    if (pairRows.count() <= BtFitMaxPairs) btFitDriver(pairRows, iters)
    else btFitPlan(pairRows, iters)
  }

  /** Driver-side MM fit over the collected pair aggregate — identical
    * per-iteration arithmetic to [[btFitPlan]] (double ops in the same
    * floor-form 8-dp rounding), deterministic summation order (sorted
    * neighbor / item keys; safe because every iteration's state is
    * rounded to 8 dp before reuse — the same argument that lets DuckDB
    * replay the plan-side loop bit-identically). */
  private[graft] def btFitDriver(pairAgg: DataFrame, iters: Int): DataFrame = {
    val spark = pairAgg.sparkSession
    val itemType = pairAgg.schema("b1").dataType
    val rows = pairAgg.select("b1", "b2", "n", "w1").collect()
    // wins: integer sums, order-free
    val wins = scala.collection.mutable.LinkedHashMap[Any, Long]()
    rows.foreach { r =>
      val n = r.getLong(2); val w1 = r.getLong(3)
      wins(r.get(0)) = wins.getOrElse(r.get(0), 0L) + w1
      wins(r.get(1)) = wins.getOrElse(r.get(1), 0L) + (n - w1)
    }
    val items = wins.keys.toSeq.sortBy(_.toString)
    val idx = items.zipWithIndex.toMap
    // symmetric neighbor lists in sorted-j order (deterministic sums)
    val nbr = Array.fill(items.size)(
      scala.collection.mutable.ArrayBuffer[(Int, Long)]())
    rows.foreach { r =>
      val i = idx(r.get(0)); val j = idx(r.get(1)); val n = r.getLong(2)
      nbr(i) += ((j, n)); nbr(j) += ((i, n))
    }
    val sorted = nbr.map(_.sortBy(_._1).toArray)
    var wt = Array.fill(items.size)(1.0)
    for (_ <- 1 to iters) {
      val raw = items.indices.map { i =>
        var den = 0.0
        sorted(i).foreach { case (j, n) => den += n / (wt(i) + wt(j)) }
        wins(items(i)).toDouble / den
      }
      var s = 0.0
      raw.foreach(s += _)
      val mu = s / raw.size
      wt = raw.map(r => math.floor((r / mu) * 1e8 + 0.5) / 1e8).toArray
    }
    val out = items.indices.map { i =>
      org.apache.spark.sql.Row(items(i), wins(items(i)),
        math.floor(wt(i) * 1e6 + 0.5) / 1e6)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(out).asJava),
      StructType(Seq(StructField("brand", itemType),
        StructField("n_wins", LongType, nullable = false),
        StructField("strength", DoubleType, nullable = false))))
  }

  /** The original plan-side MM loop — the unbounded-cardinality path.
    * `pa` arrives already pinned by [[btFit]]'s gate count (the
    * q207/q221 lesson: it feeds every iteration). */
  private[graft] def btFitPlan(pa: DataFrame, iters: Int): DataFrame = {
    val wins = pa.select(F.col("b1").as("item"), F.col("w1").as("w"))
      .unionAll(pa.select(F.col("b2").as("item"),
        (F.col("n") - F.col("w1")).as("w")))
      .groupBy("item").agg(F.sum("w").cast("long").as("wins"))
      .localCheckpoint() // pin: measured — unpinned 30.39 vs 8.89 s, local[32]
    val sym = pa.select(F.col("b1").as("i"), F.col("b2").as("j"), F.col("n"))
      .unionAll(pa.select(F.col("b2").as("i"), F.col("b1").as("j"),
        F.col("n")))
      .localCheckpoint() // pin: measured — unpinned 30.39 vs 8.89 s, local[32]
    var wt = wins.select(F.col("item"), F.lit(1.0).as("wt"))
    for (_ <- 1 to iters) {
      val den = sym
        .join(wt.select(F.col("item").as("i"), F.col("wt").as("wi")), "i")
        .join(wt.select(F.col("item").as("j"), F.col("wt").as("wj")), "j")
        .groupBy(F.col("i").as("item"))
        .agg(F.sum(F.col("n") / (F.col("wi") + F.col("wj"))).as("den"))
      val raw = wins.join(den, "item")
        .select(F.col("item"),
          (F.col("wins").cast("double") / F.col("den")).as("raw"))
      // normalize to mean 1 via an in-plan scalar (no driver collect)
      val mu = raw.agg(F.avg("raw").as("mu"))
      wt = raw.crossJoin(F.broadcast(mu))
        .select(F.col("item"),
          (F.floor((F.col("raw") / F.col("mu")) * 1e8 + 0.5) / 1e8).as("wt"))
        .localCheckpoint() // pin: correctness — double sums, read twice
    }
    wins.join(wt, "item")
      .select(F.col("item").as("brand"), F.col("wins").as("n_wins"),
        (F.floor((F.col("wt")) * 1e6 + 0.5) / 1e6).as("strength"))
  }

  /** Greedy MMR selection: k rounds of argmax(rel − λ·max-sim-to-
    * selected) against the label-0 centroid query. Relevance and
    * pairwise cosines round to 6 dp before every argmax (ties to the
    * smaller vec_id), so each greedy step is engine-replayable. The
    * per-vector norms and relevances are pinned once and feed all k
    * rounds; per round the ≤k selected vectors broadcast into a pos
    * equi-join (corpus scanned, never self-joined), and ONE row is
    * collected (bounded driver state, the exactKnnBnB precedent).
    * Shared by q242 and EvalSpec. */
  private[graft] def mmrSelect(emb: DataFrame, k: Int,
                               lam: Double): DataFrame = {
    val e2 = emb.select(F.col("vec_id"), F.col("label"),
        F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", F.col("x").cast("double"))
    val q0 = e2.filter(F.col("label") === 0)
      .groupBy("pos").agg(F.avg("x").as("qc"))
    val nv = e2.groupBy("vec_id")
      .agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).as("nv"))
      .localCheckpoint() // pin: correctness — double sum, read every round
    val nq = q0.agg(F.sqrt(F.sum(F.col("qc") * F.col("qc"))).as("nq"))
    val rel = e2.join(q0, "pos")
      .groupBy("vec_id").agg(F.sum(F.col("x") * F.col("qc")).as("dot"))
      .join(nv, "vec_id").crossJoin(F.broadcast(nq))
      .select(F.col("vec_id"),
        (F.floor((F.col("dot") / (F.col("nv") * F.col("nq"))) * 1e6 + 0.5) / 1e6).as("rel"))
      .localCheckpoint() // pin: correctness — double sum, read every round
    var selected = Vector.empty[(Int, Long, Double, Double)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val selIds = selected.map(_._2)
      val scored =
        if (selIds.isEmpty) rel.withColumn("score", F.col("rel"))
        else {
          val selE = e2.filter(F.col("vec_id").isin(selIds: _*))
            .select(F.col("vec_id").as("sid"), F.col("pos"),
              F.col("x").as("sx"))
          val sims = e2.join(F.broadcast(selE), "pos")
            .groupBy("vec_id", "sid")
            .agg(F.sum(F.col("x") * F.col("sx")).as("dot"))
            .join(nv, "vec_id")
            .join(F.broadcast(nv.toDF("sid", "ns")), "sid")
            .groupBy("vec_id")
            .agg(F.max((F.floor((F.col("dot") / (F.col("nv") * F.col("ns"))) * 1e6 + 0.5) / 1e6)).as("msim"))
          rel.join(sims, "vec_id")
            .withColumn("score",
              F.col("rel") - F.lit(lam) * F.col("msim"))
        }
      val top = scored.filter(!F.col("vec_id").isin(selIds: _*))
        .orderBy(F.col("score").desc, F.col("vec_id").asc).limit(1)
        .select("vec_id", "rel", "score")
        .collect() // bounded: at most one row per greedy step
      if (top.isEmpty) exhausted = true // k > candidates: emit partial
      else {
        selected :+= ((step, top(0).getLong(0), top(0).getDouble(1),
          top(0).getDouble(2)))
        step += 1
      }
    }
    val out = emb.sparkSession.createDataFrame(selected)
      .toDF("step", "vec_id", "rel", "score")
    GraftReleaseBridge.release(nv)
    GraftReleaseBridge.release(rel)
    out
  }

  /** Farthest-point sampling (k-center coreset): greedy max-min-
    * distance selection, seeded at the smallest vec_id. Same bounded
    * machinery as [[mmrSelect]] over the exploded corpus: ≤k
    * selected vectors broadcast per round, one 1-row collect per round,
    * distances rounded to 6 dp before every argmax (ties to the
    * smaller vec_id). Shared by q249 and EvalSpec. */
  private[graft] def kCenterSelect(emb: DataFrame, k: Int): DataFrame = {
    val e2 = emb.select(F.col("vec_id"),
        F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", F.col("x").cast("double"))
    val start = e2.agg(F.min("vec_id")).collect()(0).getLong(0)
    var selected = Vector((1, start, 0.0))
    var step = 2
    var exhausted = false
    while (step <= k && !exhausted) {
      val selIds = selected.map(_._2)
      val selE = e2.filter(F.col("vec_id").isin(selIds: _*))
        .select(F.col("vec_id").as("sid"), F.col("pos"),
          F.col("x").as("sx"))
      val dmin = e2.join(F.broadcast(selE), "pos")
        .groupBy("vec_id", "sid")
        .agg(F.sum((F.col("x") - F.col("sx"))
          * (F.col("x") - F.col("sx"))).as("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.round(F.sqrt(F.col("d2")), 6)).as("dmin"))
      val top = dmin.filter(!F.col("vec_id").isin(selIds: _*))
        .orderBy(F.col("dmin").desc, F.col("vec_id").asc).limit(1)
        .collect() // bounded: at most one row per greedy round
      if (top.isEmpty) exhausted = true // k > candidates: emit partial
      else {
        selected :+= ((step, top(0).getLong(0), top(0).getDouble(1)))
        step += 1
      }
    }
    emb.sparkSession.createDataFrame(selected)
      .toDF("step", "vec_id", "dmin")
  }

  /** One k-anonymity audit level: equivalence-class stats of a
    * quasi-identifier grouping. */
  private def kanonLevel(df: DataFrame, level: Int, quasi: Seq[String],
                         k: Int): DataFrame =
    df.groupBy(quasi.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("sz"))
      .agg(F.lit(level).as("level"),
        F.lit(quasi.mkString(",")).as("quasi_cols"),
        F.count(F.lit(1)).as("n_classes"),
        F.count(F.when(F.col("sz") < k, 1)).as("n_small_classes"),
        F.coalesce(F.sum(F.when(F.col("sz") < k, F.col("sz"))), F.lit(0L))
          .cast("long").as("n_rows_at_risk"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bradley–Terry preference strengths from pairwise outcomes — the
    // reward-model-data report: which item wins head-to-head matchups,
    // fit by 5 MM iterations. Comparisons: within each order, brand
    // pairs compete by total quantity. Scale shape: ONE shuffle builds
    // the per-(order, brand) totals, one bounded self-join per order
    // (brands-per-order², the q181 bound) partial-aggs straight down
    // to the O(brands²) pair table; the fit then iterates on that tiny
    // pinned relation — per iteration two keyed joins + one partial
    // agg, never touching the fact table again. Weights are rounded to
    // 8 dp per iteration, so the oracle's unrolled iterations see
    // bit-identical state.
    "q231_bradley_terry" -> { (s, dir) =>
      btFit(btPairs(T.load(s, dir, "lineitem"), T.load(s, dir, "part")),
        iters = 5)
    },

    // Label-propagation communities (4 synchronous rounds, self-vote,
    // min-label ties) on the co-purchase part graph (q186's edge set:
    // parts co-occurring in >= 2 orders). Each round is one keyed join
    // + two partial-agg'd groupBys — the argmax is max(struct(c,-lab)),
    // a hash aggregate, NOT a per-node sort window; state re-checkpoints
    // and releases per round (the PageRank/BFS lineage discipline).
    "q232_label_prop" -> { (s, dir) =>
      val ol = T.load(s, dir, "lineitem")
        .select(F.col("l_orderkey").as("o"), F.col("l_partkey").as("p"))
        .distinct()
      val edges = ol.toDF("o", "a")
        .join(ol.toDF("o2", "b"),
          F.col("o") === F.col("o2") && F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).as("nab"))
        .filter(F.col("nab") >= 2)
        .select("a", "b")
      graft.ops.Graph.labelPropagation(edges, rounds = 4)
    },

    // Count-Min join-size estimation — the optimizer-statistics use of
    // the q107 sketch: |orders ⋈ BUILDING customers| estimated as the
    // min over rows of the CM inner product (Cormode & Muthukrishnan
    // 2005 §4.2), gated one-sided (est >= exact always) and against
    // the sizing bound (collision mass N_a·N_b/width, 20× slack). At
    // 100 TB the two 256 KB sketches build in one partial-agg'd scan
    // each and the estimate costs a broadcast — no join is executed to
    // size the join; the exact twin here exists only to prove the
    // estimate.
    "q233_cm_join_est" -> { (s, dir) =>
      val W = 8192; val D = 4
      val ords = T.load(s, dir, "orders")
      val cust = T.load(s, dir, "customer")
        .filter(F.col("c_mktsegment") === "BUILDING")
      val cma = CountMin.build(
        ords.select(F.xxhash64(F.col("o_custkey")).as("__h")), "__h", W, D)
        .select(F.col("cm").as("cma"))
      val cmb = CountMin.build(
        cust.select(F.xxhash64(F.col("c_custkey")).as("__h")), "__h", W, D)
        .select(F.col("cm").as("cmb"))
      val na = ords.agg(F.count(F.lit(1)).as("na"))
      val nb = cust.agg(F.count(F.lit(1)).as("nb"))
      val exact = ords.join(cust,
          F.col("o_custkey") === F.col("c_custkey"))
        .agg(F.count(F.lit(1)).as("exact_pairs"))
      exact.crossJoin(F.broadcast(cma)).crossJoin(F.broadcast(cmb))
        .crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
        .withColumn("__est", F.expr(
          s"""array_min(transform(sequence(0, ${D - 1}), r ->
                aggregate(zip_with(slice(cma, r * $W + 1, $W),
                                   slice(cmb, r * $W + 1, $W),
                                   (x, y) -> x * y),
                          0L, (acc, v) -> acc + v)))"""))
        .select(F.col("exact_pairs"),
          (F.col("__est") >= F.col("exact_pairs")).as("cm_ge"),
          (F.col("__est") <= F.col("exact_pairs")
            + F.lit(20.0) * F.col("na") * F.col("nb") / F.lit(W.toDouble))
            .as("cm_close"))
    },

    // Right-to-be-forgotten cascade — the governance delete a data
    // platform must replay across derived tables: forget customers
    // (c_custkey % 97 = 0) and event users (user_id % 97 = 0), cascade
    // customer → orders → lineitem via semi-joins on the REMOVED key
    // sets, report per-table attrition. Anti/semi joins only — the
    // corpus never carries payload columns through the cascade spine,
    // and each count is one partial-agg'd scalar.
    "q234_rtbf_cascade" -> { (s, dir) =>
      val cust = T.load(s, dir, "customer")
      val ords = T.load(s, dir, "orders")
      val li = T.load(s, dir, "lineitem")
      val ev = T.load(s, dir, "events")
      val forgetCust = cust.filter(F.col("c_custkey") % 97 === 0)
        .select(F.col("c_custkey").as("k"))
      val removedOrders = ords
        .join(forgetCust, F.col("o_custkey") === F.col("k"), "left_semi")
        .select(F.col("o_orderkey").as("k"))
      def row(name: String, total: DataFrame, removed: DataFrame)
          : DataFrame = {
        val t = total.agg(F.count(F.lit(1)).as("n_total"))
        val r = removed.agg(F.count(F.lit(1)).as("n_removed"))
        t.crossJoin(F.broadcast(r))
          .select(F.lit(name).as("table_name"), F.col("n_total"),
            F.col("n_removed"),
            (F.col("n_total") - F.col("n_removed")).as("n_kept"),
            (F.floor((F.col("n_removed") / F.col("n_total").cast("double")) * 1e6 + 0.5) / 1e6)
              .as("removed_frac"))
      }
      row("customer", cust, forgetCust)
        .unionAll(row("orders", ords, removedOrders))
        .unionAll(row("lineitem", li,
          li.join(removedOrders, F.col("l_orderkey") === F.col("k"),
            "left_semi")))
        .unionAll(row("events", ev,
          ev.filter(F.col("user_id") % 97 === 0)))
    },

    // Held-out LM scoring with Stupid Backoff (Brants et al. 2007):
    // train word-trigram/bigram/unigram counts on doc_id % 5 != 0,
    // score held-out docs with S = c3/c2 → 0.4·c2/c1 → 0.4²·c1/N
    // (floor 0.4³/N for unseen words). Scale shape: count tables are
    // partial-agg'd on compact gram keys BEFORE any join; the held-out
    // position relation pre-aggs per (doc, trigram) so the five count
    // joins hit multiplicities, not positions; no broadcast hints — a
    // web-scale vocabulary is past broadcast size, AQE decides (the
    // q80/q114 discipline). Per-doc score = Σ n·ln S / Σ n.
    "q235_stupid_backoff" -> { (s, dir) =>
      val toks = T.load(s, dir, "documents")
        .select(F.col("doc_id"),
          TextExpressions.wordTokens(F.col("text")).as("t"))
      val train = toks.filter(F.col("doc_id") % 5 =!= 0)
      val held = toks.filter(F.col("doc_id") % 5 === 0)
      def grams(df: DataFrame, n: Int): DataFrame =
        df.select(F.explode(
          F.expr(TextOps.allShinglesExpr("t", n))).as("g"))
          .groupBy("g").agg(F.count(F.lit(1)).as("c"))
      val c3 = grams(train, 3)
      val cb = grams(train, 2)
      val cu = train.select(F.explode(F.col("t")).as("w"))
        .groupBy("w").agg(F.count(F.lit(1)).as("c"))
      val nn = cu.agg(F.sum("c").cast("double").as("nn"))
      val hg = held.select(F.col("doc_id"), F.explode(
          F.expr(TextOps.allShinglesExpr("t", 3))).as("g"))
        .groupBy("doc_id", "g").agg(F.count(F.lit(1)).as("n"))
        .withColumn("p", F.split(F.col("g"), " "))
        .withColumn("w2", F.element_at(F.col("p"), 2))
        .withColumn("w3", F.element_at(F.col("p"), 3))
        .withColumn("big", F.concat_ws(" ",
          F.element_at(F.col("p"), 1), F.col("w2")))
        .withColumn("low", F.concat_ws(" ", F.col("w2"), F.col("w3")))
      hg.join(c3.toDF("g", "c3"), Seq("g"), "left_outer")
        .join(cb.toDF("big", "cbp"), Seq("big"), "left_outer")
        .join(cb.toDF("low", "cbl"), Seq("low"), "left_outer")
        .join(cu.toDF("w2", "cu2"), Seq("w2"), "left_outer")
        .join(cu.toDF("w3", "cu3"), Seq("w3"), "left_outer")
        .crossJoin(F.broadcast(nn))
        .withColumn("sc",
          F.when(F.col("c3").isNotNull,
            F.col("c3").cast("double") / F.col("cbp"))
            .when(F.col("cbl").isNotNull,
              F.lit(0.4) * F.col("cbl") / F.col("cu2"))
            .when(F.col("cu3").isNotNull,
              F.lit(0.16) * F.col("cu3") / F.col("nn"))
            .otherwise(F.lit(0.064) / F.col("nn")))
        .groupBy("doc_id")
        .agg(F.sum("n").cast("long").as("n_grams"),
          (F.floor((F.sum(F.col("n") * F.log(F.col("sc"))) / F.sum("n")) * 1e6 + 0.5) / 1e6)
            .as("sb_score"))
    },

    // Simplified silhouette (Rousseeuw 1987; a = distance to own label
    // centroid, b = nearest other centroid) — the cluster-quality
    // report for an embedding space. Explode → partial-agg'd centroid
    // build (the q59 shape); distances via one equi-join on pos with
    // bounded label fan-out; per-vector a/b fold; per-label average.
    // Shuffles carry (vec, label, component) triples, never whole
    // vectors; labels are bounded so the fan-out join is linear.
    "q236_silhouette" -> { (s, dir) =>
      val ex = T.load(s, dir, "embeddings")
        .select(F.col("vec_id"), F.col("label"),
          F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", F.col("x").cast("double"))
      val cent = ex.groupBy(F.col("label").as("clab"), F.col("pos"))
        .agg(F.avg("x").as("c"))
      val d = ex.join(cent, "pos")
        .groupBy("vec_id", "label", "clab")
        .agg((F.floor((F.sqrt(F.sum(
          (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))))) * 1e6 + 0.5) / 1e6)
          .as("d"))
      d.groupBy("vec_id", "label")
        .agg(F.max(F.when(F.col("clab") === F.col("label"), F.col("d")))
          .as("a"),
          F.min(F.when(F.col("clab") =!= F.col("label"), F.col("d")))
            .as("b"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).as("n_vecs"),
          (F.floor((F.avg((F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b")))) * 1e6 + 0.5) / 1e6).as("avg_sil"))
    },

    // k-anonymity audit (k = 5) of customer quasi-identifiers at three
    // generalization levels — the privacy report run before a dataset
    // release: equivalence-class counts, classes below k, and rows at
    // re-identification risk. Three partial-agg'd groupBys unioned;
    // each level's class table collapses to one scalar row.
    "q237_kanon_audit" -> { (s, dir) =>
      val c = T.load(s, dir, "customer")
        .withColumn("bal_band", F.floor(F.col("c_acctbal") / 1000))
      kanonLevel(c, 0, Seq("c_nationkey", "c_mktsegment", "bal_band"), 5)
        .unionAll(kanonLevel(c, 1, Seq("c_nationkey", "c_mktsegment"), 5))
        .unionAll(kanonLevel(c, 2, Seq("c_mktsegment"), 5))
    },

    // Incremental materialized-view maintenance: the per-customer
    // order summary is maintained as base (< 1998-01-01) ⊕ delta
    // (>= 1998-01-01) — a full-outer merge of two partial aggregates
    // with mergeable state (count/sum/max), the exact pattern a
    // periodic refresh runs so only the delta partition is re-scanned.
    // The oracle computes the view directly from scratch, so the hash
    // gate IS the merged-equals-recomputed proof.
    "q238_delta_view" -> { (s, dir) =>
      val cutoff = "1998-01-01"
      def agg(df: DataFrame): DataFrame =
        df.groupBy("o_custkey")
          .agg(F.count(F.lit(1)).as("n"),
            F.sum("o_totalprice").as("sp"), F.max("o_totalprice").as("mx"))
      val ords = T.load(s, dir, "orders")
      val base = agg(ords.filter(F.col("o_orderdate") < cutoff))
        .toDF("o_custkey", "n1", "s1", "m1")
      val delta = agg(ords.filter(F.col("o_orderdate") >= cutoff))
        .toDF("o_custkey", "n2", "s2", "m2")
      base.join(delta, Seq("o_custkey"), "full_outer")
        .select(F.col("o_custkey"),
          (F.coalesce(F.col("n1"), F.lit(0L))
            + F.coalesce(F.col("n2"), F.lit(0L))).as("n_orders"),
          F.round(F.coalesce(F.col("s1"), F.lit(0.0))
            + F.coalesce(F.col("s2"), F.lit(0.0)), 6).as("spend"),
          F.round(F.greatest(F.coalesce(F.col("m1"), F.col("m2")),
            F.coalesce(F.col("m2"), F.col("m1"))), 6).as("max_spend"))
    },

    // Trailing-7-day distinct users per day via daily HLL sketches —
    // each day's 4 KB sketch CONTRIBUTES itself forward to the 7 days
    // it covers (the q144 explode, but carrying sketches instead of
    // (day, user) pairs), then one partial-agg'd hll_union_agg per
    // target day. NO distinct shuffle of the activity relation and NO
    // global-window funnel: shuffle volume is 7 × days × sketch size,
    // independent of corpus size — the 100 TB path when the activity
    // relation is too big to re-shuffle per report. A sliding sketch
    // union cannot be a running prefix (HLL has no subtraction), so
    // bounded forward fan-out IS the scale shape. Gated at ±5%+5
    // against the exact twin, which the oracle replays exactly.
    "q239_sliding_hll" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.to_date(F.col("ts")).as("day"), F.col("user_id"))
      val daily = ev.groupBy("day")
        .agg(F.hll_sketch_agg(F.col("user_id")).as("sk"))
      val est = daily
        .select(F.explode(F.expr(
          "sequence(day, date_add(day, 6))")).as("day"), F.col("sk"))
        .groupBy("day")
        .agg(F.hll_sketch_estimate(
          F.hll_union_agg(F.col("sk"))).as("est"))
      val exact = ev.distinct()
        .select(F.explode(F.expr(
          "sequence(day, date_add(day, 6))")).as("day"), F.col("user_id"))
        .distinct()
        .groupBy("day").agg(F.count(F.lit(1)).as("n_users_7d"))
      // inner join to days actually present drops the synthetic
      // trailing days both fan-outs invent past the last activity day
      est.join(daily.select("day"), "day").join(exact, "day")
        .select(F.col("day"), F.col("n_users_7d"),
          (F.abs(F.col("est") - F.col("n_users_7d"))
            <= F.col("n_users_7d") * 0.05 + 5).as("hll_ok"))
    },

    // Balanced shard assignment for distributed training: docs ranked
    // by token count (global row number = range partition + per-
    // partition offsets, the q13 shape — NO single-task window), then
    // serpentine-dealt across 8 shards (longest-first boustrophedon —
    // the classic near-optimal balance heuristic for one-pass
    // assignment). Report: per-shard doc/token totals + the global
    // (max-min)/avg spread. Everything after the rank is per-row
    // arithmetic + one partial-agg'd groupBy on 8 keys.
    "q240_shard_balance" -> { (s, dir) =>
      import graft.ops.RelOps
      val S = 8
      val d = T.load(s, dir, "documents")
        .select(F.col("doc_id"),
          F.expr(TextOps.bpeCountExpr("text")).cast("long").as("n_tok"))
      val r = RelOps.globalRowNumber(d, "rk",
          Seq(RelOps.Ordering("n_tok", desc = true),
            RelOps.Ordering("doc_id")))
        .withColumn("p", (F.col("rk") - 1) % (2 * S))
        .withColumn("shard", F.when(F.col("p") < S, F.col("p"))
          .otherwise(F.lit(2 * S - 1) - F.col("p")))
      val g = r.groupBy("shard")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_tok").cast("long").as("shard_tokens"))
      val m = g.agg(F.max("shard_tokens").as("mx"),
        F.min("shard_tokens").as("mn"), F.avg("shard_tokens").as("av"))
      g.crossJoin(F.broadcast(m))
        .select(F.col("shard"), F.col("n_docs"), F.col("shard_tokens"),
          (F.floor(((F.col("mx") - F.col("mn")) / F.col("av")) * 1e6 + 0.5) / 1e6)
            .as("spread"))
    },

    // Cohen's kappa of the nearest-centroid classifier against true
    // labels — chance-corrected agreement, the metric that exposes an
    // "accurate" classifier on imbalanced labels. Prediction = argmin
    // centroid distance (distances rounded to 6 dp FIRST, ties to the
    // smaller label, so both engines pick identical argmins); kappa
    // from the (label, pred) confusion counts via exact integer
    // marginals. One bounded-fan-out pos join + three partial aggs.
    "q241_cohen_kappa" -> { (s, dir) =>
      val ex = T.load(s, dir, "embeddings")
        .select(F.col("vec_id"), F.col("label"),
          F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", F.col("x").cast("double"))
      val cent = ex.groupBy(F.col("label").as("clab"), F.col("pos"))
        .agg(F.avg("x").as("c"))
      val d = ex.join(cent, "pos")
        .groupBy("vec_id", "label", "clab")
        .agg((F.floor((F.sqrt(F.sum(
          (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))))) * 1e6 + 0.5) / 1e6)
          .as("d"))
      val pred = d.groupBy("vec_id", "label")
        .agg(F.min(F.struct(F.col("d"), F.col("clab"))).as("m"))
        .select(F.col("label"), F.col("m.clab").as("pred"))
      // O(labels²) rows feeding three consumers (totals + both
      // marginals), which must count the same argmins
      val conf = pred.groupBy("label", "pred")
        .agg(F.count(F.lit(1)).as("c"))
        // pin: correctness — argmin of double sums, read three times
        .localCheckpoint()
      val tot = conf.agg(F.sum("c").cast("long").as("n"),
        F.sum(F.when(F.col("label") === F.col("pred"), F.col("c")))
          .cast("long").as("diag"))
      val pe = conf.groupBy("label").agg(F.sum("c").as("rc"))
        .join(conf.groupBy(F.col("pred").as("label"))
          .agg(F.sum("c").as("cc")), "label")
        .agg(F.sum(F.col("rc") * F.col("cc")).cast("long").as("rcsum"))
      tot.crossJoin(F.broadcast(pe))
        .select(F.col("n").as("n_vecs"),
          (F.floor((F.col("diag") / F.col("n").cast("double")) * 1e6 + 0.5) / 1e6)
            .as("accuracy"),
          (F.floor(((F.col("diag").cast("double") / F.col("n")
            - F.col("rcsum").cast("double") / (F.col("n") * F.col("n")))
            / (F.lit(1.0)
              - F.col("rcsum").cast("double") / (F.col("n") * F.col("n")))) * 1e6 + 0.5) / 1e6).as("kappa"))
    },

    // Maximal Marginal Relevance (Carbonell & Goldstein 1998): top-5
    // diversified retrieval against the label-0 centroid query,
    // score = rel − 0.5·max-sim-to-selected. Greedy by nature: k
    // bounded driver collects of ONE row each (the exactKnnBnB
    // bounded-collect precedent); per step the ≤k selected vectors
    // broadcast into a pos equi-join, so the corpus is scanned k times
    // but never self-joined. Relevance and pairwise sims round to 6 dp
    // before the argmax, ties to the smaller vec_id — the oracle
    // replays each greedy step exactly.
    "q242_mmr_diversify" -> { (s, dir) =>
      mmrSelect(T.load(s, dir, "embeddings"), k = 5, lam = 0.5)
    },

    // CUPED variance reduction (Deng et al. 2013) for an A/B readout:
    // variant = user_id parity, pre-period covariate = per-user value
    // sum before Jan 16, θ from pooled moment sums (one scalar
    // aggregate — no covar_pop, whose engine-specific streaming
    // update would break parity), adjusted = post − θ·(pre − mean).
    // θ and the pooled mean round to 6 dp before adjustment, so both
    // engines adjust with identical constants. Reports per-variant
    // mean + variance reduction.
    "q243_cuped" -> { (s, dir) =>
      val D = "2024-01-16"
      val u = T.load(s, dir, "events")
        .groupBy("user_id")
        .agg(F.coalesce(F.sum(F.when(F.col("ts") < D, F.col("value"))),
          F.lit(0.0)).as("pre"),
          F.coalesce(F.sum(F.when(F.col("ts") >= D, F.col("value"))),
            F.lit(0.0)).as("post"))
        .withColumn("variant", F.col("user_id") % 2)
      val mom = u.agg(F.count(F.lit(1)).cast("double").as("n"),
        F.sum("pre").as("sp"), F.sum("post").as("spo"),
        F.sum(F.col("pre") * F.col("pre")).as("sp2"),
        F.sum(F.col("pre") * F.col("post")).as("spp"))
      val const = mom.select(
        (F.floor(((F.col("n") * F.col("spp") - F.col("sp") * F.col("spo"))
          / (F.col("n") * F.col("sp2") - F.col("sp") * F.col("sp"))) * 1e6 + 0.5) / 1e6)
          .as("theta"),
        (F.floor((F.col("sp") / F.col("n")) * 1e6 + 0.5) / 1e6).as("mpre"))
      u.crossJoin(F.broadcast(const))
        .withColumn("adj", F.col("post")
          - F.col("theta") * (F.col("pre") - F.col("mpre")))
        .groupBy("variant")
        .agg(F.count(F.lit(1)).as("n_users"),
          (F.floor((F.avg("post")) * 1e6 + 0.5) / 1e6).as("mean_post"),
          (F.floor((F.avg("adj")) * 1e6 + 0.5) / 1e6).as("mean_adj"),
          (F.floor((F.lit(1.0)
            - (F.avg(F.col("adj") * F.col("adj"))
              - F.avg("adj") * F.avg("adj"))
            / (F.avg(F.col("post") * F.col("post"))
              - F.avg("post") * F.avg("post"))) * 1e6 + 0.5) / 1e6).as("var_reduction"))
    },

    // Join-key skew report — the diagnostic an engineer reads BEFORE
    // choosing a salting/broadcast strategy: per candidate join key,
    // the per-key frequency distribution (max, exact p50/p99), the
    // top-10-key share of all rows, and the coefficient of variation
    // (from moment sums — engine-portable, unlike stddev's streaming
    // state). Each key audit = one partial-agg'd count + one scalar
    // fold; top-10 is TakeOrdered (no full sort).
    "q244_key_skew" -> { (s, dir) =>
      val li = T.load(s, dir, "lineitem")
      val ords = T.load(s, dir, "orders")
      def audit(df: DataFrame, key: String): DataFrame = {
        val cnt = df.groupBy(F.col(key).as("k"))
          .agg(F.count(F.lit(1)).as("f"))
        val top = cnt.orderBy(F.col("f").desc, F.col("k").asc).limit(10)
          .agg(F.sum("f").cast("long").as("top10"))
        // percentile-audit: BOUNDED — the percentiles run over the
        // FREQUENCY column of an already-reduced key-count table. m
        // distinct frequency values must satisfy Σf ≥ m(m+1)/2, so
        // m ≤ √(2N) — ~1.4e6 entries (≈30 MB) even at N=10^12 rows;
        // sublinear in data size by construction. See SCALE.md
        // §percentile-audit.
        cnt.agg(F.count(F.lit(1)).as("n_keys"),
          F.max("f").as("max_freq"),
          F.expr("percentile(f, 0.5)").as("__p50"),
          F.expr("percentile(f, 0.99)").as("__p99"),
          F.sum("f").cast("double").as("__tot"),
          F.avg("f").as("__mu"),
          F.avg(F.col("f") * F.col("f")).as("__m2"))
          .crossJoin(F.broadcast(top))
          .select(F.lit(key).as("key_name"), F.col("n_keys"),
            F.col("max_freq"),
            (F.floor((F.col("__p50")) * 1e6 + 0.5) / 1e6).as("p50_freq"),
            (F.floor((F.col("__p99")) * 1e6 + 0.5) / 1e6).as("p99_freq"),
            (F.floor((F.col("top10") / F.col("__tot")) * 1e6 + 0.5) / 1e6).as("top10_share"),
            (F.floor((F.sqrt(F.col("__m2") - F.col("__mu") * F.col("__mu"))
              / F.col("__mu")) * 1e6 + 0.5) / 1e6).as("cv"))
      }
      audit(li, "l_partkey")
        .unionAll(audit(li, "l_suppkey"))
        .unionAll(audit(ords, "o_custkey"))
    },

    // Near-dup pair EXPLANATION — the reviewer-facing report behind
    // every q41 pair: exact Jaccard, shared-shingle count, and the
    // first three shared shingles (sorted — deterministic across
    // engines). Same banded MinHash-LSH candidates as q41 (never
    // all-pairs); the explanation join touches only the O(pairs)
    // relation, with per-pair work bounded by shingle-set size.
    // top_shared is a '|'-joined STRING, not array<string>: the gate's
    // canonicalizer row-sorts with pandas, which cannot order list
    // cells (round-6 red row) — final projections stay scalar-only.
    "q245_neardup_explain" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh", 0.85)
      pairs
        .join(docs.select(F.col("doc_id").as("id1"),
          F.col("sh").as("sh1")), "id1")
        .join(docs.select(F.col("doc_id").as("id2"),
          F.col("sh").as("sh2")), "id2")
        .withColumn("shared",
          F.array_sort(F.array_intersect(F.col("sh1"), F.col("sh2"))))
        .select(F.col("id1"), F.col("id2"), F.col("jac"),
          F.size(F.col("shared")).as("n_shared"),
          F.concat_ws("|", F.slice(F.col("shared"), 1, 3)).as("top_shared"))
    },

    // Personalized PageRank over the co-purchase graph, restart mass
    // on the parts BUILDING-segment customers buy — "importance
    // relative to this audience", the seeded-influence primitive
    // behind audience-conditioned recommendations. Same per-iteration
    // shape and lineage discipline as q150's PageRank (one keyed join
    // + one partial agg per round, state re-checkpointed); the seed
    // vector is a base column, not a filter, so non-seed nodes still
    // accumulate flow-through mass.
    "q246_ppr" -> { (s, dir) =>
      val ol = T.load(s, dir, "lineitem")
        .select(F.col("l_orderkey").as("o"), F.col("l_partkey").as("p"))
        .distinct()
        // pin: measured — unpinned 7.72 vs 6.35 s, local[32]
        .localCheckpoint() // feeds the pair self-join AND the seed set
      val edges0 = ol.toDF("o", "a")
        .join(ol.toDF("o2", "b"),
          F.col("o") === F.col("o2") && F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).as("nab"))
        .filter(F.col("nab") >= 2)
      val edges = edges0.select(F.col("a").as("src"), F.col("b").as("dst"))
        .unionAll(edges0.select(F.col("b").as("src"), F.col("a").as("dst")))
      val seeds = T.load(s, dir, "orders")
        .join(T.load(s, dir, "customer")
          .filter(F.col("c_mktsegment") === "BUILDING")
          .select("c_custkey"),
          F.col("o_custkey") === F.col("c_custkey"), "left_semi")
        .select(F.col("o_orderkey").as("o"))
        .join(ol, "o")
        .select(F.col("p").as("node")).distinct()
      graft.ops.Graph.personalizedPageRank(edges, seeds,
          iters = 3, damping = 0.85)
        .select(F.col("node"), F.round(F.col("ppr") * 1000, 6).as("pprk"))
    },

    // Vocabulary-growth (Heaps-law) curve over ingest order — the
    // scaling-law diagnostic: cumulative distinct token types vs
    // cumulative token count per ingest decile, plus the new-type
    // count each decile contributes. First-seen decile = one
    // partial-agg'd min per type (the q224 first-occurrence shape);
    // the cumulative fold is a triangular join over the TEN-row decile
    // aggregate — bounded, parallel, no global window.
    "q247_vocab_growth" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val mx = docs.agg(F.max("doc_id").as("mx"))
      val td = docs.select(F.col("doc_id"),
          F.explode(TextExpressions.wordTokens(F.col("text"))).as("tok"))
        .crossJoin(F.broadcast(mx))
        .select(F.expr("doc_id div (mx div 10 + 1)").as("decile"),
          F.col("tok"))
      val newTypes = td.groupBy("tok").agg(F.min("decile").as("fd"))
        .groupBy("fd").agg(F.count(F.lit(1)).as("new_types"))
      val tokCnt = td.groupBy("decile")
        .agg(F.count(F.lit(1)).as("n_toks"))
      val grid = tokCnt.select(F.col("decile").as("d"))
      grid
        .join(tokCnt, F.col("decile") <= F.col("d"))
        .groupBy("d").agg(F.sum("n_toks").cast("long").as("n_tokens_cum"))
        .join(grid.join(newTypes, F.col("fd") <= F.col("d"))
          .groupBy(F.col("d"))
          .agg(F.sum("new_types").cast("long").as("vocab_cum")), "d")
        .join(newTypes.select(F.col("fd").as("d"),
          F.col("new_types")), Seq("d"), "left_outer")
        .select(F.col("d").as("decile"), F.col("n_tokens_cum"),
          F.col("vocab_cum"),
          F.coalesce(F.col("new_types"), F.lit(0L)).as("new_types"),
          (F.floor((F.col("vocab_cum") / F.col("n_tokens_cum").cast("double")) * 1e6 + 0.5) / 1e6).as("ttr"))
    },

    // STL-lite seasonal decomposition of the hourly revenue series per
    // event type: trend = centered 25-hour moving average (complete
    // windows only), seasonal = hour-of-day mean of the detrended
    // series, and the Hyndman strength-of-trend/seasonality statistics
    // F = max(0, 1 − Var(R)/Var(C+R)). Integer-cents inputs (the q226
    // gap-filled grid) keep the window sums EXACT — trend is an exact
    // rational on both engines; seasonal rounds to 6 dp before the
    // residual so cross-engine noise cannot propagate. Per-type state
    // is a bounded window; variances come from one moment fold.
    "q248_seasonal_decomp" -> { (s, dir) =>
      val hourly = T.load(s, dir, "events")
        .select(F.col("event_type"),
          F.expr("cast(floor(unix_timestamp(ts) / 3600) as bigint)")
            .as("h"),
          (F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long").as("vc"))
        .groupBy("event_type", "h").agg(F.sum("vc").as("xr"))
      val grid = hourly.groupBy("event_type")
        .agg(F.min("h").as("h0"), F.max("h").as("h1"))
        .select(F.col("event_type"),
          F.explode(F.sequence(F.col("h0"), F.col("h1"))).as("h"))
      val series = grid.join(hourly, Seq("event_type", "h"), "left_outer")
        .select(F.col("event_type"), F.col("h"),
          F.coalesce(F.col("xr"), F.lit(0L)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-12, 12)
      val t = series
        .withColumn("wn", F.count(F.lit(1)).over(w))
        .withColumn("ws", F.sum("x").over(w))
        .filter(F.col("wn") === 25) // complete windows: exact sum/25
        .withColumn("trend", F.col("ws") / F.lit(25.0))
        .withColumn("det", F.col("x") - F.col("trend"))
      val seas = t
        .select(F.col("event_type").as("et2"),
          (F.col("h") % 24).as("hod2"), F.col("det"))
        .groupBy("et2", "hod2")
        .agg((F.floor((F.avg("det")) * 1e6 + 0.5) / 1e6).as("seasonal"))
      t.join(seas,
          F.col("event_type") === F.col("et2")
            && (F.col("h") % 24) === F.col("hod2"))
        .select(F.col("event_type"), F.col("x"), F.col("trend"),
          F.col("seasonal"),
          (F.col("det") - F.col("seasonal")).as("resid"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n_hours"),
          (F.floor((F.greatest(F.lit(0.0), F.lit(1.0)
            - (F.avg(F.col("resid") * F.col("resid"))
              - F.avg("resid") * F.avg("resid"))
            / (F.avg((F.col("trend") + F.col("resid"))
                * (F.col("trend") + F.col("resid")))
              - F.avg(F.col("trend") + F.col("resid"))
                * F.avg(F.col("trend") + F.col("resid"))))) * 1e6 + 0.5) / 1e6)
            .as("f_trend"),
          (F.floor((F.greatest(F.lit(0.0), F.lit(1.0)
            - (F.avg(F.col("resid") * F.col("resid"))
              - F.avg("resid") * F.avg("resid"))
            / (F.avg((F.col("seasonal") + F.col("resid"))
                * (F.col("seasonal") + F.col("resid")))
              - F.avg(F.col("seasonal") + F.col("resid"))
                * F.avg(F.col("seasonal") + F.col("resid"))))) * 1e6 + 0.5) / 1e6)
            .as("f_seasonal"))
    },

    // k-center coreset (farthest-point sampling, Gonzalez 1985): the
    // pure-diversity dual of q242's MMR — five greedy rounds each
    // picking the vector FARTHEST from the selected set (max-min
    // distance, 2-approximation to the optimal k-center cover). Same
    // bounded machinery as MMR: ≤k selected vectors broadcast per
    // round, one 1-row collect per round, 6-dp rounding before every
    // argmax.
    "q249_kcenter" -> { (s, dir) =>
      kCenterSelect(T.load(s, dir, "embeddings"), k = 5)
    },

    // Paired sign-flip permutation test (the exact nonparametric
    // p-value for "did the metric move pre→post?"): per-user diff,
    // H = 200 deterministic hash-derived sign patterns (portable
    // Knuth-mod arithmetic, the q109 precedent), per-permutation
    // |mean| vs observed. Scale shape: the H× explode is bounded by
    // the permutation count and partial-aggs down to H rows keyed on
    // the permutation index — the classic bounded-fan-out Monte Carlo
    // shape, no resampling state.
    "q250_perm_test" -> { (s, dir) =>
      val H = 200
      val u = T.load(s, dir, "events")
        .groupBy("user_id")
        .agg((F.coalesce(F.sum(F.when(F.col("ts") >= "2024-01-16",
          F.col("value"))), F.lit(0.0))
          - F.coalesce(F.sum(F.when(F.col("ts") < "2024-01-16",
            F.col("value"))), F.lit(0.0))).as("diff"))
        // pin: correctness — double sums, read by the stat and the explode
        .localCheckpoint()
      val obs = u.agg((F.floor((F.abs(F.avg("diff"))) * 1e6 + 0.5) / 1e6).as("stat_obs"),
        F.count(F.lit(1)).as("n_users"))
      val perms = u.select(F.col("diff"),
          F.explode(F.expr(s"sequence(1, $H)")).as("p"),
          F.col("user_id"))
        .withColumn("sign", F.lit(1)
          - F.lit(2) * (F.expr("pmod((user_id % 1000003) * 2654435761 "
            + "+ p * 48271, 1000003)") % 2))
        .groupBy("p")
        .agg((F.floor((F.abs(F.avg(F.col("sign") * F.col("diff")))) * 1e6 + 0.5) / 1e6)
          .as("stat_p"))
      perms.crossJoin(F.broadcast(obs))
        .agg(F.first("n_users").as("n_users"),
          F.first("stat_obs").as("stat_obs"),
          (F.floor(((F.lit(1) + F.count(F.when(
            F.col("stat_p") >= F.col("stat_obs"), 1)))
            / F.lit((H + 1).toDouble)) * 1e6 + 0.5) / 1e6).as("p_value"))
    },

    // Class-balance oversampling plan — the minority-upsampling step
    // before training on skewed labels: per-language replication
    // factor = ceil(max-class / class) (integer-exact), then the
    // oversampled relation is ACTUALLY built (sequence explode — the
    // honest path, not factor arithmetic) and re-counted. Replication
    // is a bounded per-row fan-out; both counts are partial aggs.
    "q251_class_balance" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).as("n_before"))
      val mx = cnt.agg(F.max("n_before").as("mxc"))
      val plan = cnt.crossJoin(F.broadcast(mx))
        .withColumn("rep_factor",
          F.expr("(mxc + n_before - 1) div n_before"))
      val over = docs.join(plan.select("lang", "rep_factor"), "lang")
        .select(F.col("lang"),
          F.explode(F.expr("sequence(1, rep_factor)")).as("__r"))
        .groupBy("lang").agg(F.count(F.lit(1)).as("n_after"))
      val tot = over.agg(F.sum("n_after").cast("double").as("ta"))
      plan.join(over, "lang").crossJoin(F.broadcast(tot))
        .select(F.col("lang"), F.col("n_before"), F.col("rep_factor"),
          F.col("n_after"),
          (F.floor((F.col("n_after") / F.col("ta")) * 1e6 + 0.5) / 1e6).as("share_after"))
    },

    // Annotation-noise audit over near-duplicate pairs (the Cleanlab-
    // style signal): near-identical documents whose labels DISAGREE
    // are either mislabeled or the taxonomy is unstable. Reuses q41's
    // banded MinHash-LSH pairs (never all-pairs); metadata joins touch
    // only the O(pairs) relation; output is one scalar report row.
    "q252_dup_label_noise" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh", 0.85)
      pairs
        .join(docs.select(F.col("doc_id").as("id1"),
          F.col("lang").as("l1"), F.col("source").as("s1")), "id1")
        .join(docs.select(F.col("doc_id").as("id2"),
          F.col("lang").as("l2"), F.col("source").as("s2")), "id2")
        .agg(F.count(F.lit(1)).as("n_pairs"),
          F.count(F.when(F.col("l1") =!= F.col("l2"), 1))
            .as("lang_mismatch"),
          (F.floor((F.count(F.when(F.col("l1") =!= F.col("l2"), 1))
            / F.count(F.lit(1)).cast("double")) * 1e6 + 0.5) / 1e6)
            .as("lang_mismatch_frac"),
          F.count(F.when(F.col("s1") =!= F.col("s2"), 1))
            .as("cross_source"),
          (F.floor((F.count(F.when(F.col("s1") =!= F.col("s2"), 1))
            / F.count(F.lit(1)).cast("double")) * 1e6 + 0.5) / 1e6)
            .as("cross_source_frac"))
    },

    // Hill tail-index of the document-length distribution — the
    // heavy-tail diagnostic (alpha ≈ Pareto exponent) that decides
    // whether length-stratified sampling is needed before packing.
    // The top-(k+1) order statistics come from TakeOrderedAndProject
    // (per-partition top-k + driver merge — NO global sort, no
    // window); because x_(k+1) is the MINIMUM of that bounded set,
    // the whole estimator is one scalar fold over 51 rows:
    // alpha = 1 / ((Σ ln x − ln min)/k − ln min). Integer lengths
    // make every ln input exact on both engines.
    "q253_hill_tail" -> { (s, dir) =>
      val k = 50
      T.load(s, dir, "documents")
        .select(F.col("n_chars"), F.col("doc_id"))
        .orderBy(F.col("n_chars").desc, F.col("doc_id").asc)
        .limit(k + 1)
        .agg(F.count(F.lit(1)).as("__m"),
          F.sum(F.log(F.col("n_chars").cast("double"))).as("__sl"),
          F.min("n_chars").as("__mn"))
        .filter(F.col("__m") === k + 1) // corpus big enough for the fit
        .select(F.lit(k).as("k"),
          (F.floor((F.lit(1.0)
            / ((F.col("__sl") - F.log(F.col("__mn").cast("double")))
              / F.lit(k.toDouble)
              - F.log(F.col("__mn").cast("double")))) * 1e6 + 0.5) / 1e6).as("alpha"))
    },

    // Explicit GROUPING SETS with grouping_id — the remaining ANSI
    // OLAP grouping form beyond q72's ROLLUP / q99's CUBE: exactly the
    // four requested groupings, one pass, partial-agg'd per set.
    // grouping_id bit semantics are ANSI (left expr = high bit), so
    // both engines label the sets identically.
    "q256_grouping_sets" -> { (s, dir) =>
      T.load(s, dir, "orders").createOrReplaceTempView("__gs_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
                 grouping_id(o_orderstatus, o_orderpriority) AS gid,
                 count(*) AS n, round(sum(o_totalprice), 4) AS rev
               FROM __gs_orders
               GROUP BY GROUPING SETS (
                 (o_orderstatus, o_orderpriority),
                 (o_orderstatus), (o_orderpriority), ())""")
    },

    // Sample-ratio-mismatch guardrail (the first thing an experiment
    // platform checks): chi-square of observed variant counts against
    // the designed 50/50 split. Exact integer counts → one scalar
    // fold; the 3.84 gate is the chi²(1) 5% critical value. SRM firing
    // means the assignment plumbing is broken and the experiment's
    // readout (q243) cannot be trusted.
    "q257_srm_check" -> { (s, dir) =>
      val v = T.load(s, dir, "events")
        .select(F.col("user_id")).distinct()
        .groupBy((F.col("user_id") % 2).as("variant"))
        .agg(F.count(F.lit(1)).as("n"))
      val tot = v.agg(F.sum("n").cast("double").as("t"))
      v.crossJoin(F.broadcast(tot))
        .select(F.col("variant"), F.col("n"),
          (F.col("t") / 2).as("__e"),
          ((F.col("n") - F.col("t") / 2) * (F.col("n") - F.col("t") / 2)
            / (F.col("t") / 2)).as("__x"))
        .agg(F.sum("n").cast("long").as("n_users"),
          (F.floor((F.sum("__x")) * 1e6 + 0.5) / 1e6).as("chi2"),
          ((F.floor((F.sum("__x")) * 1e6 + 0.5) / 1e6) <= 3.841459).as("srm_ok"))
    },

    // One distributed BPE-training iteration (Sennrich et al. 2016):
    // adjacent character-pair counts over the word vocabulary,
    // frequency-weighted — the argmax pair IS the next merge a
    // tokenizer trainer would apply. Scale shape: pair generation is
    // a per-word array transform (scan-parallel) over the COMPACT
    // (word, count) vocabulary, not the corpus; one partial-agg'd
    // groupBy on 2-char keys; top-10 via TakeOrdered. Exact integers
    // end-to-end.
    "q258_bpe_pairs" -> { (s, dir) =>
      val wc = T.load(s, dir, "documents")
        .select(F.explode(TextExpressions.wordTokens(F.col("text")))
          .as("w"))
        .groupBy("w").agg(F.count(F.lit(1)).as("c"))
      wc.filter(F.length(F.col("w")) >= 2)
        .select(F.col("c"), F.explode(F.expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(F.sum("c").cast("long").as("n"))
        .orderBy(F.col("n").desc, F.col("pair").asc)
        .limit(10)
        .withColumn("rank", F.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(F.col("n").desc, F.col("pair").asc)))
    },

    // Event-time disorder audit — the report that picks a streaming
    // watermark delay: per event (in ARRIVAL order = event_id), how
    // far behind the largest event time already seen is it? Exclusive
    // running max via the two-phase distributed scan
    // (`globalPrefixMax`: range partition + O(P) driver offsets; max
    // is an exact monoid, so unlike the double prefix sum there is no
    // addition-tree caveat). Bucketed lateness histogram + per-bucket
    // max — read the '<= 1 h' mass, set the watermark.
    "q259_lateness_audit" -> { (s, dir) =>
      import graft.ops.RelOps
      val ev = T.load(s, dir, "events")
        .select(F.col("event_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("tsec"))
      RelOps.globalPrefixMax(ev, "tsec", "pm",
          Seq(RelOps.Ordering("event_id")))
        .filter(F.col("pm").isNotNull)
        .withColumn("late",
          F.greatest(F.col("pm") - F.col("tsec"), F.lit(0L)))
        .withColumn("bucket",
          F.when(F.col("late") === 0, "in_order")
            .when(F.col("late") <= 60, "le_1m")
            .when(F.col("late") <= 3600, "le_1h")
            .when(F.col("late") <= 86400, "le_1d")
            .otherwise("gt_1d"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_events"),
          F.max("late").as("max_late_sec"))
    },

    // Deterministic negative sampling for implicit-feedback training
    // (the contrastive-pair generator): per customer, probe 10
    // hash-derived candidate parts (portable Knuth-mod, the q109/q250
    // arithmetic), drop any the customer actually bought (anti-join on
    // the interaction relation), keep the first 3 by probe index.
    // Scale shape: fan-out is a FIXED 10 probes per user — never a
    // user × item cross join — and the anti-join is a keyed shuffle on
    // (user, item). The j-ordered rank window is per-user bounded.
    "q260_negative_sample" -> { (s, dir) =>
      val inter = T.load(s, dir, "orders")
        .join(T.load(s, dir, "lineitem"),
          F.col("o_orderkey") === F.col("l_orderkey"))
        .select(F.col("o_custkey").as("u"), F.col("l_partkey").as("i"))
        .distinct()
      val np = T.load(s, dir, "part").agg(F.count(F.lit(1)).as("np"))
      val users = inter.select("u").distinct()
      val probes = users.crossJoin(F.broadcast(np))
        .select(F.col("u"), F.explode(F.expr("sequence(1, 10)")).as("j"),
          F.col("np"))
        .withColumn("i", F.expr(
          // % np lands candidates exactly on the 0-based part-key
          // domain: p_partkey is 0..np-1 at every SF (checked sf0.001
          // /0.01/0.1 — min=0, max=np-1), so item 0 is real and np
          // does not exist; a +1 shift would be the actual bug here
          "pmod((u % 1000003) * 2654435761 + j * 48271, 1000003) % np"))
        .groupBy("u", "i").agg(F.min("j").as("j")) // dedup repeat probes
      val w = Window.partitionBy("u").orderBy("j")
      probes.join(inter, Seq("u", "i"), "left_anti")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(F.col("u").as("user_id"), F.col("i").as("neg_item"),
          F.col("j").as("probe"), F.col("rk").as("rank"))
    },

    // Tolerance-bounded as-of join (pandas merge_asof tolerance): for
    // every non-purchase event, the user's most recent purchase value
    // — UNLESS it is older than 24 h, in which case NULL (a stale
    // context is worse than none). Extends q73's single-shuffle as-of
    // composition (`AsOfJoin.backwardWithin`): the right timestamp
    // rides the carried struct, so the staleness bound is a per-row
    // projection, not a second join.
    "q261_asof_tolerance" -> { (s, dir) =>
      val e = T.load(s, dir, "events")
        .select(F.col("event_id"), F.col("user_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("tsec"),
          F.col("value"), F.col("event_type"))
      val right = e.filter(F.col("event_type") === "purchase")
        .groupBy("user_id", "tsec").agg(F.max("value").as("value"))
      val left = e.filter(F.col("event_type") =!= "purchase")
        .select("event_id", "user_id", "tsec")
      graft.ops.AsOfJoin.backwardWithin(left, right,
          keyCols = Seq("user_id"), tsCol = "tsec",
          valueCols = Seq("value"), tol = 86400L)
        .select(F.col("event_id"), F.col("user_id"),
          F.round(F.col("asof_value"), 6).as("last_purchase"))
    },

    // Contribution analysis (share-of-parent): each nation's revenue
    // share within its region, and each region's share of the total —
    // the two-level OLAP report every finance dashboard leads with.
    // One partial-agg'd rollup pass per level; dims broadcast; parent
    // totals rejoin as broadcast relations (the facts shuffle once).
    "q262_share_of_parent" -> { (s, dir) =>
      val rev = T.load(s, dir, "orders")
        .join(F.broadcast(T.load(s, dir, "customer")
          .select("c_custkey", "c_nationkey")),
          F.col("o_custkey") === F.col("c_custkey"))
        .join(F.broadcast(T.load(s, dir, "nation")),
          F.col("c_nationkey") === F.col("n_nationkey"))
        .join(F.broadcast(T.load(s, dir, "region")),
          F.col("n_regionkey") === F.col("r_regionkey"))
        .groupBy(F.col("r_name").as("region"), F.col("n_name").as("nation"))
        .agg(F.sum("o_totalprice").as("rev"))
      val regionRev = rev.groupBy("region").agg(F.sum("rev").as("rrev"))
      val total = regionRev.agg(F.sum("rrev").as("trev"))
      rev.join(F.broadcast(regionRev), "region")
        .crossJoin(F.broadcast(total))
        .select(F.col("region"), F.col("nation"),
          (F.floor((F.col("rev")) * 1e4 + 0.5) / 1e4).as("rev"),
          (F.floor((F.col("rev") / F.col("rrev")) * 1e6 + 0.5) / 1e6).as("nation_share"),
          (F.floor((F.col("rrev") / F.col("trev")) * 1e6 + 0.5) / 1e6).as("region_share"))
    },

    // Journey predictability: Shannon entropy of the next-event-type
    // distribution per current type (the per-state entropy of q195's
    // Markov chain). Low entropy = deterministic flows (automations,
    // bots); high = exploratory behavior. One per-user lag window
    // (bounded partitions), one pair count, one per-state fold on
    // exact rational probabilities.
    "q263_session_entropy" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val pairs = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("tsec"),
          F.col("event_type").as("cur"))
        .withColumn("nxt", F.lead("cur", 1).over(w))
        .filter(F.col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(F.count(F.lit(1)).as("n"))
      val tot = pairs.groupBy("cur").agg(F.sum("n").as("ntot"))
      pairs.join(F.broadcast(tot), "cur")
        .groupBy(F.col("cur").as("event_type"))
        .agg(F.max("ntot").cast("long").as("n_trans"),
          (F.floor((-F.sum((F.col("n") / F.col("ntot"))
            * F.log(F.col("n") / F.col("ntot")))) * 1e6 + 0.5) / 1e6).as("entropy"))
    }
  )

  def oracleSql: Map[String, String] = Map(

    "q231_bradley_terry" ->
      """WITH cmp AS MATERIALIZED (SELECT l_orderkey o, p_brand br,
               sum(l_quantity) q
             FROM lineitem JOIN part ON l_partkey = p_partkey
             GROUP BY 1, 2),
          pr AS MATERIALIZED (SELECT x.br b1, y.br b2, count(*) n,
                   count(*) FILTER (WHERE x.q > y.q) w1
                 FROM cmp x JOIN cmp y
                   ON x.o = y.o AND x.br < y.br AND x.q != y.q
                 GROUP BY 1, 2),
          wins AS MATERIALIZED (SELECT item, CAST(sum(w) AS BIGINT) wins FROM (
                     SELECT b1 item, w1 w FROM pr
                     UNION ALL SELECT b2, n - w1 FROM pr) t GROUP BY 1),
          sym AS MATERIALIZED (SELECT b1 i, b2 j, n FROM pr
                  UNION ALL SELECT b2, b1, n FROM pr),
          w0 AS MATERIALIZED (SELECT item, 1.0 wt FROM wins),
          d1 AS MATERIALIZED (SELECT s.i item, sum(s.n / (wi.wt + wj.wt)) den
                 FROM sym s JOIN w0 wi ON s.i = wi.item
                   JOIN w0 wj ON s.j = wj.item GROUP BY 1),
          r1 AS MATERIALIZED (SELECT w.item, w.wins / d.den raw
                 FROM wins w JOIN d1 d USING (item)),
          m1 AS MATERIALIZED (SELECT avg(raw) mu FROM r1),
          i1 AS MATERIALIZED (SELECT item, floor((raw / mu) * 1e8 + 0.5) / 1e8 wt
                 FROM r1 CROSS JOIN m1),
          d2 AS MATERIALIZED (SELECT s.i item, sum(s.n / (wi.wt + wj.wt)) den
                 FROM sym s JOIN i1 wi ON s.i = wi.item
                   JOIN i1 wj ON s.j = wj.item GROUP BY 1),
          r2 AS MATERIALIZED (SELECT w.item, w.wins / d.den raw
                 FROM wins w JOIN d2 d USING (item)),
          m2 AS MATERIALIZED (SELECT avg(raw) mu FROM r2),
          i2 AS MATERIALIZED (SELECT item, floor((raw / mu) * 1e8 + 0.5) / 1e8 wt
                 FROM r2 CROSS JOIN m2),
          d3 AS MATERIALIZED (SELECT s.i item, sum(s.n / (wi.wt + wj.wt)) den
                 FROM sym s JOIN i2 wi ON s.i = wi.item
                   JOIN i2 wj ON s.j = wj.item GROUP BY 1),
          r3 AS MATERIALIZED (SELECT w.item, w.wins / d.den raw
                 FROM wins w JOIN d3 d USING (item)),
          m3 AS MATERIALIZED (SELECT avg(raw) mu FROM r3),
          i3 AS MATERIALIZED (SELECT item, floor((raw / mu) * 1e8 + 0.5) / 1e8 wt
                 FROM r3 CROSS JOIN m3),
          d4 AS MATERIALIZED (SELECT s.i item, sum(s.n / (wi.wt + wj.wt)) den
                 FROM sym s JOIN i3 wi ON s.i = wi.item
                   JOIN i3 wj ON s.j = wj.item GROUP BY 1),
          r4 AS MATERIALIZED (SELECT w.item, w.wins / d.den raw
                 FROM wins w JOIN d4 d USING (item)),
          m4 AS MATERIALIZED (SELECT avg(raw) mu FROM r4),
          i4 AS MATERIALIZED (SELECT item, floor((raw / mu) * 1e8 + 0.5) / 1e8 wt
                 FROM r4 CROSS JOIN m4),
          d5 AS MATERIALIZED (SELECT s.i item, sum(s.n / (wi.wt + wj.wt)) den
                 FROM sym s JOIN i4 wi ON s.i = wi.item
                   JOIN i4 wj ON s.j = wj.item GROUP BY 1),
          r5 AS MATERIALIZED (SELECT w.item, w.wins / d.den raw
                 FROM wins w JOIN d5 d USING (item)),
          m5 AS MATERIALIZED (SELECT avg(raw) mu FROM r5),
          i5 AS MATERIALIZED (SELECT item, floor((raw / mu) * 1e8 + 0.5) / 1e8 wt
                 FROM r5 CROSS JOIN m5)
          SELECT w.item AS brand, w.wins AS n_wins,
            floor((i.wt) * 1e6 + 0.5) / 1e6 + 0 AS strength
          FROM wins w JOIN i5 i USING (item)""",

    "q232_label_prop" ->
      """WITH ol AS MATERIALIZED (SELECT DISTINCT l_orderkey o, l_partkey p
                     FROM lineitem),
          e0 AS MATERIALIZED (SELECT a.p a, b.p b, count(*) c
                 FROM ol a JOIN ol b ON a.o = b.o AND a.p < b.p
                 GROUP BY 1, 2),
          e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE c >= 2),
          nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM e1
                    UNION SELECT b FROM e1),
          dir AS MATERIALIZED (SELECT a src, b dst FROM e1
                  UNION ALL SELECT b, a FROM e1
                  UNION ALL SELECT node, node FROM nodes),
          l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
          v1 AS MATERIALIZED (SELECT d.dst node, l.lab, count(*) c
                 FROM dir d JOIN l0 l ON d.src = l.node GROUP BY 1, 2),
          l1 AS MATERIALIZED (SELECT node, lab FROM (
                   SELECT node, lab, row_number() OVER (
                     PARTITION BY node ORDER BY c DESC, lab) rn
                   FROM v1) t WHERE rn = 1),
          v2 AS MATERIALIZED (SELECT d.dst node, l.lab, count(*) c
                 FROM dir d JOIN l1 l ON d.src = l.node GROUP BY 1, 2),
          l2 AS MATERIALIZED (SELECT node, lab FROM (
                   SELECT node, lab, row_number() OVER (
                     PARTITION BY node ORDER BY c DESC, lab) rn
                   FROM v2) t WHERE rn = 1),
          v3 AS MATERIALIZED (SELECT d.dst node, l.lab, count(*) c
                 FROM dir d JOIN l2 l ON d.src = l.node GROUP BY 1, 2),
          l3 AS MATERIALIZED (SELECT node, lab FROM (
                   SELECT node, lab, row_number() OVER (
                     PARTITION BY node ORDER BY c DESC, lab) rn
                   FROM v3) t WHERE rn = 1),
          v4 AS MATERIALIZED (SELECT d.dst node, l.lab, count(*) c
                 FROM dir d JOIN l3 l ON d.src = l.node GROUP BY 1, 2),
          l4 AS MATERIALIZED (SELECT node, lab FROM (
                   SELECT node, lab, row_number() OVER (
                     PARTITION BY node ORDER BY c DESC, lab) rn
                   FROM v4) t WHERE rn = 1)
          SELECT node, lab AS comm FROM l4""",

    "q233_cm_join_est" ->
      """SELECT CAST(count(*) AS BIGINT) AS exact_pairs,
           TRUE AS cm_ge, TRUE AS cm_close
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'""",

    "q234_rtbf_cascade" ->
      """WITH t AS (
           SELECT 'customer' table_name,
             (SELECT count(*) FROM customer) n_total,
             (SELECT count(*) FROM customer WHERE c_custkey % 97 = 0)
               n_removed
           UNION ALL SELECT 'orders',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders WHERE o_custkey IN
                (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0))
           UNION ALL SELECT 'lineitem',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem WHERE l_orderkey IN
                (SELECT o_orderkey FROM orders WHERE o_custkey IN
                   (SELECT c_custkey FROM customer
                    WHERE c_custkey % 97 = 0)))
           UNION ALL SELECT 'events',
             (SELECT count(*) FROM events),
             (SELECT count(*) FROM events WHERE user_id % 97 = 0))
         SELECT table_name, CAST(n_total AS BIGINT) n_total,
           CAST(n_removed AS BIGINT) n_removed,
           CAST(n_total - n_removed AS BIGINT) n_kept,
           floor((n_removed / CAST(n_total AS DOUBLE)) * 1e6 + 0.5) / 1e6 removed_frac
         FROM t""",

    "q235_stupid_backoff" ->
      s"""WITH toksall AS MATERIALIZED (SELECT doc_id, $duckToks t FROM documents),
          tr AS MATERIALIZED (SELECT * FROM toksall WHERE doc_id % 5 != 0),
          he AS MATERIALIZED (SELECT * FROM toksall WHERE doc_id % 5 = 0),
          c3 AS MATERIALIZED (SELECT g, count(*) c FROM (
                   SELECT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, len(t) - 1)]) g FROM tr) x
                 GROUP BY 1),
          cb AS MATERIALIZED (SELECT g, count(*) c FROM (
                   SELECT unnest([t[i] || ' ' || t[i+1]
                     for i in range(1, len(t))]) g FROM tr) x
                 GROUP BY 1),
          cu AS MATERIALIZED (SELECT w, count(*) c FROM (
                   SELECT unnest(t) w FROM tr) x GROUP BY 1),
          nn AS MATERIALIZED (SELECT CAST(sum(c) AS DOUBLE) n FROM cu),
          hg AS MATERIALIZED (SELECT doc_id, g, count(*) n FROM (
                   SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' '
                     || t[i+2] for i in range(1, len(t) - 1)]) g
                   FROM he) x GROUP BY 1, 2),
          hy AS MATERIALIZED (SELECT doc_id, n, g,
                   string_split(g, ' ')[1] w1, string_split(g, ' ')[2] w2,
                   string_split(g, ' ')[3] w3
                 FROM hg),
          sc AS MATERIALIZED (SELECT h.doc_id, h.n,
                   CASE WHEN c3.c IS NOT NULL
                          THEN c3.c / CAST(cbp.c AS DOUBLE)
                        WHEN cbl.c IS NOT NULL
                          THEN 0.4 * cbl.c / cu2.c
                        WHEN cu3.c IS NOT NULL
                          THEN 0.16 * cu3.c / nn.n
                        ELSE 0.064 / nn.n END s
                 FROM hy h
                 LEFT JOIN c3 ON h.g = c3.g
                 LEFT JOIN cb cbp ON h.w1 || ' ' || h.w2 = cbp.g
                 LEFT JOIN cb cbl ON h.w2 || ' ' || h.w3 = cbl.g
                 LEFT JOIN cu cu2 ON h.w2 = cu2.w
                 LEFT JOIN cu cu3 ON h.w3 = cu3.w
                 CROSS JOIN nn)
          SELECT doc_id, CAST(sum(n) AS BIGINT) n_grams,
            floor((sum(n * ln(s)) / sum(n)) * 1e6 + 0.5) / 1e6 + 0 AS sb_score
          FROM sc GROUP BY 1""",

    "q236_silhouette" ->
      """WITH ex AS (SELECT vec_id, label,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e2 AS (SELECT vec_id, label, z[2]::BIGINT pos, z[1]::DOUBLE x
                 FROM ex),
          c AS (SELECT label clab, pos, avg(x) c FROM e2 GROUP BY 1, 2),
          d AS (SELECT vec_id, label, clab,
                  floor((sqrt(sum((x - c) * (x - c)))) * 1e6 + 0.5) / 1e6 d
                FROM e2 JOIN c USING (pos) GROUP BY 1, 2, 3),
          ab AS (SELECT vec_id, label,
                   max(d) FILTER (WHERE clab = label) a,
                   min(d) FILTER (WHERE clab != label) b
                 FROM d GROUP BY 1, 2)
          SELECT label, CAST(count(*) AS BIGINT) n_vecs,
            floor((avg((b - a) / greatest(a, b))) * 1e6 + 0.5) / 1e6 + 0 AS avg_sil
          FROM ab GROUP BY 1""",

    "q237_kanon_audit" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) bal_band
             FROM customer),
          l0 AS MATERIALIZED (SELECT count(*) sz FROM c
                 GROUP BY c_nationkey, c_mktsegment, bal_band),
          l1 AS MATERIALIZED (SELECT count(*) sz FROM c
                 GROUP BY c_nationkey, c_mktsegment),
          l2 AS MATERIALIZED (SELECT count(*) sz FROM c GROUP BY c_mktsegment)
          SELECT 0 AS level,
            'c_nationkey,c_mktsegment,bal_band' AS quasi_cols,
            CAST(count(*) AS BIGINT) n_classes,
            CAST(count(*) FILTER (WHERE sz < 5) AS BIGINT)
              n_small_classes,
            CAST(coalesce(sum(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
              n_rows_at_risk
          FROM l0
          UNION ALL SELECT 1, 'c_nationkey,c_mktsegment',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE sz < 5) AS BIGINT),
            CAST(coalesce(sum(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
          FROM l1
          UNION ALL SELECT 2, 'c_mktsegment',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE sz < 5) AS BIGINT),
            CAST(coalesce(sum(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
          FROM l2""",

    "q238_delta_view" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) n_orders,
           round(sum(o_totalprice), 6) + 0 AS spend,
           round(max(o_totalprice), 6) + 0 AS max_spend
         FROM orders GROUP BY 1""",

    "q239_sliding_hll" ->
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
          days AS (SELECT DISTINCT day FROM ev),
          x AS (SELECT g.day AS day, count(DISTINCT e.user_id) c
                FROM days g JOIN ev e
                  ON e.day BETWEEN g.day - 6 AND g.day
                GROUP BY 1)
          SELECT day, CAST(c AS BIGINT) AS n_users_7d, TRUE AS hll_ok
          FROM x""",

    "q240_shard_balance" ->
      """WITH d AS (SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tok
             FROM documents),
          r AS (SELECT doc_id, n_tok, row_number() OVER (
                  ORDER BY n_tok DESC, doc_id) rk FROM d),
          b AS (SELECT n_tok,
                  CASE WHEN (rk - 1) % 16 < 8 THEN (rk - 1) % 16
                       ELSE 15 - (rk - 1) % 16 END AS shard
                FROM r),
          g AS (SELECT shard, count(*) n_docs, sum(n_tok) shard_tokens
                FROM b GROUP BY 1),
          m AS (SELECT max(shard_tokens) mx, min(shard_tokens) mn,
                  avg(shard_tokens) av FROM g)
          SELECT shard, CAST(n_docs AS BIGINT) n_docs,
            CAST(shard_tokens AS BIGINT) shard_tokens,
            floor(((mx - mn) / av) * 1e6 + 0.5) / 1e6 + 0 AS spread
          FROM g CROSS JOIN m""",

    "q241_cohen_kappa" ->
      """WITH ex AS MATERIALIZED (SELECT vec_id, label,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e2 AS MATERIALIZED (SELECT vec_id, label, z[2]::BIGINT pos,
                 z[1]::DOUBLE x FROM ex),
          c AS (SELECT label clab, pos, avg(x) c FROM e2 GROUP BY 1, 2),
          d AS (SELECT vec_id, label, clab,
                  floor((sqrt(sum((x - c) * (x - c)))) * 1e6 + 0.5) / 1e6 d
                FROM e2 JOIN c USING (pos) GROUP BY 1, 2, 3),
          p AS (SELECT label, clab AS pred FROM (
                  SELECT label, clab, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d, clab) rn
                  FROM d) t WHERE rn = 1),
          conf AS MATERIALIZED (SELECT label, pred, count(*) c
                                FROM p GROUP BY 1, 2),
          tot AS (SELECT sum(c) n,
                    coalesce(sum(c) FILTER (WHERE label = pred), 0) diag
                  FROM conf),
          marg AS (SELECT sum(rc.c * cc.c) rcsum FROM
                     (SELECT label, sum(c) c FROM conf GROUP BY 1) rc
                   JOIN (SELECT pred AS label, sum(c) c FROM conf
                         GROUP BY 1) cc USING (label))
          SELECT CAST(n AS BIGINT) n_vecs,
            floor((diag / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 AS accuracy,
            floor(((diag / CAST(n AS DOUBLE)
                    - rcsum / CAST(n * n AS DOUBLE))
                  / (1.0 - rcsum / CAST(n * n AS DOUBLE))) * 1e6 + 0.5) / 1e6 + 0
              AS kappa
          FROM tot CROSS JOIN marg""",

    "q242_mmr_diversify" -> mmrOracle(5),

    "q243_cuped" ->
      """WITH u AS MATERIALIZED (SELECT user_id,
               coalesce(sum(value) FILTER (
                 WHERE ts < TIMESTAMP '2024-01-16'), 0) pre,
               coalesce(sum(value) FILTER (
                 WHERE ts >= TIMESTAMP '2024-01-16'), 0) post,
               user_id % 2 AS variant
             FROM events GROUP BY 1),
          mom AS (SELECT CAST(count(*) AS DOUBLE) n, sum(pre) sp,
                    sum(post) spo, sum(pre * pre) sp2,
                    sum(pre * post) spp
                  FROM u),
          con AS (SELECT
                    floor(((n * spp - sp * spo)
                          / (n * sp2 - sp * sp)) * 1e6 + 0.5) / 1e6 theta,
                    floor((sp / n) * 1e6 + 0.5) / 1e6 mpre
                  FROM mom),
          a AS (SELECT variant, post,
                  post - theta * (pre - mpre) adj
                FROM u CROSS JOIN con)
          SELECT variant, CAST(count(*) AS BIGINT) n_users,
            floor((avg(post)) * 1e6 + 0.5) / 1e6 + 0 AS mean_post,
            floor((avg(adj)) * 1e6 + 0.5) / 1e6 + 0 AS mean_adj,
            floor((1.0 - (avg(adj * adj) - avg(adj) * avg(adj))
                  / (avg(post * post) - avg(post) * avg(post))) * 1e6 + 0.5) / 1e6 + 0
              AS var_reduction
          FROM a GROUP BY 1""",

    "q244_key_skew" ->
      """WITH c1 AS MATERIALIZED (SELECT l_partkey k, count(*) f
               FROM lineitem GROUP BY 1),
          t1 AS (SELECT sum(f) top10 FROM (
                   SELECT f FROM c1 ORDER BY f DESC, k LIMIT 10) x),
          s1 AS (SELECT CAST(count(*) AS BIGINT) n_keys,
                   CAST(max(f) AS BIGINT) max_freq,
                   floor((quantile_cont(f, 0.5)) * 1e6 + 0.5) / 1e6 + 0 p50,
                   floor((quantile_cont(f, 0.99)) * 1e6 + 0.5) / 1e6 + 0 p99,
                   CAST(sum(f) AS DOUBLE) tot, avg(f) mu, avg(f*f) m2
                 FROM c1),
          r1 AS (SELECT 'l_partkey' key_name, n_keys, max_freq,
                   p50 AS p50_freq, p99 AS p99_freq,
                   floor((top10 / tot) * 1e6 + 0.5) / 1e6 + 0 top10_share,
                   floor((sqrt(m2 - mu * mu) / mu) * 1e6 + 0.5) / 1e6 + 0 cv
                 FROM s1 CROSS JOIN t1),
          c2 AS MATERIALIZED (SELECT l_suppkey k, count(*) f
               FROM lineitem GROUP BY 1),
          t2 AS (SELECT sum(f) top10 FROM (
                   SELECT f FROM c2 ORDER BY f DESC, k LIMIT 10) x),
          s2 AS (SELECT CAST(count(*) AS BIGINT) n_keys,
                   CAST(max(f) AS BIGINT) max_freq,
                   floor((quantile_cont(f, 0.5)) * 1e6 + 0.5) / 1e6 + 0 p50,
                   floor((quantile_cont(f, 0.99)) * 1e6 + 0.5) / 1e6 + 0 p99,
                   CAST(sum(f) AS DOUBLE) tot, avg(f) mu, avg(f*f) m2
                 FROM c2),
          r2 AS (SELECT 'l_suppkey' key_name, n_keys, max_freq,
                   p50 AS p50_freq, p99 AS p99_freq,
                   floor((top10 / tot) * 1e6 + 0.5) / 1e6 + 0 top10_share,
                   floor((sqrt(m2 - mu * mu) / mu) * 1e6 + 0.5) / 1e6 + 0 cv
                 FROM s2 CROSS JOIN t2),
          c3 AS MATERIALIZED (SELECT o_custkey k, count(*) f
               FROM orders GROUP BY 1),
          t3 AS (SELECT sum(f) top10 FROM (
                   SELECT f FROM c3 ORDER BY f DESC, k LIMIT 10) x),
          s3 AS (SELECT CAST(count(*) AS BIGINT) n_keys,
                   CAST(max(f) AS BIGINT) max_freq,
                   floor((quantile_cont(f, 0.5)) * 1e6 + 0.5) / 1e6 + 0 p50,
                   floor((quantile_cont(f, 0.99)) * 1e6 + 0.5) / 1e6 + 0 p99,
                   CAST(sum(f) AS DOUBLE) tot, avg(f) mu, avg(f*f) m2
                 FROM c3),
          r3 AS (SELECT 'o_custkey' key_name, n_keys, max_freq,
                   p50 AS p50_freq, p99 AS p99_freq,
                   floor((top10 / tot) * 1e6 + 0.5) / 1e6 + 0 top10_share,
                   floor((sqrt(m2 - mu * mu) / mu) * 1e6 + 0.5) / 1e6 + 0 cv
                 FROM s3 CROSS JOIN t3)
          SELECT * FROM r1 UNION ALL SELECT * FROM r2
          UNION ALL SELECT * FROM r3""",

    "q245_neardup_explain" ->
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $duckToks t
               FROM documents),
          sh AS MATERIALIZED (SELECT doc_id, $duckShingles3 s FROM toks),
          jp AS (SELECT a.doc_id id1, b.doc_id id2,
                   floor((len(list_intersect(a.s, b.s)) /
                     CAST(len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s)) AS DOUBLE)) * 1e3 + 0.5) / 1e3
                     AS jac,
                   list_sort(list_intersect(a.s, b.s)) shared
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          SELECT id1, id2, jac, CAST(len(shared) AS BIGINT) n_shared,
            array_to_string(shared[1:3], '|') AS top_shared
          FROM jp WHERE jac >= 0.85""",

    "q246_ppr" ->
      """WITH ol AS MATERIALIZED (SELECT DISTINCT l_orderkey o,
               l_partkey p FROM lineitem),
          e0 AS MATERIALIZED (SELECT a.p a, b.p b, count(*) c
                 FROM ol a JOIN ol b ON a.o = b.o AND a.p < b.p
                 GROUP BY 1, 2),
          e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE c >= 2),
          edges AS MATERIALIZED (SELECT a src, b dst FROM e1
                  UNION ALL SELECT b, a FROM e1),
          deg AS MATERIALIZED (SELECT src, count(*) deg FROM edges
                               GROUP BY 1),
          nodes AS MATERIALIZED (SELECT DISTINCT src node FROM edges),
          sd AS MATERIALIZED (SELECT DISTINCT ol.p AS node FROM ol
                 JOIN orders ON ol.o = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
                   AND c_mktsegment = 'BUILDING'
                 WHERE ol.p IN (SELECT node FROM nodes)),
          ns AS (SELECT CAST(count(*) AS DOUBLE) s FROM sd),
          base AS MATERIALIZED (SELECT n.node,
                   CASE WHEN sd.node IS NOT NULL THEN 1.0 / ns.s
                        ELSE 0.0 END b
                 FROM nodes n LEFT JOIN sd ON n.node = sd.node
                 CROSS JOIN ns),
          p0 AS (SELECT node, b pr FROM base),
          c1 AS (SELECT dst, sum(pr / deg) inflow FROM edges
                 JOIN deg USING (src) JOIN p0 ON src = node GROUP BY 1),
          p1 AS MATERIALIZED (SELECT base.node,
                   (1 - 0.85) * b + 0.85 * coalesce(inflow, 0) pr
                 FROM base LEFT JOIN c1 ON base.node = dst),
          c2 AS (SELECT dst, sum(pr / deg) inflow FROM edges
                 JOIN deg USING (src) JOIN p1 ON src = node GROUP BY 1),
          p2 AS MATERIALIZED (SELECT base.node,
                   (1 - 0.85) * b + 0.85 * coalesce(inflow, 0) pr
                 FROM base LEFT JOIN c2 ON base.node = dst),
          c3 AS (SELECT dst, sum(pr / deg) inflow FROM edges
                 JOIN deg USING (src) JOIN p2 ON src = node GROUP BY 1),
          p3 AS (SELECT base.node,
                   (1 - 0.85) * b + 0.85 * coalesce(inflow, 0) pr
                 FROM base LEFT JOIN c3 ON base.node = dst)
          SELECT node, round(pr * 1000, 6) + 0 AS pprk FROM p3""",

    "q247_vocab_growth" ->
      s"""WITH mx AS (SELECT max(doc_id) mx FROM documents),
          td AS MATERIALIZED (SELECT doc_id // (mx // 10 + 1) decile,
                 unnest($duckToks) tok FROM documents CROSS JOIN mx),
          ft AS MATERIALIZED (SELECT tok, min(decile) fd FROM td
                              GROUP BY 1),
          nt AS MATERIALIZED (SELECT fd, count(*) new_types FROM ft
                              GROUP BY 1),
          tc AS MATERIALIZED (SELECT decile, count(*) n_toks FROM td
                              GROUP BY 1),
          g AS (SELECT decile d FROM tc),
          cumt AS (SELECT g.d, sum(tc.n_toks) n_tokens_cum
                   FROM g JOIN tc ON tc.decile <= g.d GROUP BY 1),
          cumv AS (SELECT g.d, sum(nt.new_types) vocab_cum
                   FROM g JOIN nt ON nt.fd <= g.d GROUP BY 1)
          SELECT cumt.d decile,
            CAST(n_tokens_cum AS BIGINT) n_tokens_cum,
            CAST(vocab_cum AS BIGINT) vocab_cum,
            CAST(coalesce(nt.new_types, 0) AS BIGINT) new_types,
            floor((vocab_cum / CAST(n_tokens_cum AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 ttr
          FROM cumt JOIN cumv USING (d) LEFT JOIN nt ON nt.fd = cumt.d""",

    "q248_seasonal_decomp" ->
      """WITH ev AS (SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS vc
             FROM events),
          hourly AS (SELECT event_type, h, sum(vc) AS xr
                     FROM ev GROUP BY 1, 2),
          grid AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h
                   FROM (SELECT event_type, min(h) AS h0, max(h) AS h1
                         FROM hourly GROUP BY 1)),
          ser AS MATERIALIZED (SELECT g.event_type, g.h,
                 coalesce(hourly.xr, 0) AS x
               FROM grid g LEFT JOIN hourly
                 ON g.event_type = hourly.event_type AND g.h = hourly.h),
          t AS MATERIALIZED (SELECT event_type, h, x,
                 count(*) OVER w wn, sum(x) OVER w ws
               FROM ser WINDOW w AS (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
          t2 AS MATERIALIZED (SELECT event_type, h, x, ws / 25.0 trend,
                 x - ws / 25.0 det
               FROM t WHERE wn = 25),
          seas AS (SELECT event_type, h % 24 hod, floor((avg(det)) * 1e6 + 0.5) / 1e6
                     seasonal
                   FROM t2 GROUP BY 1, 2),
          r AS (SELECT t2.event_type, trend, seasonal,
                  det - seasonal resid
                FROM t2 JOIN seas ON t2.event_type = seas.event_type
                  AND t2.h % 24 = seas.hod)
          SELECT event_type, CAST(count(*) AS BIGINT) n_hours,
            floor((greatest(0.0, 1.0
              - (avg(resid * resid) - avg(resid) * avg(resid))
              / (avg((trend + resid) * (trend + resid))
                 - avg(trend + resid) * avg(trend + resid)))) * 1e6 + 0.5) / 1e6 + 0
              AS f_trend,
            floor((greatest(0.0, 1.0
              - (avg(resid * resid) - avg(resid) * avg(resid))
              / (avg((seasonal + resid) * (seasonal + resid))
                 - avg(seasonal + resid) * avg(seasonal + resid)))) * 1e6 + 0.5) / 1e6
              + 0 AS f_seasonal
          FROM r GROUP BY 1""",

    "q249_kcenter" -> kcOracle(5),

    "q250_perm_test" ->
      """WITH u AS MATERIALIZED (SELECT user_id,
               coalesce(sum(value) FILTER (
                 WHERE ts >= TIMESTAMP '2024-01-16'), 0)
               - coalesce(sum(value) FILTER (
                   WHERE ts < TIMESTAMP '2024-01-16'), 0) AS diff
             FROM events GROUP BY 1),
          obs AS (SELECT floor((abs(avg(diff))) * 1e6 + 0.5) / 1e6 stat_obs,
                    count(*) n_users FROM u),
          pp AS (SELECT p, floor((abs(avg(sign * diff))) * 1e6 + 0.5) / 1e6 stat_p
                 FROM (SELECT u.diff, p.p,
                         1 - 2 * (((user_id % 1000003) * 2654435761
                           + p.p * 48271) % 1000003 % 2) AS sign
                       FROM u CROSS JOIN (SELECT
                         unnest(generate_series(1, 200)) p) p) x
                 GROUP BY 1)
          SELECT CAST(n_users AS BIGINT) n_users, stat_obs + 0 AS stat_obs,
            floor(((1 + count(*) FILTER (WHERE stat_p >= stat_obs))
              / 201.0) * 1e6 + 0.5) / 1e6 + 0 AS p_value
          FROM pp CROSS JOIN obs GROUP BY n_users, stat_obs""",

    "q251_class_balance" ->
      """WITH cnt AS (SELECT lang, count(*) n_before FROM documents
                      GROUP BY 1),
          mx AS (SELECT max(n_before) mxc FROM cnt),
          plan AS (SELECT lang, n_before,
                     (mxc + n_before - 1) // n_before rep_factor
                   FROM cnt CROSS JOIN mx),
          over_ AS (SELECT d.lang, count(*) n_after
                    FROM documents d JOIN plan USING (lang)
                    CROSS JOIN unnest(generate_series(1, rep_factor))
                    GROUP BY 1),
          tot AS (SELECT CAST(sum(n_after) AS DOUBLE) ta FROM over_)
          SELECT plan.lang, CAST(n_before AS BIGINT) n_before,
            CAST(rep_factor AS BIGINT) rep_factor,
            CAST(n_after AS BIGINT) n_after,
            floor((n_after / ta) * 1e6 + 0.5) / 1e6 + 0 AS share_after
          FROM plan JOIN over_ ON plan.lang = over_.lang
          CROSS JOIN tot""",

    "q252_dup_label_noise" ->
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $duckToks t
               FROM documents),
          sh AS MATERIALIZED (SELECT doc_id, $duckShingles3 s FROM toks),
          jp AS (SELECT a.doc_id id1, b.doc_id id2
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                 WHERE floor((len(list_intersect(a.s, b.s)) /
                     CAST(len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s)) AS DOUBLE)) * 1e3 + 0.5) / 1e3
                   >= 0.85),
          m AS (SELECT d1.lang l1, d1.source s1, d2.lang l2, d2.source s2
                FROM jp JOIN documents d1 ON jp.id1 = d1.doc_id
                JOIN documents d2 ON jp.id2 = d2.doc_id)
          SELECT CAST(count(*) AS BIGINT) n_pairs,
            CAST(count(*) FILTER (WHERE l1 != l2) AS BIGINT)
              lang_mismatch,
            floor((count(*) FILTER (WHERE l1 != l2)
              / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 lang_mismatch_frac,
            CAST(count(*) FILTER (WHERE s1 != s2) AS BIGINT)
              cross_source,
            floor((count(*) FILTER (WHERE s1 != s2)
              / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 cross_source_frac
          FROM m""",

    "q253_hill_tail" ->
      """WITH t AS (SELECT n_chars FROM documents
                    ORDER BY n_chars DESC, doc_id LIMIT 51),
          a AS (SELECT count(*) m, sum(ln(n_chars)) sl, min(n_chars) mn
                FROM t)
          SELECT 50 AS k,
            floor((1.0 / ((sl - ln(mn)) / 50 - ln(mn))) * 1e6 + 0.5) / 1e6 + 0 AS alpha
          FROM a WHERE m = 51""",

    "q256_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
             AS gid,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) + 0 AS rev
         FROM orders
         GROUP BY GROUPING SETS (
           (o_orderstatus, o_orderpriority),
           (o_orderstatus), (o_orderpriority), ())""",

    "q257_srm_check" ->
      """WITH v AS (SELECT user_id % 2 variant, count(*) n
                    FROM (SELECT DISTINCT user_id FROM events) u
                    GROUP BY 1),
          t AS (SELECT CAST(sum(n) AS DOUBLE) t FROM v)
          SELECT CAST(sum(n) AS BIGINT) n_users,
            floor((sum((n - t / 2) * (n - t / 2) / (t / 2))) * 1e6 + 0.5) / 1e6 + 0
              AS chi2,
            floor((sum((n - t / 2) * (n - t / 2) / (t / 2))) * 1e6 + 0.5) / 1e6
              <= 3.841459 AS srm_ok
          FROM v CROSS JOIN t""",

    "q258_bpe_pairs" ->
      s"""WITH wc AS MATERIALIZED (SELECT w, count(*) c FROM (
               SELECT unnest($duckToks) w FROM documents) x GROUP BY 1),
          p AS (SELECT c, unnest([w[i:i+1]
                  for i in range(1, len(w))]) pair
                FROM wc WHERE len(w) >= 2),
          g AS (SELECT pair, CAST(sum(c) AS BIGINT) n FROM p
                GROUP BY 1),
          r AS (SELECT pair, n, row_number() OVER (
                  ORDER BY n DESC, pair) rank FROM g)
          SELECT pair, n, rank FROM r WHERE rank <= 10""",

    "q259_lateness_audit" ->
      """WITH e AS (SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT) tsec FROM events),
          p AS (SELECT event_id, tsec,
                  max(tsec) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    pm
                FROM e),
          l AS (SELECT greatest(pm - tsec, 0) late FROM p
                WHERE pm IS NOT NULL),
          b AS (SELECT CASE WHEN late = 0 THEN 'in_order'
                            WHEN late <= 60 THEN 'le_1m'
                            WHEN late <= 3600 THEN 'le_1h'
                            WHEN late <= 86400 THEN 'le_1d'
                            ELSE 'gt_1d' END bucket, late
                FROM l)
          SELECT bucket, CAST(count(*) AS BIGINT) n_events,
            CAST(max(late) AS BIGINT) max_late_sec
          FROM b GROUP BY 1""",

    "q260_negative_sample" ->
      """WITH inter AS MATERIALIZED (SELECT DISTINCT o_custkey u,
               l_partkey i
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          np AS (SELECT count(*) np FROM part),
          pr AS (SELECT u, i, min(j) j FROM (
                   SELECT u.u, p.j,
                     ((u.u % 1000003) * 2654435761 + p.j * 48271)
                       % 1000003 % np AS i
                   FROM (SELECT DISTINCT u FROM inter) u
                   CROSS JOIN (SELECT unnest(generate_series(1, 10)) j) p
                   CROSS JOIN np) x
                 GROUP BY 1, 2),
          neg AS (SELECT pr.u, pr.i, pr.j,
                    row_number() OVER (PARTITION BY pr.u ORDER BY pr.j)
                      rk
                  FROM pr ANTI JOIN inter
                    ON pr.u = inter.u AND pr.i = inter.i)
          SELECT u AS user_id, i AS neg_item, j AS probe,
            CAST(rk AS BIGINT) AS rank
          FROM neg WHERE rk <= 3""",

    "q261_asof_tolerance" ->
      """WITH r AS (SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) tsec,
               max(value) AS value
             FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          l AS (SELECT event_id, user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) tsec
                FROM events WHERE event_type != 'purchase')
          SELECT l.event_id, l.user_id,
            round(CASE WHEN l.tsec - r.tsec <= 86400
                       THEN r.value END, 6) + 0 AS last_purchase
          FROM l ASOF LEFT JOIN r
            ON l.user_id = r.user_id AND l.tsec >= r.tsec""",

    "q262_share_of_parent" ->
      """WITH rev AS (SELECT r_name region, n_name nation,
               sum(o_totalprice) rev
             FROM orders
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             GROUP BY 1, 2),
          rr AS (SELECT region, sum(rev) rrev FROM rev GROUP BY 1),
          t AS (SELECT sum(rrev) trev FROM rr)
          SELECT rev.region, nation, floor((rev) * 1e4 + 0.5) / 1e4 + 0 AS rev,
            floor((rev / rrev) * 1e6 + 0.5) / 1e6 + 0 AS nation_share,
            floor((rrev / trev) * 1e6 + 0.5) / 1e6 + 0 AS region_share
          FROM rev JOIN rr ON rev.region = rr.region CROSS JOIN t""",

    "q263_session_entropy" ->
      """WITH e AS (SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) tsec, event_type cur
             FROM events),
          p AS (SELECT cur, lead(cur) OVER (PARTITION BY user_id
                  ORDER BY tsec, event_id) nxt
                FROM e),
          c AS (SELECT cur, nxt, count(*) n FROM p
                WHERE nxt IS NOT NULL GROUP BY 1, 2),
          t AS (SELECT cur, sum(n) ntot FROM c GROUP BY 1)
          SELECT c.cur AS event_type,
            CAST(max(t.ntot) AS BIGINT) AS n_trans,
            floor((-sum((n / CAST(ntot AS DOUBLE))
              * ln(n / CAST(ntot AS DOUBLE)))) * 1e6 + 0.5) / 1e6 + 0 AS entropy
          FROM c JOIN t ON c.cur = t.cur GROUP BY 1"""
  )

  /** Unrolled k-step farthest-point-sampling oracle — the [[mmrOracle]]
    * shape with max-min DISTANCE instead of relevance-minus-similarity;
    * MATERIALIZED per step for the same exponential-inline reason. */
  private def kcOracle(k: Int): String = {
    val base =
      """WITH ex AS MATERIALIZED (SELECT vec_id,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e2 AS MATERIALIZED (SELECT vec_id, z[2]::BIGINT pos,
                 z[1]::DOUBLE x FROM ex),
          s1 AS MATERIALIZED (SELECT 1 AS step, min(vec_id) AS vec_id,
                 0.0 AS dmin FROM e2),
          sel1 AS (SELECT vec_id FROM s1)"""
    val steps = (2 to k).map { i =>
      s"""
          d$i AS (SELECT dd.vec_id,
                   min(round(sqrt(dd.d2), 6)) dmin
                 FROM (SELECT a.vec_id, b.vec_id sid,
                         sum((a.x - b.x) * (a.x - b.x)) d2
                       FROM e2 a JOIN e2 b ON a.pos = b.pos
                       WHERE b.vec_id IN (SELECT vec_id FROM sel${i - 1})
                       GROUP BY 1, 2) dd
                 GROUP BY 1),
          s$i AS MATERIALIZED (SELECT $i AS step, vec_id, dmin
                 FROM d$i
                 WHERE vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
                 ORDER BY dmin DESC, vec_id LIMIT 1),
          sel$i AS (SELECT vec_id FROM sel${i - 1}
                    UNION ALL SELECT vec_id FROM s$i)"""
    }.mkString(",", ",", "")
    val out = (1 to k).map(i => s"SELECT * FROM s$i")
      .mkString("\n          ", "\n          UNION ALL ", "")
    base + steps + out
  }

  /** Unrolled k-step MMR oracle: each step's argmax is replayed over
    * the SAME 6-dp-rounded relevance/similarity values the engine
    * ranks on; the selected set accumulates through per-step CTE
    * unions. MATERIALIZED stops DuckDB inlining the step chain
    * exponentially (the duckKCore lesson). */
  private def mmrOracle(k: Int): String = {
    val base =
      """WITH ex AS MATERIALIZED (SELECT vec_id, label,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e2 AS MATERIALIZED (SELECT vec_id, label, z[2]::BIGINT pos,
                 z[1]::DOUBLE x FROM ex),
          q0 AS MATERIALIZED (SELECT pos, avg(x) qc FROM e2
                              WHERE label = 0 GROUP BY 1),
          nv AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) nv
                              FROM e2 GROUP BY 1),
          nq AS (SELECT sqrt(sum(qc * qc)) nq FROM q0),
          rel AS MATERIALIZED (SELECT d.vec_id,
                  floor((d.d / (nv.nv * nq.nq)) * 1e6 + 0.5) / 1e6 rel
                FROM (SELECT vec_id, sum(x * qc) d FROM e2
                      JOIN q0 USING (pos) GROUP BY 1) d
                JOIN nv USING (vec_id) CROSS JOIN nq),
          s1 AS MATERIALIZED (SELECT 1 AS step, vec_id, rel, rel AS score
                FROM rel ORDER BY rel DESC, vec_id LIMIT 1),
          sel1 AS (SELECT vec_id FROM s1)"""
    val steps = (2 to k).map { i =>
      s"""
          sim$i AS (SELECT dd.vec_id,
                   max(floor((dd.d / (n1.nv * n2.nv)) * 1e6 + 0.5) / 1e6) msim
                 FROM (SELECT a.vec_id, b.vec_id sid, sum(a.x * b.x) d
                       FROM e2 a JOIN e2 b ON a.pos = b.pos
                       WHERE b.vec_id IN (SELECT vec_id FROM sel${i - 1})
                       GROUP BY 1, 2) dd
                 JOIN nv n1 ON dd.vec_id = n1.vec_id
                 JOIN nv n2 ON dd.sid = n2.vec_id
                 GROUP BY 1),
          s$i AS MATERIALIZED (SELECT $i AS step, r.vec_id, r.rel,
                   r.rel - 0.5 * sim$i.msim AS score
                 FROM rel r JOIN sim$i ON r.vec_id = sim$i.vec_id
                 WHERE r.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
                 ORDER BY score DESC, r.vec_id LIMIT 1),
          sel$i AS (SELECT vec_id FROM sel${i - 1}
                    UNION ALL SELECT vec_id FROM s$i)"""
    }.mkString(",", ",", "")
    val out = (1 to k).map(i => s"SELECT * FROM s$i")
      .mkString("\n          ", "\n          UNION ALL ", "")
    base + steps + out
  }
}
