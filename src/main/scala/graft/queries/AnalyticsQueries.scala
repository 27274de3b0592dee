package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.T
import graft.ops.RelOps._

/** Multi-operator analytics queries — TPC-H-shaped pipelines combining
  * the §2 operators (scan → multi-join → agg → topk), range-frame
  * windows, edit distance, deterministic sampling. These exercise
  * operator COMPOSITION, which is where plan quality (join order,
  * broadcast choice, partial agg placement) actually shows.
  */
object AnalyticsQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem, revenue per order,
    // top 10. Two broadcasts (customer dim after filter), one shuffle.
    "q74_shipping_priority" -> { (s, dir) =>
      val c = T.load(s, dir, "customer")
        .filterExpr("c_mktsegment = 'BUILDING'")
      val o = T.load(s, dir, "orders")
      val l = T.load(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(F.broadcast(c), o("o_custkey") === c("c_custkey"))
        .by(Seq("l_orderkey"),
          "revenue" -> "round(sum(l_extendedprice * (1 - l_discount)), 2)")
        .topK(10, Ordering("revenue", desc = true), Ordering("l_orderkey"))
    },

    // TPC-H Q5 shape: 5-way join through the region/nation dims,
    // revenue per nation. Dims broadcast; facts shuffle once each.
    "q75_local_supplier" -> { (s, dir) =>
      val r = T.load(s, dir, "region").filterExpr("r_name = 'ASIA'")
      val n = T.load(s, dir, "nation")
      val sup = T.load(s, dir, "supplier")
      val l = T.load(s, dir, "lineitem")
      val dims = n.join(F.broadcast(r),
          n("n_regionkey") === r("r_regionkey"))
        .join(sup, sup("s_nationkey") === n("n_nationkey"))
        .select(F.col("s_suppkey"), F.col("n_name"))
      l.join(F.broadcast(dims), l("l_suppkey") === F.col("s_suppkey"))
        .by(Seq("n_name"),
          "revenue" -> "round(sum(l_extendedprice * (1 - l_discount)), 2)",
          "n_items" -> "count(*)")
    },

    // Range-frame window: per-user rolling 1-hour sum over event time
    // (RANGE frame on epoch seconds — exact on both engines).
    "q76_range_frame" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_sec")
        .rangeBetween(-3600, 0)
      T.load(s, dir, "events")
        .within("ts_sec" -> "unix_timestamp(ts)")
        .withColumn("rolling_1h", F.round(F.sum("value").over(w), 2))
        .basedOn("event_id" -> "event_id", "user_id" -> "user_id",
          "rolling_1h" -> "rolling_1h")
    },

    // Hourly resample + forward fill — the time-series regularization
    // op (upsample an irregular event stream to a fixed grid, carry the
    // last observation forward). Grid generation is a scan-parallel
    // per-user generator off a 1-shuffle bounds agg; the observation
    // join is keyed on (user, hour); the fill is one partitioned
    // window. Hours emitted as epoch seconds (exact on both engines).
    "q121_resample_ffill" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
      val grid = ev.groupBy("user_id").agg(
          F.date_trunc("hour", F.min("ts")).as("h0"),
          F.date_trunc("hour", F.max("ts")).as("h1"))
        .select(F.col("user_id"),
          F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val wOb = Window.partitionBy("user_id", "h")
        .orderBy(F.col("ts").desc, F.col("event_id").desc)
      val obs = ev.withColumn("h", F.date_trunc("hour", F.col("ts")))
        .withColumn("__rn", F.row_number().over(wOb))
        .filter(F.col("__rn") === 1)
        .select("user_id", "h", "value")
      val wFf = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "h"), "left_outer")
        .withColumn("v", F.last("value", ignoreNulls = true).over(wFf))
        .select(F.col("user_id"), F.col("h").cast("long").as("h"),
          F.col("v"))
    },

    // Per-user OLS trend (slope/intercept of value over event time) —
    // grouped linear regression from closed-form sums. Time is CENTERED
    // on the global minimum and scaled to hours BEFORE summing: raw
    // epoch seconds (~1.7e9) would make n·Σx² − (Σx)² a catastrophic
    // cancellation of ~1e22 magnitudes where float noise lands in the
    // leading digits; centered x ∈ [0, ~720] keeps the denominator
    // well-conditioned so round(·,4) absorbs summation-order noise.
    // One partial-agg'd shuffle on user_id + a broadcast 1-row origin.
    "q127_group_trend" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("value"),
          F.expr("unix_timestamp(ts)").as("sec"))
      val d = ev.crossJoin(F.broadcast(ev.agg(F.min("sec").as("x0"))))
        .withColumn("xh", (F.col("sec") - F.col("x0")) / 3600.0)
      val agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).as("n"),
        F.sum("xh").as("sx"), F.sum("value").as("sy"),
        F.sum(F.col("xh") * F.col("value")).as("sxy"),
        F.sum(F.col("xh") * F.col("xh")).as("sxx"))
      agg.filter(F.col("n") >= 2 &&
          F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") =!= 0.0)
        .select(F.col("user_id"), F.col("n"),
          (F.floor(((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))) * 1e4 + 0.5) / 1e4)
            .as("slope"),
          (F.floor(((F.col("sy")
            - (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
              / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
              * F.col("sx")) / F.col("n")) * 1e4 + 0.5) / 1e4).as("intercept"))
    },

    // Edit distance (fuzzy matching for dedup pipelines): most-similar
    // part-name pair per brand via levenshtein.
    "q77_edit_distance" -> { (s, dir) =>
      // Blocking key = (brand, type, length-bucket). (brand, type) alone
      // is FIXED-cardinality (~25x150), so its block sizes grow linearly
      // with data and candidate pairs quadratically. Adding the length
      // bucket floor(len/4) to the equi-key makes the levenshtein
      // precondition |len1-len2| <= 3 prune BEFORE pair materialization:
      // a qualifying partner's bucket can only be b-1, b, or b+1, so side
      // a probes those three buckets (3x row replication, not pair
      // growth) and the join never pairs rows of dissimilar length.
      val p = T.load(s, dir, "part")
        .select("p_partkey", "p_brand", "p_type", "p_name")
        .withColumn("lb", F.floor(F.length(F.col("p_name")) / 4))
      val a = p.toDF("k1", "p_brand", "p_type", "n1", "lb1")
        .withColumn("probe", F.explode(F.array(
          F.col("lb1") - 1, F.col("lb1"), F.col("lb1") + 1)))
      val b = p.toDF("k2", "p_brand", "p_type", "n2", "probe")
      a.join(b, Seq("p_brand", "p_type", "probe"))
        .filter(F.col("k1") < F.col("k2"))
        // exact prune inside the bucket pair (levenshtein >= |Δlen|)
        .filter(F.abs(F.length(F.col("n1")) - F.length(F.col("n2"))) <= 3)
        .withColumn("dist", F.levenshtein(F.col("n1"), F.col("n2")))
        .filterExpr("dist <= 3")
        .basedOn("p_brand" -> "p_brand", "p_type" -> "p_type",
          "k1" -> "k1", "k2" -> "k2", "dist" -> "dist")
    },

    // Jaro-Winkler record linkage (fuzzy entity matching): part-name
    // pairs within (brand, type) blocks scoring >= 0.9. The scorer is a
    // native codegen'd Expression (StringSimilarity.scala) pinned to the
    // textbook definition the DuckDB oracle implements.
    "q185_jaro_linkage" -> { (s, dir) =>
      // The blocking DEFINITION is (brand, type) only — the oracle has
      // no length logic. The log2-length bucket is a provably LOSSLESS
      // candidate prune: jw >= τ (τ >= 0.88) forces jaro >= (τ-.4)/.6
      // (max Winkler boost is 0.4(1-jaro)), and jaro <= (2 + r)/3 with
      // r = len_min/len_max, so r >= 5τ-4 >= 0.5 — partners' lengths are
      // within 2x, hence their ⌊log2 len⌋ buckets within ±1. Probing 3
      // buckets replicates ROWS 3x; it never grows pair count, and block
      // sizes stop scaling with corpus growth in the length dimension.
      val p = T.load(s, dir, "part")
        .select("p_partkey", "p_brand", "p_type", "p_name")
        .withColumn("lb", F.floor(F.log2(F.length(F.col("p_name")))))
      val a = p.toDF("k1", "p_brand", "p_type", "n1", "lb1")
        .withColumn("probe", F.explode(F.array(
          F.col("lb1") - 1, F.col("lb1"), F.col("lb1") + 1)))
      val b = p.toDF("k2", "p_brand", "p_type", "n2", "probe")
      a.join(b, Seq("p_brand", "p_type", "probe"))
        .filter(F.col("k1") < F.col("k2"))
        .withColumn("jw",
          graft.plans.StringSimilarity.jaroWinkler(F.col("n1"), F.col("n2")))
        .filter(F.col("jw") >= 0.9)
        .basedOn("p_brand" -> "p_brand", "p_type" -> "p_type",
          "k1" -> "k1", "k2" -> "k2", "jw" -> "round(jw, 4)")
    },

    // k-core decomposition (k=3) of the co-purchase graph — the "dense
    // cohesive subgraph" extractor (spam-ring / community detection on
    // host-link graphs in a curation pipeline). Spark peels to the
    // FIXPOINT; the oracle unrolls 16 simultaneous-peel rounds — peeling
    // is monotone, so post-convergence rounds are no-ops and the two
    // agree whenever convergence takes <= 16 rounds (measured: 10 at
    // sf0.01, 2 at sf0.1; corpus-dependent, see duckKCore).
    "q186_kcore" -> { (s, dir) =>
      val ol = T.load(s, dir, "lineitem")
        .select(F.col("l_orderkey").as("o"), F.col("l_partkey").as("p"))
        .distinct()
      val edges = ol.toDF("o", "a")
        .join(ol.toDF("o2", "b"),
          F.col("o") === F.col("o2") && F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).as("nab"))
        .filter(F.col("nab") >= 2)
        .select("a", "b")
      graft.ops.Graph.kCore(edges, 3)
    },

    // Null-safe join: the reference's pooled key encoding gives NA keys
    // a real group that matches across sides (src/merge.jl:75-97 "+1
    // shift reserves 0/NA") — Spark equi-join drops null keys, so the
    // parity form is the <=> (null-safe equality) condition.
    "q81_nullsafe_join" -> { (s, dir) =>
      // derive frames with genuine null keys: orders bucketed into a
      // nullable band (null for mid-range prices)
      val a = T.load(s, dir, "orders").basedOn(
        "o_orderkey" -> "o_orderkey",
        "band" -> ("CASE WHEN o_totalprice < 100000 THEN 'lo' " +
          "WHEN o_totalprice > 400000 THEN 'hi' END"))
      val b = a.by(Seq("band"), "n_in_band" -> "count(*)")
      a.as("a").join(b.as("b"), F.col("a.band") <=> F.col("b.band"))
        .basedOn("o_orderkey" -> "o_orderkey",
          "band" -> "a.band", "n_in_band" -> "n_in_band")
    },

    // Per-group z-score normalization (within! analog: analytic
    // mutation over a partition, reference src/grouping.jl:162-172).
    "q82_zscore" -> { (s, dir) =>
      val w = Window.partitionBy("event_type")
      T.load(s, dir, "events")
        .withColumn("z", (F.floor(((F.col("value") - F.avg("value").over(w)) /
            F.stddev_samp(F.col("value")).over(w)) * 1e6 + 0.5) / 1e6))
        .basedOn("event_id" -> "event_id", "event_type" -> "event_type",
          "z" -> "z")
    },

    // Vector norms via the native NormF expression (oracle recomputes
    // in list SQL with the same sequential summation).
    "q83_vec_norm" -> { (s, dir) =>
      T.load(s, dir, "embeddings")
        .select(F.col("vec_id"),
          F.round(graft.plans.VectorExpressions.normF(F.col("embedding")), 6)
            .as("l2"))
    },

    // Deterministic sampling: modulo-of-key (oracle-exact); the library
    // hash variant (xxhash64-based, uniform regardless of key
    // distribution) is graft.ops.Sampling.hashSample.
    "q78_sample" -> { (s, dir) =>
      T.load(s, dir, "documents")
        .filterExpr("doc_id % 10 = 3")
        .basedOn("doc_id" -> "doc_id", "lang" -> "lang")
    },

    // Ordered conversion funnel with a 24 h conversion window at each
    // step (view → click within 24 h → purchase within 24 h): per-user
    // stage timestamps are three sequential min-aggregates over the
    // SAME user_id partitioning (exchange-reused shuffles), then a
    // stage histogram. All integer epoch seconds — bit-deterministic
    // across engines.
    "q136_funnel" -> { (s, dir) =>
      val win = 86400L
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_type"),
          F.unix_timestamp(F.col("ts")).as("sec"))
      val t1 = ev.filter(F.col("event_type") === "view")
        .groupBy("user_id").agg(F.min("sec").as("t1"))
      val t2 = ev.join(t1, "user_id")
        .filter(F.col("event_type") === "click" &&
          F.col("sec") >= F.col("t1") && F.col("sec") <= F.col("t1") + win)
        .groupBy("user_id").agg(F.min("sec").as("t2"))
      val t3 = ev.join(t2, "user_id")
        .filter(F.col("event_type") === "purchase" &&
          F.col("sec") >= F.col("t2") && F.col("sec") <= F.col("t2") + win)
        .groupBy("user_id").agg(F.min("sec").as("t3"))
      ev.select("user_id").distinct()
        .join(t1, Seq("user_id"), "left_outer")
        .join(t2, Seq("user_id"), "left_outer")
        .join(t3, Seq("user_id"), "left_outer")
        .select(F.when(F.col("t3").isNotNull, 3)
          .when(F.col("t2").isNotNull, 2)
          .when(F.col("t1").isNotNull, 1)
          .otherwise(0).as("stage"))
        .groupBy("stage").agg(F.count(F.lit(1)).as("n_users"))
    },

    // Weekly retention cohorts: cohort = a user's first active week
    // (since corpus start), one row per (cohort, weeks-since-cohort)
    // with active-user counts — the classic retention triangle. Pure
    // integer arithmetic (epoch-second floor division), one distinct
    // and two keyed shuffles.
    "q137_cohort" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.unix_timestamp(F.col("ts")).as("sec"))
      val t0 = ev.agg(F.min("sec").as("t0"))
      val wk = ev.crossJoin(F.broadcast(t0))
        .select(F.col("user_id"),
          F.expr("(sec - t0) div 604800").as("wk"))
        .distinct()
      val cohort = wk.groupBy("user_id").agg(F.min("wk").as("cohort"))
      wk.join(cohort, "user_id")
        .groupBy(F.col("cohort"), (F.col("wk") - F.col("cohort")).as("week_k"))
        .agg(F.count(F.lit(1)).as("n_users"))
    },

    // TPC-H Q8 shape (national market share): NATION_1's share of
    // AMERICA-region ECONOMY-part revenue per order year. Seven-table
    // composition — the plan-quality showcase: part/nation/region dims
    // broadcast, customer/supplier/orders keyed joins with AQE free to
    // flip small sides, ONE final groupBy(year) whose conditional sum
    // runs partial-agg'd map-side.
    "q135_market_share" -> { (s, dir) =>
      val region = T.load(s, dir, "region").filterExpr("r_name = 'AMERICA'")
      val n1 = T.load(s, dir, "nation").as("n1") // customer nation
      val n2 = T.load(s, dir, "nation").as("n2") // supplier nation
      val part = T.load(s, dir, "part").filterExpr("p_type = 'ECONOMY'")
      val li = T.load(s, dir, "lineitem")
      val ord = T.load(s, dir, "orders")
      val cust = T.load(s, dir, "customer")
      val supp = T.load(s, dir, "supplier")
      li.join(F.broadcast(part), F.col("l_partkey") === F.col("p_partkey"))
        .join(ord, F.col("l_orderkey") === F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") === F.col("c_custkey"))
        .join(F.broadcast(n1),
          F.col("c_nationkey") === F.col("n1.n_nationkey"))
        .join(F.broadcast(region),
          F.col("n1.n_regionkey") === F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") === F.col("s_suppkey"))
        .join(F.broadcast(n2),
          F.col("s_nationkey") === F.col("n2.n_nationkey"))
        .withColumn("vol",
          F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .groupBy(F.year(F.col("o_orderdate")).as("yr"))
        .agg(
          F.count(F.lit(1)).as("n_lines"),
          (F.floor((F.sum(F.when(F.col("n2.n_name") === "NATION_1",
            F.col("vol")).otherwise(0.0)) / F.sum("vol")) * 1e6 + 0.5) / 1e6)
            .as("mkt_share"))
    },

    // Salted two-stage aggregation — the hot-key mitigation pattern,
    // HASH-CHECKED equal to the direct GROUP BY: stage 1 groups on
    // (key, salt) so a pathological key spreads over 16 reducers;
    // stage 2 merges the 16 partials per key. The partial-stage
    // shuffle carries O(keys × 16) rows regardless of skew — this is
    // what you reach for when AQE's skew split can't help (skew INSIDE
    // one aggregation key, not a join). Library form:
    // graft.ops.Skew.saltedBy.
    "q132_salted_agg" -> { (s, dir) =>
      val partial = T.load(s, dir, "events")
        .withColumn("__salt", F.pmod(F.col("user_id"), F.lit(16)))
        .groupBy("event_type", "__salt")
        .agg(F.count(F.lit(1)).as("pn"), F.sum("value").as("pv"))
      partial.groupBy("event_type")
        .agg(F.sum("pn").cast("long").as("n"),
          F.round(F.sum("pv"), 2).as("total"))
    },

    // TPC-H Q13 shape (customer order-count distribution): LEFT join so
    // zero-order customers keep a 0 row, then a second aggregation over
    // the counts. The filter lives in the JOIN (orders pre-filtered
    // before the left join — same semantics as an ON-clause predicate);
    // the histogram re-agg is O(distinct counts), trivially small, so
    // the plan cost is one keyed shuffle of each side.
    "q139_cust_orders_dist" -> { (s, dir) =>
      val c = T.load(s, dir, "customer").select("c_custkey")
      val o = T.load(s, dir, "orders")
        .filterExpr("o_orderpriority <> '1-URGENT'")
        .select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").as("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).as("custdist"))
    },

    // TPC-H Q17 shape (small-quantity revenue): the classic CORRELATED
    // scalar subquery `l_quantity < 0.2 * (SELECT avg(l_quantity) ...
    // WHERE l_partkey = p_partkey)`, decorrelated into a per-part
    // average joined back. The brand filter broadcasts FIRST so the
    // per-part average aggregates only the ~1/25 of lineitem that can
    // matter — at 100 TB the difference between aggregating 4 TB and
    // 100 TB. The tiny per-part threshold table then AQE-broadcasts
    // back onto the same restricted slice.
    "q140_small_qty_rev" -> { (s, dir) =>
      val p = T.load(s, dir, "part")
        .filterExpr("p_brand = 'Brand#7'").select("p_partkey")
      val lb = T.load(s, dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") === F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val thresh = lb.groupBy("l_partkey")
        .agg((F.avg("l_quantity") * 0.2).as("qty_thresh"))
      lb.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg((F.floor((F.sum("l_extendedprice") / 7.0) * 1e2 + 0.5) / 1e2).as("avg_yearly"))
    },

    // TPC-H Q18 shape (large-volume orders): GROUP BY + HAVING on the
    // fact, then join the survivors back to the dims. The HAVING
    // filter runs on the aggregate BEFORE any join — the join input is
    // the ~1% of orders that qualify, not the full fact table.
    "q141_big_orders" -> { (s, dir) =>
      val big = T.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").as("total_qty"))
        .filter(F.col("total_qty") > 250.0)
      val o = T.load(s, dir, "orders")
      val c = T.load(s, dir, "customer")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(c("c_name"), c("c_custkey"), o("o_orderkey"),
          o("o_orderdate"), o("o_totalprice"), F.col("total_qty"))
        .topK(100, Ordering("o_totalprice", desc = true),
          Ordering("o_orderkey"))
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting): the
    // EXISTS / NOT EXISTS double self-join on lineitem, decorrelated
    // into ONE aggregation pass — per (order, supplier) any-late, then
    // per order (n_suppliers, n_late_suppliers); the waiting supplier
    // is a late supplier in a multi-supplier order where they are the
    // ONLY late one. perSupp feeds both its own filter and the
    // per-order rollup, so the l_orderkey exchange is planned once and
    // reused. "Late" = shipped > 365 days after the order date,
    // finalized orders only.
    "q142_late_supplier" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
        .filterExpr("o_orderstatus = 'F'")
        .select("o_orderkey", "o_orderdate")
      val perSupp = T.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") === F.col("o_orderkey"))
        .withColumn("late",
          F.when(F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            > 365, 1).otherwise(0))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").as("supp_late"))
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).as("n_supps"),
          F.sum("supp_late").as("n_late"))
      perSupp.filter(F.col("supp_late") === 1)
        .join(perOrder.filter(F.col("n_supps") > 1 &&
          F.col("n_late") === 1), "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).as("numwait"))
    },

    // TPC-H Q22 shape (rich idle customers): global scalar threshold
    // (avg positive balance) CROSS-joined in-plan as a broadcast 1-row
    // aggregate — never a driver-side collect — and a LEFT ANTI join
    // against urgent orders standing in for NOT EXISTS. Output is the
    // per-nation count/balance rollup.
    "q143_idle_rich_cust" -> { (s, dir) =>
      val c = T.load(s, dir, "customer")
      val abar = c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").as("abar"))
      val urgent = T.load(s, dir, "orders")
        .filterExpr("o_orderpriority = '1-URGENT'")
        .select("o_custkey")
      c.crossJoin(F.broadcast(abar))
        .filter(F.col("c_acctbal") > F.col("abar"))
        .join(urgent, F.col("c_custkey") === F.col("o_custkey"),
          "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).as("numcust"),
          F.round(F.sum("c_acctbal"), 2).as("totacctbal"))
    },

    // DAU/WAU stickiness per day. The trailing-7-day distinct-user
    // count cannot be a window (no COUNT(DISTINCT) over RANGE frames)
    // and must not be a per-day self-join (O(days × corpus)): instead
    // each (day, user) activity row CONTRIBUTES itself forward to the
    // 7 days it covers (explode of a 7-element date sequence), and WAU
    // falls out of a plain distinct + count. Shuffle volume is a flat
    // 7× the distinct activity pairs — scan-parallel, skew-free, and
    // independent of the window length's interaction with corpus size.
    "q144_stickiness" -> { (s, dir) =>
      val du = T.load(s, dir, "events")
        .select(F.to_date(F.col("ts")).as("day"), F.col("user_id"))
        .distinct()
      val dau = du.groupBy("day").agg(F.count(F.lit(1)).as("dau"))
      val wau = du
        .select(F.explode(F.expr(
          "sequence(day, date_add(day, 6))")).as("day"), F.col("user_id"))
        .distinct()
        .groupBy("day").agg(F.count(F.lit(1)).as("wau"))
      dau.join(wau, "day")
        .select(F.col("day"), F.col("dau"), F.col("wau"),
          (F.floor((F.col("dau") / F.col("wau")) * 1e4 + 0.5) / 1e4).as("stickiness"))
    },

    // Inter-event-time profile per event type: per-user event-sequence
    // gaps (one partitioned lag window) rolled up to exact interpolated
    // p50/p90 + mean. Integer epoch gaps in, so the only float work is
    // the final percentile interpolation; count, mean and both
    // quantiles share one aggregate over the lag-window output.
    // percentile-audit: BOUNDED — gaps are LONG seconds, so each
    // per-group value map holds at most the distinct gaps of the
    // dataset's time span, not the row count. See SCALE.md
    // §percentile-audit.
    "q145_gap_stats" -> { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("sec", "event_id")
      T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_type"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("sec"))
        .withColumn("gap", F.col("sec") - F.lag("sec", 1).over(w))
        .filter(F.col("gap").isNotNull)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n_gaps"),
          (F.floor((F.avg("gap")) * 1e2 + 0.5) / 1e2).as("mean_gap"),
          F.expr("percentile(gap, array(0.5D, 0.9D))").as("__p"))
        .select(F.col("event_type"), F.col("n_gaps"), F.col("mean_gap"),
          (F.floor(F.col("__p")(0) * 1e2 + 0.5) / 1e2).as("p50"),
          (F.floor(F.col("__p")(1) * 1e2 + 0.5) / 1e2).as("p90"))
    },

    // TPC-H Q15 shape (top supplier): the `WHERE total_revenue =
    // (SELECT max(total_revenue) ...)` scalar subquery as an in-plan
    // broadcast 1-row max cross-joined back onto the aggregate — the
    // rev aggregate is planned once and feeds both the max and the
    // filter (exchange reuse), never a driver-side collect. Equality
    // on round(2) values is exact on both engines.
    "q147_top_supplier" -> { (s, dir) =>
      val rev = T.load(s, dir, "lineitem")
        .filterExpr("l_shipdate >= date '1998-01-01'")
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice")
          * (F.lit(1.0) - F.col("l_discount"))), 2).as("total_revenue"))
      val mx = rev.agg(F.max("total_revenue").as("__mx"))
      rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") === F.col("__mx"))
        .join(F.broadcast(T.load(s, dir, "supplier")),
          F.col("l_suppkey") === F.col("s_suppkey"))
        .select(F.col("s_suppkey"), F.col("s_name"),
          F.col("total_revenue"))
    },

    // Revenue concentration per nation: Gini coefficient of customer
    // order totals — the distributional-health metric a curation
    // pipeline runs per source (a source where 1% of producers carry
    // 99% of mass needs different sampling). Closed form over ranked
    // values G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n needs ONE partitioned
    // rank window + one aggregate; ties broken by customer key so the
    // rank (and hence G) is identical across engines.
    "q148_revenue_gini" -> { (s, dir) =>
      val custRev = T.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg((F.floor((F.sum("o_totalprice")) * 1e2 + 0.5) / 1e2).as("rev"))
      val cust = T.load(s, dir, "customer")
        .select("c_custkey", "c_nationkey")
      val w = Window.partitionBy("c_nationkey")
        .orderBy("rev", "o_custkey")
      custRev.join(cust, F.col("o_custkey") === F.col("c_custkey"))
        .withColumn("i", F.row_number().over(w))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).as("n_cust"),
          (F.floor((F.lit(2.0) * F.sum(F.col("i") * F.col("rev"))
              / (F.count(F.lit(1)) * F.sum("rev"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))) * 1e6 + 0.5) / 1e6)
            .as("gini"))
    },

    // Equi-depth histogram (10 buckets) of event values per type:
    // ntile over a deterministically tie-broken order, then per-bucket
    // bounds + mass. The profiling op behind range-partition planning:
    // the bucket bounds ARE the range splits that balance a 100 TB
    // sort/repartition on this column.
    "q149_equidepth_hist" -> { (s, dir) =>
      val w = Window.partitionBy("event_type")
        .orderBy("value", "event_id")
      T.load(s, dir, "events")
        .withColumn("bucket", F.ntile(10).over(w))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).as("n"),
          F.round(F.min("value"), 6).as("lo"),
          F.round(F.max("value"), 6).as("hi"))
    },

    // PageRank (3 fixed iterations, d = 0.85) over the bipartite
    // customer↔supplier purchase graph — the iterative join-agg
    // pattern beyond q79/q102's connected components. Edges build
    // once (distinct pairs, both directions) and every iteration is
    // edges ⋈ ranks → groupBy(dst): rank state stays (node, pr) —
    // O(nodes) — while the edge relation is the reusable big side a
    // cluster would bucket by src. Emitted as N·PR (scale-free),
    // suppliers only, rounded.
    "q150_pagerank" -> { (s, dir) =>
      // Node identity is a single INTEGER id (2·custkey for customers,
      // 2·suppkey+1 for suppliers) through every shuffle in the loop;
      // the oracle's "c123"/"s7" string form materializes only in the
      // final projection (string keys measured ~2× on the hot edge
      // distinct at sf0.1). The distinct pair set checkpoints BEFORE
      // fanning out into both union branches — un-checkpointed, the
      // fact join + distinct re-executed 4× (8 s of q150's 17 s).
      val cs = T.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(T.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
          F.col("l_orderkey") === F.col("o_orderkey"))
        .select((F.col("o_custkey") * 2).as("c"),
          (F.col("l_suppkey") * 2 + 1).as("sv"))
        .distinct()
        .localCheckpoint()
      val edges = cs.select(F.col("c").as("src"), F.col("sv").as("dst"))
        .unionAll(cs.select(F.col("sv").as("src"), F.col("c").as("dst")))
      val pr = graft.ops.Graph.pageRank(edges, iters = 3, damping = 0.85)
      val n = pr.count().toDouble // checkpointed O(|V|) frame — cheap
      pr.filter(F.col("node") % 2 === 1)
        .select(
          F.concat(F.lit("s"), F.expr("(node - 1) div 2")).as("node"),
          F.round(F.col("pr") * F.lit(n), 6).as("pr_scaled"))
    },

    // Daily new-vs-returning users (the acquisition curve): a user's
    // first active day via one keyed min-agg, joined back onto the
    // distinct (day, user) activity — two compact shuffles, no window
    // over the full event log.
    "q151_new_users" -> { (s, dir) =>
      val du = T.load(s, dir, "events")
        .select(F.to_date(F.col("ts")).as("day"), F.col("user_id"))
        .distinct()
      val first = du.groupBy("user_id").agg(F.min("day").as("d0"))
      du.join(first, "user_id")
        .groupBy("day")
        .agg(F.count(F.lit(1)).as("n_active"),
          F.sum(F.when(F.col("day") === F.col("d0"), 1).otherwise(0))
            .as("n_new"))
        .select(F.col("day"), F.col("n_active"), F.col("n_new"),
          (F.col("n_active") - F.col("n_new")).as("n_returning"))
    },

    // Per-supplier weighted median sale price (weight = quantity) —
    // the exact weighted-quantile op: cumulative weight along the
    // price order vs half the total. Both windows share ONE
    // (l_suppkey) partitioning, so the exchange is planned once; the
    // order key is made unique (orderkey, linenumber) so the RANGE
    // cumulative frame equals ROWS on both engines. Groups (suppliers)
    // grow with the data — no fixed-cardinality partition funnel.
    "q153_weighted_median" -> { (s, dir) =>
      val byPrice = Window.partitionBy("l_suppkey")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
      val bySupp = Window.partitionBy("l_suppkey")
      T.load(s, dir, "lineitem")
        .select("l_suppkey", "l_extendedprice", "l_quantity",
          "l_orderkey", "l_linenumber")
        .withColumn("cumw", F.sum("l_quantity").over(byPrice))
        .withColumn("totw", F.sum("l_quantity").over(bySupp))
        .filter(F.col("cumw") >= F.col("totw") / 2)
        .groupBy("l_suppkey")
        .agg(F.round(F.min("l_extendedprice"), 2).as("wmedian"),
          F.round(F.min("totw"), 2).as("total_weight"))
    },

    // Benford first-digit profile of order totals per priority class —
    // the bulk-data fraud/corruption diagnostic. The leading digit is
    // derived through INTEGER cents and a string length, never
    // log10(value) (whose 1-ulp libm differences at exact powers of 10
    // would diverge across engines). One partial-agg'd shuffle on
    // (priority, digit) + a broadcast 1-row-per-priority total.
    "q154_benford" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .withColumn("c",
          (F.floor((F.col("o_totalprice") * 100) * 1e0 + 0.5) / 1e0).cast("long"))
        .withColumn("d", F.floor(F.col("c")
          / F.pow(F.lit(10.0),
            F.length(F.col("c").cast("string")) - 1)).cast("int"))
      val counts = o.groupBy("o_orderpriority", "d")
        .agg(F.count(F.lit(1)).as("n"))
      val tot = counts.groupBy("o_orderpriority")
        .agg(F.sum("n").as("nt"))
      counts.join(F.broadcast(tot), "o_orderpriority")
        .select(F.col("o_orderpriority"), F.col("d"), F.col("n"),
          (F.floor((F.col("n") / F.col("nt")) * 1e6 + 0.5) / 1e6).as("freq"),
          (F.floor((F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))) * 1e6 + 0.5) / 1e6)
            .as("benford"))
    },

    // Burst detection (bot/abuse screening): users whose trailing-hour
    // event count ever hits 3 — one RANGE-frame window on integer
    // epoch seconds per user, then a per-user rollup. The frame is
    // time-bounded, so window state is O(events-in-hour) regardless of
    // stream length.
    "q160_burst_detect" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-3600, 0)
      T.load(s, dir, "events")
        .select(F.col("user_id"), F.unix_timestamp(F.col("ts")).as("sec"))
        .withColumn("c", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("c").as("max_rate"),
          F.sum(F.when(F.col("c") >= 3, 1).otherwise(0)).as("n_bursts"))
        .filter(F.col("n_bursts") >= 1)
    },

    // Theil-Sen robust trend per user: the MEDIAN of all pairwise
    // slopes — a 29% breakdown point where q127's OLS slope has 0 (one
    // bad decade drags the fit). Pair fan-out is per-user-events², the
    // q181 bound: group size is a per-entity constant, not a corpus
    // fraction, so pairs grow linearly with users. Slopes are exact
    // doubles from integer second deltas; the median interpolation is
    // the same (1-g)a[k]+g·a[k+1] both engines (q190).
    // percentile-audit: BOUNDED — the group key is user_id, so the
    // per-group value map holds ≤C(k,2) slopes where k = events per
    // user, a per-entity constant (≤99 here → ≤4,851 entries); groups
    // scale out across reducers, no single-reducer funnel. See
    // SCALE.md §percentile-audit.
    "q192_theilsen" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("x"), F.col("value").as("y"))
      val a = ev.toDF("user_id", "id1", "x1", "y1")
      val b = ev.toDF("user_id", "id2", "x2", "y2")
      val pairs = a.join(b, Seq("user_id"))
        .filter(F.col("id1") < F.col("id2") && F.col("x1") =!= F.col("x2"))
        .withColumn("slope",
          (F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1")))
      // n_pairs counts every pair; the median skips null slopes, and a
      // user whose slopes are all null keeps its row with a NULL median
      pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).as("n_pairs"),
          F.expr("percentile(slope, 0.5D)").as("m"))
        .filter(F.col("n_pairs") >= 10)
        .select(F.col("user_id"), F.col("n_pairs"),
          F.round(F.col("m") * 3600, 6).as("slope_per_hour"))
    },

    // Weight-of-evidence encoding (the credit-scoring categorical→
    // numeric transform): value buckets vs the binary "is purchase"
    // target, woe = ln(smoothed pos-share / smoothed neg-share), plus
    // each bucket's information-value contribution. All integer counts
    // + one 1-row total broadcast → bit-deterministic; O(buckets)
    // after a single partial-agg'd scan.
    "q194_woe" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.floor(F.col("value") / 50).cast("long").as("bucket"),
          (F.col("event_type") === "purchase").cast("long").as("y"))
      val per = ev.groupBy("bucket")
        .agg(F.sum("y").as("pos"), F.sum(F.lit(1) - F.col("y")).as("neg"))
      val tot = per.agg(F.sum("pos").as("tp"), F.sum("neg").as("tn"))
      per.crossJoin(F.broadcast(tot))
        .withColumn("woe", F.log(
          ((F.col("pos") + 0.5) / F.col("tp"))
            / ((F.col("neg") + 0.5) / F.col("tn"))))
        // floor-form 6-dp rounding (round-13 cross-scale sweep): the
        // identical IEEE op sequence in both engines, and the BIGINT
        // floor also normalizes a −0.0 iv_part (DuckDB's round keeps
        // the sign of a tiny negative; Spark's drops it).
        .select(F.col("bucket"), F.col("pos"), F.col("neg"),
          (F.floor(F.col("woe") * 1e6 + 0.5) / 1e6).as("woe"),
          (F.floor((F.col("pos").cast("double") / F.col("tp")
            - F.col("neg").cast("double") / F.col("tn"))
            * F.col("woe") * 1e6 + 0.5) / 1e6).as("iv_part"))
    },

    // First-order Markov transition matrix over per-user event-type
    // sequences (the behavioral fingerprint: what follows what). One
    // lag window per user + an O(types²) count table; transition
    // probabilities are exact integer-count rationals.
    "q195_markov" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = T.load(s, dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("nxt", F.lead("event_type", 1).over(w))
        .filter(F.col("nxt").isNotNull)
        .groupBy(F.col("event_type").as("cur"), F.col("nxt"))
        .agg(F.count(F.lit(1)).as("n"))
      val tot = tr.groupBy("cur").agg(F.sum("n").as("tot"))
      tr.join(F.broadcast(tot), "cur")
        .select(F.col("cur"), F.col("nxt"), F.col("n"),
          (F.floor((F.col("n").cast("double") / F.col("tot")) * 1e6 + 0.5) / 1e6).as("p"))
    },

    // EWMA smoothing of the daily event-count series per type (the
    // trend/anomaly baseline; pandas ewm(alpha=0.1, adjust=True) over a
    // trailing 24-day horizon). The frame is row-bounded, so window
    // state is O(24) per key regardless of history length. Float
    // determinism: the weighted sum is a LEFT FOLD over the frame array
    // (aggregate(zip_with(...))) and the weight total is the closed-form
    // geometric sum — both engines fold the identical element order, so
    // no parallel-reduction reordering can perturb the low bits.
    "q187_ewma" -> { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-23, 0)
      T.load(s, dir, "events")
        .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("day"))
        .agg(F.count(F.lit(1)).cast("double").as("n"))
        .withColumn("vals", F.collect_list("n").over(w))
        .select(F.col("event_type"), F.col("day"),
          (F.floor((F.expr(
            """aggregate(
                 zip_with(vals, sequence(size(vals) - 1, 0, -1),
                          (v, i) -> v * pow(0.9D, i)),
                 0D, (a, x) -> a + x)
               / ((1 - pow(0.9D, size(vals))) / 0.1D)""")) * 1e6 + 0.5) / 1e6).as("ewma"))
    },

    // Poisson-bootstrap confidence interval for the per-type mean
    // event value (Chamandy et al., "Estimating Uncertainty for
    // Massive Data Streams" — the bootstrap that works in ONE pass
    // over distributed data: replica weights are iid Poisson(1), so no
    // replica ever needs a global resample). Weights are DETERMINISTIC
    // from integer arithmetic on (event_id, replica) — both engines
    // compute the identical lattice, so the oracle reproduces the CI
    // bit-for-bit. 32 replicas → a flat 32× explode into a partial-
    // agg'd (type, replica) groupBy; the percentile runs over 32
    // replica means per type. percentile-audit: BOUNDED — input is
    // the replica aggregate, exactly B=32 rows per group at any data
    // scale. See SCALE.md §percentile-audit.
    "q161_bootstrap_ci" -> { (s, dir) =>
      val B = 32
      // u in [0,1) from a 20-bit integer lattice; w = Poisson(1)
      // inverse-CDF thresholds (cumulative e^{-1}·Σ 1/k!), capped at 5
      val wExpr =
        """CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
                WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
                WHEN u < 0.996340 THEN 4 ELSE 5 END"""
      val rep = T.load(s, dir, "events")
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
        .withColumn("b", F.explode(F.expr(
          s"sequence(0, ${B - 1})")))
        .withColumn("u", F.expr(
          "((event_id * 2654435761 + b * 40503) % 1048576) / 1048576.0"))
        .withColumn("w", F.expr(wExpr))
      val repMeans = rep.groupBy("event_type", "b")
        .agg((F.sum(F.col("w") * F.col("value")) / F.sum("w")).as("m"))
      val base = T.load(s, dir, "events").groupBy("event_type")
        .agg((F.floor((F.avg("value")) * 1e4 + 0.5) / 1e4).as("mean_value"))
      repMeans.groupBy("event_type")
        .agg((F.floor((F.expr("percentile(m, 0.025)")) * 1e4 + 0.5) / 1e4).as("ci_lo"),
          (F.floor((F.expr("percentile(m, 0.975)")) * 1e4 + 0.5) / 1e4).as("ci_hi"))
        .join(base, "event_type")
        .select("event_type", "mean_value", "ci_lo", "ci_hi")
    },

    // Hopping (sliding) windows: 1 h windows advancing every 15 min —
    // Catalyst's native `window()` table function (each event expands
    // into its 4 covering windows map-side; q61's tumbling window is
    // the slide==width special case). The 4× row expansion happens
    // inside the scan stage and partial-aggregates before the ONE
    // (window, type) shuffle.
    "q164_hopping_window" -> { (s, dir) =>
      T.load(s, dir, "events")
        .groupBy(F.window(F.col("ts"), "1 hour", "15 minutes").as("w"),
          F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n"),
          F.round(F.sum("value"), 2).as("total"))
        .select(F.unix_timestamp(F.col("w.start")).as("ws"),
          F.col("event_type"), F.col("n"), F.col("total"))
    },

    // TPC-H Q6 shape: single-scan filter + one-row agg. The whole
    // predicate (date range, discount band, quantity cap) reaches the
    // parquet reader as PushedFilters — zero joins, zero wide shuffles,
    // the canonical pushdown showcase.
    "q168_forecast_revenue" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .filterExpr("""l_shipdate >= timestamp'1996-01-01'
          and l_shipdate < timestamp'1997-01-01'
          and l_discount between 0.05 and 0.07 and l_quantity < 24""")
        // price (2dp) x discount (2dp) is exact at 4dp: sum in
        // 1e-4 units as BIGINT (order-independent), divide once
        .within("m4" ->
          "cast(round(l_extendedprice * l_discount * 10000) as bigint)")
        .agg((F.sum("m4") / 10000.0).as("revenue"))
    },

    // TPC-H Q2 shape: cheapest supplier per part. No partsupp table in
    // this schema, so the supply relation is DERIVED from lineitem
    // (min observed unit price per (part, supplier), rounded to cents
    // so the min is bit-identical across engines). The correlated
    // "cost = min cost over suppliers of this part" subquery
    // decorrelates to one window-min over the derived relation —
    // a single shuffle on p_partkey, dims broadcast.
    "q169_min_cost_supp" -> { (s, dir) =>
      val eligible = T.load(s, dir, "supplier")
        .join(F.broadcast(T.load(s, dir, "nation")),
          F.col("s_nationkey") === F.col("n_nationkey"))
        .join(F.broadcast(T.load(s, dir, "region")
            .filterExpr("r_name = 'EUROPE'")),
          F.col("n_regionkey") === F.col("r_regionkey"))
        .select(F.col("s_suppkey"), F.col("s_name"))
      // floor-form cent rounding: the unit-price ratio lands on exact
      // half-cents (278.085 at sf0.1) where Spark's decimal-repr
      // HALF_UP and DuckDB's binary round() split; floor(x*100+0.5)
      // /100 is the identical IEEE op sequence in both engines
      // (round-13 cross-scale sweep).
      val ps = T.load(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.expr(
          "floor(l_extendedprice / l_quantity * 100 + 0.5) / 100"))
          .as("cost"))
      val p = T.load(s, dir, "part").filterExpr("p_size = 15")
        .select("p_partkey")
      val cand = ps
        .join(F.broadcast(p), ps("l_partkey") === F.col("p_partkey"))
        .join(F.broadcast(eligible),
          ps("l_suppkey") === F.col("s_suppkey"))
      val w = Window.partitionBy("p_partkey")
      cand.withColumn("mn", F.min("cost").over(w))
        .filter(F.col("cost") === F.col("mn"))
        .select(F.col("p_partkey"), F.col("s_name"), F.col("cost"))
    },

    // TPC-H Q10 shape: revenue lost to returned items per customer in
    // one quarter, top 20. Facts shuffle once on custkey; customer and
    // nation dims broadcast.
    "q170_returned_items" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
        .filterExpr("""o_orderdate >= timestamp'1996-07-01'
          and o_orderdate < timestamp'1996-10-01'""")
      val l = T.load(s, dir, "lineitem").filterExpr("l_returnflag = 'R'")
      val c = T.load(s, dir, "customer")
      val n = T.load(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(F.broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .within("m4" -> // exact 1e-4-unit revenue (see q168)
          "cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)")
        .by(Seq("c_custkey", "c_name", "n_name"), "m4" -> "sum(m4)")
        // cast: SQL literal 10000.0 parses as DECIMAL in Spark, DOUBLE in
        // DuckDB — force DOUBLE so the hash matches (see q173's DSL form)
        .within("revenue" -> "cast(m4 / 10000.0 as double)").without("m4")
        .topK(20, Ordering("revenue", desc = true), Ordering("c_custkey"))
    },

    // TPC-H Q7 shape: bilateral trade volume between the nations of
    // two regions (ASIA suppliers shipping to EUROPE customers) by
    // ship year. Both nation+region dim stacks resolve as broadcasts
    // with the region filter applied pre-broadcast; facts shuffle once
    // on the 3-part group key.
    "q171_volume_shipping" -> { (s, dir) =>
      def natOf(region: String, nk: String, out: String) =
        T.load(s, dir, "nation")
          .join(F.broadcast(T.load(s, dir, "region")
              .filterExpr(s"r_name = '$region'")),
            F.col("n_regionkey") === F.col("r_regionkey"))
          .select(F.col("n_nationkey").as(nk), F.col("n_name").as(out))
      val n1 = natOf("ASIA", "snk", "supp_nation")
      val n2 = natOf("EUROPE", "cnk", "cust_nation")
      T.load(s, dir, "lineitem")
        .join(T.load(s, dir, "orders"),
          F.col("l_orderkey") === F.col("o_orderkey"))
        .join(T.load(s, dir, "customer"),
          F.col("o_custkey") === F.col("c_custkey"))
        .join(F.broadcast(T.load(s, dir, "supplier")),
          F.col("l_suppkey") === F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") === F.col("snk"))
        .join(F.broadcast(n2), F.col("c_nationkey") === F.col("cnk"))
        .within("l_year" -> "year(l_shipdate)",
          // integer cents: the summed volume is exact (order-independent),
          // so the final /100.0 cannot land on a different cent per engine
          "cents" ->
            "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
        .by(Seq("supp_nation", "cust_nation", "l_year"),
          "vol_c" -> "sum(cents)")
        .within("volume" -> "cast(vol_c / 100.0 as double)")
        .without("vol_c")
    },

    // TPC-H Q9 shape: profit per supplier nation and year for one part
    // family. No partsupp cost column, so cost is proxied as 60% of
    // retail price x quantity — the plan shape (fact ⋈ 2 broadcast
    // dims, expression-heavy profit arithmetic inside the scan stage,
    // one group-by shuffle) is the point.
    "q172_product_profit" -> { (s, dir) =>
      val p = T.load(s, dir, "part").filterExpr("p_name like '%widget%'")
        .select("p_partkey", "p_retailprice")
      val sn = T.load(s, dir, "supplier")
        .join(F.broadcast(T.load(s, dir, "nation")),
          F.col("s_nationkey") === F.col("n_nationkey"))
        .select(F.col("s_suppkey"), F.col("n_name"))
      T.load(s, dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") === F.col("p_partkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") === F.col("s_suppkey"))
        // revenue is exact at 4dp; the cost proxy (0.6 x 2dp x int
        // quantity) at 3dp — sum both in 1e-4 units as BIGINT so the
        // profit difference is exact despite cancellation
        .within("l_year" -> "year(l_shipdate)",
          "m4" -> """cast(round(l_extendedprice * (1 - l_discount) * 10000)
              as bigint)
            - cast(round(0.6 * p_retailprice * l_quantity * 10000)
              as bigint)""")
        .by(Seq("n_name", "l_year"), "m4" -> "sum(m4)")
        .within("profit" -> "cast(m4 / 10000.0 as double)").without("m4")
    },

    // TPC-H Q11 shape: parts whose stock value (derived from lineitem
    // of one nation's suppliers) exceeds 0.1% of the total — the
    // scalar-subquery threshold decorrelates to a broadcast 1-row agg.
    // All value arithmetic is integer CENTS (exact, order-independent
    // sums) so the threshold comparison cannot flip between engines.
    "q173_stock_value" -> { (s, dir) =>
      val sn = T.load(s, dir, "supplier")
        .join(F.broadcast(T.load(s, dir, "nation")
            .filterExpr("n_name = 'NATION_3'")),
          F.col("s_nationkey") === F.col("n_nationkey"))
        .select("s_suppkey")
      val vals = T.load(s, dir, "lineitem")
        .join(F.broadcast(sn), F.col("l_suppkey") === F.col("s_suppkey"))
        .within("cents" ->
          "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
        .by(Seq("l_partkey"), "val_c" -> "sum(cents)")
      vals.crossJoin(F.broadcast(
          vals.agg(F.sum("val_c").as("tot_c"))))
        .filter(F.col("val_c") * 1000 > F.col("tot_c"))
        .select(F.col("l_partkey"),
          (F.col("val_c") / 100.0).as("stock_value"))
    },

    // TPC-H Q12 shape: late-shipment order-priority split per line
    // status — conditional aggregation (sum-of-CASE) over one
    // fact-fact join, group key is 2 values so AQE coalesces the
    // post-shuffle side to nothing.
    "q174_priority_class" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .join(T.load(s, dir, "orders"),
          F.col("l_orderkey") === F.col("o_orderkey"))
        .filterExpr("""l_shipdate >= o_orderdate + interval 90 days
          and year(l_shipdate) = 1997""")
        .by(Seq("l_linestatus"),
          "high_line_count" -> """sum(case when o_orderpriority in
            ('1-URGENT', '2-HIGH') then 1 else 0 end)""",
          "low_line_count" -> """sum(case when o_orderpriority in
            ('1-URGENT', '2-HIGH') then 0 else 1 end)""")
    },

    // TPC-H Q14 shape: promo revenue share in one month. Both the
    // promo and total revenue accumulate as integer cents, so the
    // final ratio divides two exact BIGINTs — identical across
    // engines before the round.
    "q175_promo_share" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .filterExpr("""l_shipdate >= timestamp'1996-03-01'
          and l_shipdate < timestamp'1996-04-01'""")
        .join(F.broadcast(T.load(s, dir, "part")),
          F.col("l_partkey") === F.col("p_partkey"))
        .within("cents" ->
          "cast(floor((l_extendedprice * (1 - l_discount) * 100) * 1e0 + 0.5) / 1e0 as bigint)")
        .agg(
          F.sum(F.expr("case when p_type = 'PROMO' then cents else 0 end"))
            .as("promo_c"),
          F.sum("cents").as("tot_c"))
        .select((F.floor((F.expr("100.0 * promo_c / tot_c")) * 1e4 + 0.5) / 1e4)
          .as("promo_share"))
    },

    // TPC-H Q16 shape: how many distinct suppliers stock each
    // (brand, type, size) — supply relation derived from lineitem
    // pairs, one excluded brand/type family, complaint suppliers
    // (proxy: deeply negative balance) removed by ANTI-join before
    // the count-distinct shuffle.
    "q176_supplier_parts" -> { (s, dir) =>
      val bad = T.load(s, dir, "supplier")
        .filterExpr("s_acctbal < -500").select("s_suppkey")
      val ps = T.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
        .join(F.broadcast(bad),
          F.col("l_suppkey") === F.col("s_suppkey"), "left_anti")
      ps.join(F.broadcast(T.load(s, dir, "part")
            .filterExpr("not (p_brand = 'Brand#9' and p_type = 'PROMO')")),
          F.col("l_partkey") === F.col("p_partkey"))
        .by(Seq("p_brand", "p_type", "p_size"),
          "supplier_cnt" -> "count(distinct l_suppkey)")
    },

    // TPC-H Q19 shape: disjunction of brand/size/quantity bands.
    // The OR-of-ANDs references both join sides, so it evaluates as a
    // post-join filter inside one codegen stage; the part side still
    // broadcasts.
    "q177_disjunctive" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .join(F.broadcast(T.load(s, dir, "part")),
          F.col("l_partkey") === F.col("p_partkey"))
        .filterExpr("""
          (p_brand = 'Brand#1' and p_size between 1 and 5
            and l_quantity between 1 and 11)
          or (p_brand = 'Brand#2' and p_size between 1 and 10
            and l_quantity between 10 and 20)
          or (p_brand = 'Brand#3' and p_size between 1 and 15
            and l_quantity between 20 and 30)""")
        .within("m4" -> // exact 1e-4-unit revenue (see q168)
          "cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)")
        .agg((F.sum("m4") / 10000.0).as("revenue"))
    },

    // TPC-H Q20 shape: suppliers whose 1996 shipments of some part
    // exceed 40% of their all-time volume for it — the correlated
    // half-sum decorrelates to one conditional aggregation per
    // (part, supplier) pair (quantities are small integers stored as
    // doubles, so the sums are exact in both engines). The nation dim
    // broadcasts onto the qualifying-supplier semi-join result.
    "q178_part_promo_supp" -> { (s, dir) =>
      val pairs = T.load(s, dir, "lineitem")
        .by(Seq("l_partkey", "l_suppkey"),
          "q96" -> "sum(case when year(l_shipdate) = 1996 then l_quantity else 0.0 end)",
          "qtot" -> "sum(l_quantity)")
        .filter(F.col("q96") > F.col("qtot") * 0.4)
        .select("l_suppkey").distinct()
      T.load(s, dir, "supplier")
        .join(pairs, F.col("s_suppkey") === F.col("l_suppkey"),
          "left_semi")
        .join(F.broadcast(T.load(s, dir, "nation")),
          F.col("s_nationkey") === F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    },

    // TPC-H Q4 shape: order-priority census over orders with at least
    // one late line — EXISTS decorrelates to a left-semi join with a
    // non-equi residual (shipdate vs orderdate + 45 days).
    "q179_order_priority_exists" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
        .filterExpr("""o_orderdate >= timestamp'1996-01-01'
          and o_orderdate < timestamp'1996-04-01'""")
      val l = T.load(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > F.expr("o_orderdate + interval 45 days"),
          "left_semi")
        .by(Seq("o_orderpriority"), "order_count" -> "count(*)")
    },

    // Global triangle count + clustering coefficient over the part
    // co-purchase graph — edges are pairs co-purchased in >= 2 orders
    // (q181's support threshold; the raw >= 1 graph is DENSE — avg
    // degree ~120 at sf0.1 — and exact triangle counting on it is
    // inherently Σoutdeg² wedge rows, measured 29 s; the support
    // filter is both the semantic denoiser and the scale guard).
    // Edges are ORIENTED by (degree, id) before wedge generation —
    // each triangle is counted exactly once at its minimum-order
    // vertex and the max out-degree is O(sqrt(E)), so wedge count is
    // O(E^1.5) instead of Σdeg² (the classic skew killer: one hub
    // part would otherwise generate deg² wedge rows). The
    // closing-edge check is a semi-join against the oriented edge
    // set. Oracle uses the naive a<b<c 3-way self-join — same count,
    // only viable at oracle scale.
    "q180_triangle_count" -> { (s, dir) =>
      val ol = T.load(s, dir, "lineitem")
        .select(F.col("l_orderkey").as("o"), F.col("l_partkey").as("p"))
        .distinct()
      // the edge set fans out 4 ways (deg ×2, orientation, closing-edge
      // probe) — localCheckpoint ONCE so the co-occurrence self-join
      // isn't re-executed per consumer (Graph.pageRank's pattern)
      val edges = ol.toDF("o", "a")
        .join(ol.toDF("o2", "b"),
          F.col("o") === F.col("o2") && F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).as("nab"))
        .filter(F.col("nab") >= 2)
        .select("a", "b").localCheckpoint()
      val deg = edges.select(F.col("a").as("n"))
        .unionAll(edges.select(F.col("b").as("n")))
        .groupBy("n").agg(F.count(F.lit(1)).as("d"))
      // total order (deg, id) packed into one long: ids are < 2^31
      val packed = edges
        .join(deg.toDF("n", "da"), F.col("a") === F.col("n")).drop("n")
        .join(deg.toDF("n2", "db"), F.col("b") === F.col("n2")).drop("n2")
        .select(F.col("a"), F.col("b"),
          (F.col("da") * F.lit(4294967296L) + F.col("a")).as("oa"),
          (F.col("db") * F.lit(4294967296L) + F.col("b")).as("ob"))
      val oriented = packed.select(
        F.when(F.col("oa") < F.col("ob"), F.col("a")).otherwise(F.col("b"))
          .as("src"),
        F.when(F.col("oa") < F.col("ob"), F.col("b")).otherwise(F.col("a"))
          .as("dst"),
        F.greatest(F.col("oa"), F.col("ob")).as("odst"))
        .localCheckpoint() // consumed by both wedge sides + the probe
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"), F.col("e1.src") === F.col("e2.src") &&
          F.col("e1.odst") < F.col("e2.odst"))
        .select(F.col("e1.dst").as("x"), F.col("e2.dst").as("y"))
      val tri = wedges.join(
          oriented.select(F.col("src").as("x"), F.col("dst").as("y")),
          Seq("x", "y"), "left_semi")
        .agg(F.count(F.lit(1)).as("n_triangles"))
      val wtot = deg.agg((F.sum(F.col("d") * (F.col("d") - 1)) / 2)
        .cast("long").as("n_wedges"))
      tri.crossJoin(wtot)
        .select(F.col("n_triangles"), F.col("n_wedges"),
          (F.floor((F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")) * 1e6 + 0.5) / 1e6)
            .as("clustering_coef"))
    },

    // Market-basket association rules over the same co-purchase
    // relation: support / lift for part pairs from pure integer counts
    // (exact rationals, so the round can't flip). Per-order pair
    // fan-out is bounded by lines-per-order², never corpus size; the
    // part-frequency table joins back by key (no broadcast hint —
    // part cardinality grows with scale, AQE decides).
    "q181_market_basket" -> { (s, dir) =>
      val ol = T.load(s, dir, "lineitem")
        .select(F.col("l_orderkey").as("o"), F.col("l_partkey").as("p"))
        .distinct()
      val nOrders = ol.select("o").distinct()
        .agg(F.count(F.lit(1)).as("n_orders"))
      val na = ol.groupBy("p").agg(F.count(F.lit(1)).as("np"))
      val pairs = ol.toDF("o", "a")
        .join(ol.toDF("o2", "b"),
          F.col("o") === F.col("o2") && F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).as("nab"))
        .filter(F.col("nab") >= 2)
      pairs
        .join(na.toDF("p1", "n_a"), F.col("a") === F.col("p1")).drop("p1")
        .join(na.toDF("p2", "n_b"), F.col("b") === F.col("p2")).drop("p2")
        .crossJoin(F.broadcast(nOrders))
        .select(F.col("a"), F.col("b"), F.col("nab"),
          (F.floor((F.col("nab") * F.col("n_orders") /
            (F.col("n_a") * F.col("n_b"))) * 1e4 + 0.5) / 1e4).as("lift"),
          (F.floor((F.col("nab") / F.col("n_orders")) * 1e6 + 0.5) / 1e6).as("support"))
    },

    // Last-touch attribution: each purchase credits the most recent
    // click/view by the same user within 72 h — the backward as-of
    // join (q73's op) with a window bound. Touches dedup to one per
    // (user, ts) first so the carried payload is deterministic.
    "q183_last_touch" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
      val touches = ev.filterExpr("event_type in ('click', 'view')")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").as("touch_id"))
        .select(F.col("user_id"), F.col("ts"),
          F.col("touch_id"), F.col("ts").as("touch_ts"))
      val purchases = ev.filterExpr("event_type = 'purchase'")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOfJoin.backward(purchases, touches,
          Seq("user_id"), "ts", Seq("touch_id", "touch_ts"))
        .filter(F.col("asof_touch_ts") >=
          F.expr("ts - interval 72 hours"))
        .select(F.col("event_id"), F.col("asof_touch_id").as("touch_id"),
          (F.unix_timestamp(F.col("ts")) -
            F.unix_timestamp(F.col("asof_touch_ts"))).as("gap_sec"))
    }
  )

  /** Unrolled simultaneous-peel k-core oracle. The round count must
    * cover the Spark side's convergence on the verify corpus (fixpoint
    * rounds are no-ops, so over-provisioning is free correctness-wise);
    * 16 is a wide margin over the measured peel depth (10 at sf0.01).
    * MATERIALIZED is load-bearing: DuckDB inlines a CTE per reference,
    * and each round references its predecessor ~5×, so the un-hinted
    * unroll expands 5^16 scans and dies on file handles.
    */
  private def duckKCore(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH ol AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              FROM lineitem),
          e0 AS MATERIALIZED (SELECT a.p AS a, b.p AS b
              FROM ol a JOIN ol b ON a.o = b.o AND a.p < b.p
              GROUP BY 1, 2 HAVING count(*) >= 2)""")
    for (i <- 0 until rounds) {
      sb.append(s""",
          d$i AS MATERIALIZED (SELECT n, count(*) AS deg FROM
              (SELECT a AS n FROM e$i UNION ALL SELECT b FROM e$i)
              GROUP BY 1),
          e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
              WHERE a IN (SELECT n FROM d$i WHERE deg >= $k)
                AND b IN (SELECT n FROM d$i WHERE deg >= $k))""")
    }
    sb.append(s""",
          df AS (SELECT n, count(*) AS deg FROM
              (SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds)
              GROUP BY 1)
          SELECT n AS node, deg FROM df WHERE deg >= $k""")
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "q186_kcore" -> duckKCore(3, 16),
    "q127_group_trend" ->
      """WITH x0 AS (SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS x0
                     FROM events),
          d AS (SELECT user_id, value,
                  (CAST(floor(epoch(ts)) AS BIGINT) - x0) / 3600.0 AS xh
                FROM events CROSS JOIN x0),
          a AS (SELECT user_id, count(*) AS n, sum(xh) AS sx,
                  sum(value) AS sy, sum(xh * value) AS sxy,
                  sum(xh * xh) AS sxx
                FROM d GROUP BY 1)
          SELECT user_id, CAST(n AS BIGINT) AS n,
            floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e4 + 0.5) / 1e4 AS slope,
            floor(((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
              / n) * 1e4 + 0.5) / 1e4 AS intercept
          FROM a
          WHERE n >= 2 AND n * sxx - sx * sx != 0""",
    "q121_resample_ffill" ->
      """WITH b AS (SELECT user_id,
            date_trunc('hour', min(ts))::TIMESTAMP AS h0,
            date_trunc('hour', max(ts))::TIMESTAMP AS h1
          FROM events GROUP BY 1),
          grid AS (SELECT user_id,
            unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM b),
          obs AS (SELECT user_id, h, value FROM (
            SELECT user_id, date_trunc('hour', ts) AS h, value,
              row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1)
          SELECT g.user_id AS user_id,
            CAST(floor(epoch(g.h)) AS BIGINT) AS h,
            last_value(o.value IGNORE NULLS) OVER (PARTITION BY g.user_id
              ORDER BY g.h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
          FROM grid g LEFT JOIN obs o
            ON g.user_id = o.user_id AND g.h = o.h""",
    "q74_shipping_priority" ->
      """SELECT l_orderkey,
                round(sum(l_extendedprice * (1 - l_discount)), 2)
                  AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q75_local_supplier" ->
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2)
                  AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",
    "q76_range_frame" ->
      """SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2)
             AS rolling_1h
         FROM events""",
    "q77_edit_distance" ->
      """SELECT a.p_brand, a.p_type, a.p_partkey AS k1,
                b.p_partkey AS k2,
                levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_type = b.p_type
          AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 3""",
    "q185_jaro_linkage" ->
      """SELECT a.p_brand, a.p_type, a.p_partkey AS k1,
                b.p_partkey AS k2,
                round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_type = b.p_type
          AND a.p_partkey < b.p_partkey
         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9""",
    "q78_sample" ->
      "SELECT doc_id, lang FROM documents WHERE doc_id % 10 = 3",
    "q81_nullsafe_join" ->
      """WITH a AS (
           SELECT o_orderkey,
             CASE WHEN o_totalprice < 100000 THEN 'lo'
                  WHEN o_totalprice > 400000 THEN 'hi' END AS band
           FROM orders),
         b AS (SELECT band, count(*) AS n_in_band FROM a GROUP BY band)
         SELECT a.o_orderkey, a.band, b.n_in_band
         FROM a JOIN b ON a.band IS NOT DISTINCT FROM b.band""",
    "q82_zscore" ->
      """SELECT event_id, event_type,
           floor(((value - avg(value) OVER w) /
                 stddev_samp(value) OVER w) * 1e6 + 0.5) / 1e6 + 0 AS z
         FROM events WINDOW w AS (PARTITION BY event_type)""",
    "q83_vec_norm" ->
      """SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
             x -> x * x))), 6) AS l2
         FROM embeddings""",
    "q132_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
         FROM events GROUP BY 1""",
    "q136_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events),
          t1 AS (SELECT user_id, min(sec) AS t1 FROM e
                 WHERE event_type = 'view' GROUP BY 1),
          t2 AS (SELECT e.user_id, min(sec) AS t2
                 FROM e JOIN t1 USING (user_id)
                 WHERE event_type = 'click' AND sec >= t1
                   AND sec <= t1 + 86400 GROUP BY 1),
          t3 AS (SELECT e.user_id, min(sec) AS t3
                 FROM e JOIN t2 USING (user_id)
                 WHERE event_type = 'purchase' AND sec >= t2
                   AND sec <= t2 + 86400 GROUP BY 1),
          u AS (SELECT DISTINCT user_id FROM e)
          SELECT CASE WHEN t3.user_id IS NOT NULL THEN 3
                      WHEN t2.user_id IS NOT NULL THEN 2
                      WHEN t1.user_id IS NOT NULL THEN 1
                      ELSE 0 END AS stage,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM u LEFT JOIN t1 USING (user_id)
                 LEFT JOIN t2 USING (user_id)
                 LEFT JOIN t3 USING (user_id)
          GROUP BY 1""",
    "q137_cohort" ->
      """WITH e AS (SELECT user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events),
          t0 AS (SELECT min(sec) AS t0 FROM e),
          wk AS (SELECT DISTINCT user_id, (sec - t0) // 604800 AS wk
                 FROM e CROSS JOIN t0),
          c AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY 1)
          SELECT CAST(cohort AS BIGINT) AS cohort,
                 CAST(wk - cohort AS BIGINT) AS week_k,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM wk JOIN c USING (user_id)
          GROUP BY 1, 2""",
    "q135_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(count(*) AS BIGINT) AS n_lines,
           floor((sum(CASE WHEN n2.n_name = 'NATION_1'
                          THEN l_extendedprice * (1.0 - l_discount)
                          ELSE 0.0 END)
                 / sum(l_extendedprice * (1.0 - l_discount))) * 1e6 + 0.5) / 1e6
             AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
           AND r_name = 'AMERICA'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         GROUP BY 1""",
    "q139_cust_orders_dist" ->
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
                     FROM customer LEFT JOIN orders
                       ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
                     GROUP BY 1)
         SELECT CAST(c_count AS BIGINT) AS c_count,
                CAST(count(*) AS BIGINT) AS custdist
         FROM co GROUP BY 1""",
    "q140_small_qty_rev" ->
      """WITH lb AS (SELECT l_partkey, l_quantity, l_extendedprice
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     WHERE p_brand = 'Brand#7'),
          a AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
                FROM lb GROUP BY 1)
         SELECT floor((sum(l_extendedprice) / 7.0) * 1e2 + 0.5) / 1e2 AS avg_yearly
         FROM lb JOIN a USING (l_partkey)
         WHERE l_quantity < qty_thresh""",
    "q141_big_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
                      FROM lineitem GROUP BY 1
                      HAVING sum(l_quantity) > 250.0)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                o_totalprice, total_qty
         FROM big JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q142_late_supplier" ->
      """WITH ps AS (SELECT l_orderkey, l_suppkey,
                       max(CASE WHEN datediff('day', o_orderdate,
                                              l_shipdate) > 365
                                THEN 1 ELSE 0 END) AS supp_late
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                     WHERE o_orderstatus = 'F'
                     GROUP BY 1, 2),
          po AS (SELECT l_orderkey, count(*) AS n_supps,
                        sum(supp_late) AS n_late
                 FROM ps GROUP BY 1)
         SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
         FROM ps JOIN po USING (l_orderkey)
         WHERE supp_late = 1 AND n_supps > 1 AND n_late = 1
         GROUP BY 1""",
    "q143_idle_rich_cust" ->
      """WITH abar AS (SELECT avg(c_acctbal) AS abar FROM customer
                       WHERE c_acctbal > 0.0)
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
                round(sum(c_acctbal), 2) AS totacctbal
         FROM customer CROSS JOIN abar
         WHERE c_acctbal > abar
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY 1""",
    "q144_stickiness" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
          dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
                  FROM du GROUP BY 1),
          wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM (
                    SELECT DISTINCT
                      CAST(unnest(generate_series(day::TIMESTAMP,
                        (day + 6)::TIMESTAMP, INTERVAL 1 DAY)) AS DATE)
                        AS day,
                      user_id
                    FROM du) GROUP BY 1)
         SELECT day, dau, wau, floor((dau * 1.0 / wau) * 1e4 + 0.5) / 1e4 AS stickiness
         FROM dau JOIN wau USING (day)""",
    "q145_gap_stats" ->
      """WITH g AS (SELECT event_type,
                      sec - lag(sec) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY sec, event_id) AS gap
                    FROM (SELECT user_id, event_type, event_id,
                            CAST(floor(epoch(ts)) AS BIGINT) AS sec
                          FROM events))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                floor((avg(gap)) * 1e2 + 0.5) / 1e2 AS mean_gap,
                floor((quantile_cont(gap, 0.5)) * 1e2 + 0.5) / 1e2 AS p50,
                floor((quantile_cont(gap, 0.9)) * 1e2 + 0.5) / 1e2 AS p90
         FROM g WHERE gap IS NOT NULL
         GROUP BY 1""",
    "q147_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
                round(sum(l_extendedprice * (1 - l_discount)), 2)
                  AS total_revenue
              FROM lineitem WHERE l_shipdate >= DATE '1998-01-01'
              GROUP BY 1),
          mx AS (SELECT max(total_revenue) AS mx FROM rev)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev CROSS JOIN mx
              JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = mx""",
    "q148_revenue_gini" ->
      """WITH cr AS (SELECT o_custkey, floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS rev
                     FROM orders GROUP BY 1),
          r AS (SELECT c_nationkey, rev,
                  row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY rev, o_custkey) AS i
                FROM cr JOIN customer ON o_custkey = c_custkey)
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
           floor((2.0 * sum(i * rev) / (count(*) * sum(rev))
             - (count(*) + 1.0) / count(*)) * 1e6 + 0.5) / 1e6 AS gini
         FROM r GROUP BY 1""",
    "q149_equidepth_hist" ->
      """SELECT event_type, CAST(bucket AS INT) AS bucket,
                CAST(count(*) AS BIGINT) AS n,
                round(min(value), 6) AS lo, round(max(value), 6) AS hi
         FROM (SELECT event_type, value, event_id,
                 ntile(10) OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS bucket
               FROM events)
         GROUP BY 1, 2""",
    "q150_pagerank" ->
      """WITH cs AS (SELECT DISTINCT 'c' || o_custkey AS c,
                       's' || l_suppkey AS s
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS (SELECT c AS src, s AS dst FROM cs
                    UNION ALL SELECT s, c FROM cs),
          deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
          nodes AS (SELECT src AS node FROM deg),
          nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
          p0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
          c1 AS (SELECT dst, sum(pr / deg) AS inflow FROM edges
                 JOIN deg USING (src) JOIN p0 ON src = node GROUP BY 1),
          p1 AS (SELECT node, (1 - 0.85) / n
                   + 0.85 * coalesce(inflow, 0) AS pr
                 FROM nodes CROSS JOIN nn LEFT JOIN c1 ON node = dst),
          c2 AS (SELECT dst, sum(pr / deg) AS inflow FROM edges
                 JOIN deg USING (src) JOIN p1 ON src = node GROUP BY 1),
          p2 AS (SELECT node, (1 - 0.85) / n
                   + 0.85 * coalesce(inflow, 0) AS pr
                 FROM nodes CROSS JOIN nn LEFT JOIN c2 ON node = dst),
          c3 AS (SELECT dst, sum(pr / deg) AS inflow FROM edges
                 JOIN deg USING (src) JOIN p2 ON src = node GROUP BY 1),
          p3 AS (SELECT node, (1 - 0.85) / n
                   + 0.85 * coalesce(inflow, 0) AS pr
                 FROM nodes CROSS JOIN nn LEFT JOIN c3 ON node = dst)
         SELECT node, round(pr * n, 6) AS pr_scaled
         FROM p3 CROSS JOIN nn
         WHERE node LIKE 's%'""",
    "q151_new_users" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
          f AS (SELECT user_id, min(day) AS d0 FROM du GROUP BY 1)
         SELECT day, CAST(count(*) AS BIGINT) AS n_active,
                CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_new,
                CAST(count(*)
                  - sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_returning
         FROM du JOIN f USING (user_id)
         GROUP BY 1""",
    "q153_weighted_median" ->
      """WITH w AS (SELECT l_suppkey, l_extendedprice, l_quantity,
                sum(l_quantity) OVER (PARTITION BY l_suppkey
                  ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                  AS cumw,
                sum(l_quantity) OVER (PARTITION BY l_suppkey) AS totw
              FROM lineitem)
         SELECT l_suppkey, round(min(l_extendedprice), 2) AS wmedian,
                round(min(totw), 2) AS total_weight
         FROM w WHERE cumw >= totw / 2
         GROUP BY 1""",
    "q154_benford" ->
      """WITH o AS (SELECT o_orderpriority,
                CAST(floor((o_totalprice * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS c
              FROM orders WHERE o_totalprice > 0),
          d AS (SELECT o_orderpriority,
                CAST(floor(c / pow(10, length(CAST(c AS VARCHAR)) - 1))
                  AS INT) AS d
              FROM o),
          counts AS (SELECT o_orderpriority, d, count(*) AS n
                     FROM d GROUP BY 1, 2),
          tot AS (SELECT o_orderpriority, sum(n) AS nt
                  FROM counts GROUP BY 1)
         SELECT o_orderpriority, d, CAST(n AS BIGINT) AS n,
                floor((n / nt) * 1e6 + 0.5) / 1e6 AS freq,
                floor((log10(1.0 + 1.0 / d)) * 1e6 + 0.5) / 1e6 AS benford
         FROM counts JOIN tot USING (o_orderpriority)""",
    "q160_burst_detect" ->
      """WITH e AS (SELECT user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events),
          c AS (SELECT user_id, count(*) OVER (PARTITION BY user_id
                  ORDER BY sec RANGE BETWEEN 3600 PRECEDING
                  AND CURRENT ROW) AS c
                FROM e)
         SELECT user_id, CAST(max(c) AS BIGINT) AS max_rate,
                CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bursts
         FROM c GROUP BY 1
         HAVING sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) >= 1""",
    "q192_theilsen" ->
      """WITH e AS (SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS x, value AS y
             FROM events),
          p AS (SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS slope
                FROM e a JOIN e b
                  ON a.user_id = b.user_id AND a.event_id < b.event_id
                 AND a.x <> b.x)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
                round(quantile_cont(slope, 0.5) * 3600, 6)
                  AS slope_per_hour
         FROM p GROUP BY 1 HAVING count(*) >= 10""",
    "q194_woe" ->
      """WITH ev AS (SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             FROM events),
          per AS (SELECT bucket, sum(y) AS pos, sum(1 - y) AS neg
                  FROM ev GROUP BY 1),
          tot AS (SELECT sum(pos) AS tp, sum(neg) AS tn FROM per)
         SELECT bucket, CAST(pos AS BIGINT) AS pos,
                CAST(neg AS BIGINT) AS neg,
                floor(ln(((pos + 0.5) / tp) / ((neg + 0.5) / tn))
                  * 1e6 + 0.5) / 1e6 AS woe,
                floor((pos::DOUBLE / tp - neg::DOUBLE / tn)
                  * ln(((pos + 0.5) / tp) / ((neg + 0.5) / tn))
                  * 1e6 + 0.5) / 1e6 AS iv_part
         FROM per CROSS JOIN tot""",
    "q195_markov" ->
      """WITH o AS (SELECT event_type, lead(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
               FROM events),
          tr AS (SELECT event_type AS cur, nxt, count(*) AS n
                 FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
          tot AS (SELECT cur, sum(n) AS tot FROM tr GROUP BY 1)
         SELECT cur, nxt, CAST(n AS BIGINT) AS n,
                floor((n::DOUBLE / tot) * 1e6 + 0.5) / 1e6 AS p
         FROM tr JOIN tot USING (cur)""",
    "q187_ewma" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS n
             FROM events GROUP BY 1, 2),
          w AS (SELECT event_type, day, n,
               list(n) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS vals
             FROM d)
          SELECT event_type, day,
            floor((list_sum(list_transform(vals,
                    (x, i) -> x * pow(0.9, len(vals) - i)))
                  / ((1 - pow(0.9, len(vals))) / 0.1)) * 1e6 + 0.5) / 1e6 AS ewma
          FROM w""",
    "q161_bootstrap_ci" ->
      """WITH rep AS (SELECT event_type, b,
                ((event_id * 2654435761 + b * 40503) % 1048576)
                  / 1048576.0 AS u, value
              FROM events CROSS JOIN
                (SELECT unnest(range(0, 32)) AS b)),
          w AS (SELECT event_type, b, value,
                  CASE WHEN u < 0.367879 THEN 0
                       WHEN u < 0.735759 THEN 1
                       WHEN u < 0.919699 THEN 2
                       WHEN u < 0.981012 THEN 3
                       WHEN u < 0.996340 THEN 4 ELSE 5 END AS w
                FROM rep),
          m AS (SELECT event_type, b, sum(w * value) / sum(w) AS m
                FROM w GROUP BY 1, 2),
          base AS (SELECT event_type, floor((avg(value)) * 1e4 + 0.5) / 1e4 AS mean_value
                   FROM events GROUP BY 1)
         SELECT event_type, mean_value,
                floor((quantile_cont(m, 0.025)) * 1e4 + 0.5) / 1e4 AS ci_lo,
                floor((quantile_cont(m, 0.975)) * 1e4 + 0.5) / 1e4 AS ci_hi
         FROM m JOIN base USING (event_type)
         GROUP BY 1, 2""",
    // every event covers exactly the 4 slide-aligned windows ending
    // after it: start = floor(sec/900)·900 − j·900, j ∈ 0..3
    "q164_hopping_window" ->
      """SELECT ws, event_type, count(*) AS n,
                round(sum(value), 2) AS total
         FROM (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900
                        - j * 900 AS ws,
                      event_type, value
               FROM events CROSS JOIN
                 (SELECT unnest(range(0, 4)) AS j))
         GROUP BY 1, 2""",
    "q168_forecast_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                  AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q169_min_cost_supp" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
                min(floor(l_extendedprice / l_quantity * 100 + 0.5) / 100) AS cost
              FROM lineitem GROUP BY 1, 2),
          cand AS (SELECT p_partkey, s_name, cost
              FROM ps
              JOIN part ON l_partkey = p_partkey AND p_size = 15
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE')
          SELECT p_partkey, s_name, cost FROM (
            SELECT p_partkey, s_name, cost,
              min(cost) OVER (PARTITION BY p_partkey) AS mn
            FROM cand) WHERE cost = mn""",
    "q170_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                  * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate < TIMESTAMP '1996-10-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q171_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                  * 100) AS BIGINT)) AS BIGINT) / 100.0 AS volume
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
         WHERE r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
         GROUP BY 1, 2, 3""",
    "q172_product_profit" ->
      """SELECT n_name, year(l_shipdate) AS l_year,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                    * 10000) AS BIGINT)
                  - CAST(round(0.6 * p_retailprice * l_quantity * 10000)
                    AS BIGINT)) AS BIGINT) / 10000.0 AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2""",
    "q173_stock_value" ->
      """WITH vals AS (SELECT l_partkey,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                * 100) AS BIGINT)) AS BIGINT) AS val_c
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY 1)
          SELECT l_partkey, val_c / 100.0 AS stock_value
          FROM vals CROSS JOIN
            (SELECT CAST(sum(val_c) AS BIGINT) AS tot_c FROM vals)
          WHERE val_c * 1000 > tot_c""",
    "q174_priority_class" ->
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY
           AND year(l_shipdate) = 1997
         GROUP BY 1""",
    "q175_promo_share" ->
      """WITH c AS (SELECT p_type,
              CAST(floor((l_extendedprice * (1 - l_discount) * 100) * 1e0 + 0.5) / 1e0
                AS BIGINT) AS cents
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01')
          SELECT floor((100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
              THEN cents ELSE 0 END) AS BIGINT)
            / CAST(sum(cents) AS BIGINT)) * 1e4 + 0.5) / 1e4 AS promo_share
          FROM c""",
    "q176_supplier_parts" ->
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         JOIN part ON l_partkey = p_partkey
         WHERE NOT (p_brand = 'Brand#9' AND p_type = 'PROMO')
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < -500)
         GROUP BY 1, 2, 3""",
    "q177_disjunctive" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                  * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 20 AND 30)""",
    "q178_part_promo_supp" ->
      """WITH pairs AS (SELECT l_partkey, l_suppkey,
              sum(CASE WHEN year(l_shipdate) = 1996
                THEN l_quantity ELSE 0.0 END) AS q96,
              sum(l_quantity) AS qtot
            FROM lineitem GROUP BY 1, 2)
          SELECT s_suppkey, s_name, n_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          WHERE s_suppkey IN
            (SELECT l_suppkey FROM pairs WHERE q96 > qtot * 0.4)""",
    "q179_order_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
         GROUP BY 1""",
    "q180_triangle_count" ->
      """WITH ol AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              FROM lineitem),
          e AS (SELECT a.p AS a, b.p AS b
              FROM ol a JOIN ol b ON a.o = b.o AND a.p < b.p
              GROUP BY 1, 2 HAVING count(*) >= 2),
          tri AS (SELECT count(*) AS c
              FROM e e1 JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
          deg AS (SELECT n, count(*) AS d FROM
              (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
          w AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS wedges
              FROM deg)
          SELECT CAST(tri.c AS BIGINT) AS n_triangles,
                 w.wedges AS n_wedges,
                 floor((3.0 * tri.c / w.wedges) * 1e6 + 0.5) / 1e6 AS clustering_coef
          FROM tri CROSS JOIN w""",
    "q181_market_basket" ->
      """WITH ol AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              FROM lineitem),
          n AS (SELECT count(DISTINCT o) AS n_orders FROM ol),
          na AS (SELECT p, count(*) AS np FROM ol GROUP BY 1),
          pairs AS (SELECT a.p AS a, b.p AS b, count(*) AS nab
              FROM ol a JOIN ol b ON a.o = b.o AND a.p < b.p
              GROUP BY 1, 2 HAVING count(*) >= 2)
          SELECT a, b, CAST(nab AS BIGINT) AS nab,
                 floor((1.0 * nab * n_orders / (x.np * y.np)) * 1e4 + 0.5) / 1e4 AS lift,
                 floor((1.0 * nab / n_orders) * 1e6 + 0.5) / 1e6 AS support
          FROM pairs
          JOIN na x ON pairs.a = x.p
          JOIN na y ON pairs.b = y.p
          CROSS JOIN n""",
    "q183_last_touch" ->
      """WITH t AS (SELECT user_id, ts, max(event_id) AS touch_id
              FROM events WHERE event_type IN ('click', 'view')
              GROUP BY 1, 2),
          p AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'),
          j AS (SELECT p.event_id, t.touch_id, t.ts AS tts, p.ts AS pts,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY t.ts DESC, t.touch_id DESC) AS rn
              FROM p JOIN t ON p.user_id = t.user_id
                AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 72 HOUR)
          SELECT event_id, touch_id,
                 CAST(floor(epoch(pts)) AS BIGINT)
                   - CAST(floor(epoch(tts)) AS BIGINT) AS gap_sec
          FROM j WHERE rn = 1"""
  )
}
