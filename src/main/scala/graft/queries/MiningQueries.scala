package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.T
import graft.ops.{Graph, RelOps}
import graft.plans.StringSimilarity
import graft.similarity.Knn
import org.apache.spark.sql.GraftReleaseBridge

/** Wave-6: pattern-mining / outlier / linkage operators — sweep-line
  * concurrency, LOF outliers, multi-source BFS, linear-interpolation
  * resampling, sorted-neighborhood record linkage, exact Shapley
  * attribution, PR-AUC, and readability scoring. Every query keeps the
  * math integer-exact until a final rounded division so the DuckDB
  * oracle hash-matches bit-for-bit.
  */
object MiningQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Peak concurrent sessions per day — the classic sweep-line:
    // sessionize (30-min gap), emit (+1 at start, -1 at end+1) deltas,
    // collapse deltas per second (kills ordering ties BEFORE the scan),
    // distributed exclusive prefix sum over the time axis (range-sort,
    // no single-task global window), running level = prefix + net.
    // Peak is evaluated at delta instants; the level is constant
    // between them. Days are integer epoch-days — no timezone surface.
    "q211_concurrency" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id")
        .orderBy(F.col("sec"), F.col("event_id"))
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("sec"))
        .withColumn("prev", F.lag("sec", 1).over(byUser))
        .withColumn("ns", (F.col("prev").isNull ||
          F.col("sec") - F.col("prev") > 1800).cast("int"))
        .withColumn("sess", F.sum("ns").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sessions = ev.groupBy("user_id", "sess")
        .agg(F.min("sec").as("st"), F.max("sec").as("en"))
      val deltas = sessions.select(F.col("st").as("sec"), F.lit(1L).as("d"))
        .unionAll(sessions.select((F.col("en") + 1).as("sec"),
          F.lit(-1L).as("d")))
        .groupBy("sec").agg(F.sum("d").as("net"))
      val pre = RelOps.globalPrefixSum(deltas, "net", "cum",
        Seq(RelOps.Ordering("sec")))
      pre.select(F.floor(F.col("sec") / 86400).as("eday"),
          (F.col("cum") + F.col("net")).as("conc"))
        .groupBy("eday").agg(F.max("conc").as("peak"))
    },

    // Local Outlier Factor (k=5) over embeddings — the density-ratio
    // outlier score an embedding-curation pass uses to drop points in
    // sparse regions. All reach-distances are integer micro-units
    // (round((1-cos)*1e6)) so the k-distance max, the reachability
    // sums, and the S_a/S_b density ratios are exact until the single
    // final division. LOF(a) = S(a)/k · Σ_{b∈N(a)} 1/S(b): the lrd
    // normalization cancels, so no unit conversion ever happens.
    // kNN runs on Knn.exactKnnBnB — exact branch-and-bound IVF, same
    // top-5 as brute force (hash parity) with no n² window shuffle
    // and no corpus broadcast.
    "q212_lof" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      val knn = Knn.exactKnnBnB(emb, emb, "vec_id", "embedding", 5)
        .withColumn("di",
          (F.floor(((F.lit(1.0) - F.col("sim")) * 1e6) * 1e0 + 0.5) / 1e0).cast("long"))
        // n x k rows consumed by kd AND reach — pin so the BnB
        // pipeline runs once (Bench/Verify sweep blocks post-query)
        .localCheckpoint()
      val kd = knn.groupBy("query_id").agg(F.max("di").as("kdist"))
      val reach = knn
        .join(kd.withColumnRenamed("query_id", "neighbor_id"),
          "neighbor_id")
        .select(F.col("query_id").as("a"), F.col("neighbor_id").as("b"),
          F.greatest(F.col("kdist"), F.col("di")).as("rd"))
      val sums = reach.groupBy("a")
        .agg(F.greatest(F.sum("rd"), F.lit(1L)).as("S"))
      reach
        .join(sums.toDF("a", "Sa"), "a")
        .join(sums.toDF("b", "Sb"), "b")
        .groupBy(F.col("a").as("vec_id"))
        .agg((F.floor((F.max(F.col("Sa")).cast("double") / 5.0
          * F.sum(F.lit(1.0) / F.col("Sb"))) * 1e6 + 0.5) / 1e6).as("lof"))
    },

    // Multi-source BFS hop distance over the customer↔supplier
    // co-transaction graph, seeded at one nation's suppliers, bounded
    // to 4 hops. Frontier-based expansion (never the visited set
    // against the graph), integer node ids through every shuffle,
    // string form only in the final projection — the q150 lesson.
    "q213_bfs_hops" -> { (s, dir) =>
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
      // seed nation derived from data (nation of the min supplier key)
      // so the frontier is non-empty at every scale factor
      val seedNk = T.load(s, dir, "supplier")
        .orderBy(F.col("s_suppkey"))
        .limit(1)
        .select(F.col("s_nationkey").as("seed_nk"))
      val seeds = T.load(s, dir, "supplier")
        .join(F.broadcast(seedNk),
          F.col("s_nationkey") === F.col("seed_nk"))
        .select((F.col("s_suppkey") * 2 + 1).as("node"))
      val hops = Graph.bfsHops(edges, seeds, maxHops = 4)
      // bfsHops is eager (materialized checkpoint) — the edge-side
      // checkpoint is no longer needed once it returns
      GraftReleaseBridge.release(cs)
      hops
        .select(F.when(F.col("node") % 2 === 0,
            F.concat(F.lit("c"), (F.col("node") / 2).cast("long")))
          .otherwise(F.concat(F.lit("s"),
            ((F.col("node") - 1) / 2).cast("long"))).as("node"),
          F.col("hop"))
    },

    // Linear-interpolation resampling to an hourly grid (q121's ffill
    // upgraded to the feature-store interpolate): anchors deduped per
    // (user, sec) by max event_id, grid+anchor rows merged in ONE
    // per-user ordered window pass (anchors sort before grid rows at
    // equal sec, so an exactly-on-grid observation is its own "prev"
    // and never its own "next"). The interpolated value is an exact
    // integer numerator/denominator — cents × second-deltas — divided
    // once at the end.
    "q214_interp_resample" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("sec"),
          F.round(F.col("value") * 100).cast("long").as("vc"))
      val wDedup = Window.partitionBy("user_id", "sec")
        .orderBy(F.col("event_id").desc)
      val anchors = ev.withColumn("__rn", F.row_number().over(wDedup))
        .filter(F.col("__rn") === 1)
        .select(F.col("user_id"), F.col("sec"), F.col("sec").as("at"),
          F.col("vc"), F.lit(0).as("g"))
      val grid = ev.groupBy("user_id")
        .agg((F.floor(F.min("sec") / 3600) * 3600).as("h0"),
          (F.floor(F.max("sec") / 3600) * 3600).as("h1"))
        .select(F.col("user_id"),
          F.explode(F.sequence(F.col("h0"), F.col("h1"), F.lit(3600L)))
            .as("sec"))
        .select(F.col("user_id"), F.col("sec"),
          F.lit(null).cast("long").as("at"),
          F.lit(null).cast("long").as("vc"), F.lit(1).as("g"))
      val wPrev = Window.partitionBy("user_id")
        .orderBy(F.col("sec"), F.col("g"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the forward carry is the SAME growing-frame last over the
      // REVERSED sort: Spark's (CurrentRow, UnboundedFollowing) frame
      // re-evaluates the aggregate from scratch at every row — O(n²)
      // per partition (measured: q214 6.6–11.9 s at sf0.1) — while
      // growing frames accumulate incrementally. Under (sec desc,
      // g desc) the preceding-frame rows are exactly the original
      // following-frame rows (same-sec anchors still sort OUTSIDE a
      // grid row's frame, so an on-grid observation remains its own
      // prev and never its own next), and last = the nearest later
      // row — first-over-following, O(n log n) total.
      val wNext = Window.partitionBy("user_id")
        .orderBy(F.col("sec").desc, F.col("g").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ONE struct-valued carry per direction (not four scalar
      // aggregates): each ignoreNulls last scans its frame once, so
      // fusing (at, vc) into a struct halves the window work — the
      // struct is null exactly when `at` is null (grid rows), so
      // ignoreNulls semantics are unchanged
      anchors.unionAll(grid)
        .withColumn("__a", F.when(F.col("at").isNotNull,
          F.struct(F.col("at"), F.col("vc"))))
        .withColumn("__p",
          F.last("__a", ignoreNulls = true).over(wPrev))
        .withColumn("__n",
          F.last("__a", ignoreNulls = true).over(wNext))
        .select(F.col("user_id"), F.col("sec"), F.col("g"),
          F.col("__p.at").as("t0"), F.col("__p.vc").as("v0"),
          F.col("__n.at").as("t1"), F.col("__n.vc").as("v1"))
        .filter(F.col("g") === 1 && F.col("t0").isNotNull)
        // floor-form 6-dp rounding (round-13 cross-scale sweep): the
        // exact integer numerator/denominator division can land on an
        // exact 6-dp half, where Spark's decimal-repr HALF_UP and
        // DuckDB's binary round() split; floor(x*1e6+0.5)/1e6 is the
        // identical IEEE op sequence in both engines. Caveat: Spark's
        // floor(double) returns LongType, so |x*1e6| beyond ±2^63
        // would saturate here while DuckDB's floor stays DOUBLE — a
        // theoretical divergence only; v is an interpolated percentage
        // in [0, ~100], orders of magnitude inside Long range.
        .select(F.col("user_id"), F.col("sec"),
          F.when(F.col("t1").isNull,
              F.floor(F.col("v0") / 100.0 * 1e6 + 0.5) / 1e6)
            .otherwise(F.floor(
              (F.col("v0") * (F.col("t1") - F.col("t0"))
                + (F.col("v1") - F.col("v0")) * (F.col("sec") - F.col("t0")))
                .cast("double")
                / ((F.col("t1") - F.col("t0")) * 100).cast("double")
                * 1e6 + 0.5) / 1e6)
            .as("v"))
    },

    // Sorted-neighborhood record linkage (the classic SNM blocking):
    // one total order over the match key, candidates = rank pairs at
    // distance 1..5 — candidate count is exactly 5n regardless of key
    // distribution, the skew-proof alternative to equi-key blocking.
    // The global rank comes from the range-sort row-number (no
    // single-task window); the d-offset probe is an equi-join on rank.
    "q215_snm_linkage" -> { (s, dir) =>
      val p = T.load(s, dir, "part").select("p_partkey", "p_name")
      val r = RelOps.globalRowNumber(p, "r",
        Seq(RelOps.Ordering("p_name"), RelOps.Ordering("p_partkey")))
      val a = r.toDF("k1", "n1", "r1")
        .withColumn("probe", F.explode(F.sequence(
          F.col("r1") + 1, F.col("r1") + 5)))
      val b = r.toDF("k2", "n2", "probe")
      a.join(b, "probe")
        .withColumn("jw",
          F.round(StringSimilarity.jaroWinkler(F.col("n1"), F.col("n2")), 4))
        .filter(F.col("jw") >= 0.9)
        .select("k1", "k2", "jw")
    },

    // Exact Shapley channel attribution over the 4-channel alphabet:
    // coalition value v(S) = converted users whose pre-purchase channel
    // set ⊆ S. The user table collapses to ≤16 (mask, count) rows, so
    // the 2^n coalition enumeration is driver-scale AFTER a single
    // distributed pass — the shape that survives any corpus size while
    // the alphabet stays bounded. Weights are exact 24ths (n=4:
    // s!(3-s)! ∈ {6,2,2,6}); one division at the end.
    "q216_shapley" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select("user_id", "event_type", "ts")
      val fp = ev.filter(F.col("event_type") === "purchase")
        .groupBy("user_id").agg(F.min("ts").as("pts"))
      val bit = F.when(F.col("event_type") === "click", 1)
        .when(F.col("event_type") === "error", 2)
        .when(F.col("event_type") === "signup", 4)
        .when(F.col("event_type") === "view", 8).otherwise(0)
      val masks = ev.join(fp, "user_id")
        .filter(F.col("ts") < F.col("pts") &&
          F.col("event_type") =!= "purchase")
        .select(F.col("user_id"), bit.as("b"))
        .groupBy("user_id").agg(F.expr("bit_or(b)").as("m"))
      val cnt = fp.select("user_id")
        .join(masks, Seq("user_id"), "left_outer")
        .select(F.coalesce(F.col("m"), F.lit(0)).as("m"))
        .groupBy("m").agg(F.count(F.lit(1)).as("n"))
      val coal = s.range(16).toDF("S").select(F.col("S").cast("int").as("S"))
      val vS = coal.join(
          coal.crossJoin(cnt)
            .filter(F.col("m").bitwiseAND(F.col("S")) === F.col("m"))
            .groupBy("S").agg(F.sum("n").as("v")),
          Seq("S"), "left_outer")
        .select(F.col("S"), F.coalesce(F.col("v"), F.lit(0L)).as("v"))
      import s.implicits._
      val ch = Seq(("click", 1), ("error", 2), ("signup", 4), ("view", 8))
        .toDF("channel", "bit")
      val w24 = F.expr("""CASE (S % 2) + (S div 2) % 2 + (S div 4) % 2
                               + (S div 8) % 2
                          WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                          ELSE 6 END""")
      ch.crossJoin(vS)
        .filter(F.col("S").bitwiseAND(F.col("bit")) === 0)
        .join(vS.toDF("S2", "v2"),
          F.col("S2") === F.col("S").bitwiseOR(F.col("bit")))
        .groupBy("channel")
        .agg((F.floor((F.sum(w24 * (F.col("v2") - F.col("v")))
          .cast("double") / 24.0) * 1e6 + 0.5) / 1e6).as("shapley"))
    },

    // Precision-recall AUC (step interpolation at score-group
    // boundaries — tie-free by construction, like q196's tie-aware
    // ROC): AUCPR = Σ_g (npos_g/P) · precision_g with inclusive
    // cumulative TP / N from two distributed prefix sums over the
    // score axis descending. Integer sums, two final divisions.
    "q217_pr_auc" -> { (s, dir) =>
      val g = T.load(s, dir, "events")
        .select((F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long").as("sc"),
          F.when(F.col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy("sc").agg(F.sum("pos").as("npos"),
          F.count(F.lit(1)).as("tot"))
      val p1 = RelOps.globalPrefixSum(g, "npos", "cumposx",
        Seq(RelOps.Ordering("sc", desc = true)))
      val p2 = RelOps.globalPrefixSum(p1, "tot", "cumallx",
        Seq(RelOps.Ordering("sc", desc = true)))
      p2.select(F.col("npos"),
          (F.col("cumposx") + F.col("npos")).as("ctp"),
          (F.col("cumallx") + F.col("tot")).as("cn"))
        .agg(F.sum("npos").as("np"),
          F.sum(F.col("npos").cast("double") * F.col("ctp")
            / F.col("cn")).as("__s"))
        .select(F.col("np"),
          (F.floor((F.col("__s") / F.col("np")) * 1e6 + 0.5) / 1e6).as("auc_pr"))
    },

    // Flesch reading-ease per document: vowel-group syllable heuristic
    // (min 1 per word), sentences = punctuation runs (min 1 — the
    // synthetic corpus has none, so the words/sentences term degrades
    // to word count, consistently on both engines). All three counts
    // are integers; the score is two divisions, rounded once.
    "q218_readability" -> { (s, dir) =>
      T.load(s, dir, "documents")
        .select(F.col("doc_id"),
          F.expr("""filter(split(lower(text), '\\s+'),
                           w -> length(w) > 0)""").as("ws"),
          F.greatest(F.expr(
            "size(regexp_extract_all(text, '[.!?]+', 0))"), F.lit(1))
            .cast("long").as("sentences"))
        .select(F.col("doc_id"),
          F.size(F.col("ws")).cast("long").as("words"),
          F.expr("""aggregate(transform(ws,
                      w -> greatest(size(regexp_extract_all(
                             w, '[aeiouy]+', 0)), 1)),
                    0L, (a, x) -> a + x)""").as("syllables"),
          F.col("sentences"))
        .filter(F.col("words") > 0)
        // floor-form 4-dp rounding (round-13 cross-scale sweep): with
        // small integer counts the Flesch formula lands on exact 4-dp
        // halves (28.19375 at sf0.1) where Spark's decimal-repr
        // HALF_UP and DuckDB's binary round() split; floor(x*1e4+0.5)
        // /1e4 is the identical IEEE op sequence in both engines.
        .select(F.col("doc_id"), F.col("words"), F.col("syllables"),
          F.col("sentences"),
          (F.floor((F.lit(206.835)
            - F.lit(1.015) * F.col("words") / F.col("sentences")
            - F.lit(84.6) * F.col("syllables") / F.col("words"))
            * 1e4 + 0.5) / 1e4)
            .as("flesch"))
    },

    // Kaplan-Meier survival curve over user lifetimes (retention
    // analysis): duration = days between a user's first and last
    // event; a user whose last event is >6h before corpus end is a
    // churn EVENT, later users are right-censored. Per duration t:
    // n_risk = users with duration >= t (exclusive prefix sum of
    // per-duration counts — censored users leave the risk set too),
    // S(t) = Π_{t_i<=t} (n_i - d_i)/n_i. The product runs in log
    // space on the distributed double prefix scan
    // (RelOps.globalPrefixSumD); a zero factor (everyone at risk
    // dies) is tracked by a parallel integer prefix flag so ln(0)
    // never evaluates on either engine. Output rows only at event
    // times (d_i > 0), the classic KM table.
    "q219_kaplan_meier" -> { (s, dir) =>
      val pu = T.load(s, dir, "events")
        .select(F.col("user_id"), F.unix_timestamp(F.col("ts")).as("sec"))
        .groupBy("user_id")
        .agg(F.min("sec").as("fs"), F.max("sec").as("ls"))
      val mx = pu.agg(F.max("ls").as("mx"))
      val u = pu.crossJoin(F.broadcast(mx))
        .select(F.floor((F.col("ls") - F.col("fs")).cast("double")
            / 86400).as("dur"),
          F.when(F.col("ls") < F.col("mx") - 21600, 1L).otherwise(0L)
            .as("evt"))
      // tiny (≤ span-days rows) but feeds three prefix passes whose
      // input lineage re-evaluates — checkpoint once, swept post-query
      val d = u.groupBy("dur")
        .agg(F.count(F.lit(1)).as("n_at"), F.sum("evt").as("d_i"))
        .localCheckpoint()
      val tot = d.agg(F.sum("n_at").as("tot"))
      val r = RelOps
        .globalPrefixSum(d, "n_at", "cum_before",
          Seq(RelOps.Ordering("dur")))
        .crossJoin(F.broadcast(tot))
        .withColumn("n_risk", F.col("tot") - F.col("cum_before"))
        .withColumn("f", (F.col("n_risk") - F.col("d_i")).cast("double")
          / F.col("n_risk"))
        .withColumn("lnf",
          F.when(F.col("f") > 0, F.log(F.col("f"))).otherwise(F.lit(0.0)))
        .withColumn("z",
          F.when(F.col("f") === 0.0, 1L).otherwise(0L))
      val withZ = RelOps.globalPrefixSum(r, "z", "zb",
        Seq(RelOps.Ordering("dur")))
      RelOps.globalPrefixSumD(withZ, "lnf", "lnb",
          Seq(RelOps.Ordering("dur")))
        .filter(F.col("d_i") > 0)
        .select(F.col("dur"), F.col("n_risk"),
          F.col("d_i").as("n_events"),
          F.when(F.col("zb") + F.col("z") > 0, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("lnb") + F.col("lnf")), 6))
            .as("surv"))
    },

    // Autocorrelation function (lags 1-3) of each event type's hourly
    // revenue series — the seasonality probe a time-series pipeline
    // runs before choosing window features. The series is the hourly
    // TOTAL in integer cents over a gap-filled hour grid (missing
    // hours are real zeros, not absent rows — ACF over a sparse series
    // without the fill is a different statistic). Per-type state is a
    // bounded window (span-hours rows); the mean/denominator are one
    // 1-row-per-type broadcast; the three lag columns explode to
    // (lag, value) pairs so one partial-agg'd groupBy computes all
    // three numerators.
    "q226_acf" -> { (s, dir) =>
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
      val st = series.groupBy("event_type").agg(
        F.sum(F.col("x").cast("double")).as("sx"),
        F.sum(F.col("x").cast("double") * F.col("x")).as("sxx"),
        F.count(F.lit(1)).as("n"))
        .select(F.col("event_type"),
          (F.col("sx") / F.col("n")).as("mu"),
          (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            .as("den"))
      val w = Window.partitionBy("event_type").orderBy("h")
      series
        .withColumn("x1", F.lag("x", 1).over(w))
        .withColumn("x2", F.lag("x", 2).over(w))
        .withColumn("x3", F.lag("x", 3).over(w))
        .join(F.broadcast(st), "event_type")
        .select(F.col("event_type"), F.col("x"), F.col("mu"),
          F.col("den"),
          F.explode(F.expr(
            """array(struct(1 as lag, x1 as xk),
                     struct(2 as lag, x2 as xk),
                     struct(3 as lag, x3 as xk))""")).as("e"))
        .filter(F.col("e.xk").isNotNull)
        .groupBy(F.col("event_type"), F.col("e.lag").as("lag"))
        // den = 0 (a constant series) must yield NULL, not 0/0 = NaN:
        // round(NaN) semantics differ across engines, so the guard is
        // mirrored in the oracle's nullif(den, 0)
        .agg((F.floor((F.sum((F.col("x") - F.col("mu"))
            * (F.col("e.xk") - F.col("mu")))
            / F.when(F.first("den") === 0d, F.lit(null))
              .otherwise(F.first("den"))) * 1e6 + 0.5) / 1e6).as("acf"))
    },

    // Sequential-pair mining: for every ordered event-type pair
    // (A, B), how often does a user's A event have a B event strictly
    // after it within one hour, and how many distinct users show the
    // pattern — the precursor table to association/next-action rules
    // that q195's adjacent-transition matrix can't see (B need not be
    // the NEXT event). The self-join buckets by (user_id, hour): the A
    // side probes its own hour bucket AND the next one (any B within
    // (sa, sa+3600] lands in one of the two), so the equi-join key is
    // (user, hour-bucket) — the q104 interval pattern — and join-group
    // fan-out is bounded by per-user activity inside TWO HOURS, never
    // a user's total history squared. Each (A, B) pair matches exactly
    // one probe (B's actual bucket), so no post-join dedup is needed;
    // the time predicate then trims to the one-hour window and the
    // output is the bounded types² table.
    "q227_seq_pairs" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("sec"), F.col("event_type"))
      val a = ev.toDF("user_id", "ida", "sa", "ta")
        .withColumn("hb", F.explode(F.array(
          F.floor(F.col("sa") / 3600), F.floor(F.col("sa") / 3600) + 1)))
      val b = ev.toDF("user_id", "idb", "sb", "tb")
        .withColumn("hb", F.floor(F.col("sb") / 3600))
      a.join(b, Seq("user_id", "hb"))
        .filter(F.col("sa") < F.col("sb")
          && F.col("sb") <= F.col("sa") + 3600)
        .groupBy(F.col("ta"), F.col("tb"))
        .agg(F.count(F.lit(1)).as("n_pairs"),
          F.count_distinct(F.col("user_id")).as("n_users"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q211_concurrency" ->
      """WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events),
          m AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
                    ORDER BY sec, event_id) AS prev
                FROM e),
          sx AS (SELECT *, sum(CASE WHEN prev IS NULL
                      OR sec - prev > 1800 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY sec, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sess
                 FROM m),
          sessions AS (SELECT user_id, sess, min(sec) AS st,
                         max(sec) AS en
                       FROM sx GROUP BY 1, 2),
          deltas AS (SELECT sec, CAST(sum(d) AS BIGINT) AS net FROM (
                       SELECT st AS sec, 1 AS d FROM sessions
                       UNION ALL SELECT en + 1, -1 FROM sessions)
                     GROUP BY 1),
          lvl AS (SELECT sec, sum(net) OVER (ORDER BY sec
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS conc
                  FROM deltas)
          SELECT CAST(floor(sec / 86400) AS BIGINT) AS eday,
            CAST(max(conc) AS BIGINT) AS peak
          FROM lvl GROUP BY 1""",
    "q212_lof" ->
      """WITH sims AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              floor((list_cosine_similarity(
                q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
            FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id),
          knn AS (
            SELECT query_id, neighbor_id,
              CAST(floor(((1 - sim) * 1e6) * 1e0 + 0.5) / 1e0 AS BIGINT) AS di,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims QUALIFY rank <= 5),
          kd AS (SELECT query_id, max(di) AS kdist FROM knn GROUP BY 1),
          reach AS (SELECT k.query_id AS a, k.neighbor_id AS b,
                      greatest(kd.kdist, k.di) AS rd
                    FROM knn k JOIN kd ON kd.query_id = k.neighbor_id),
          s AS (SELECT a, greatest(sum(rd), 1) AS S
                FROM reach GROUP BY 1)
          SELECT r.a AS vec_id,
            floor((CAST(max(sa.S) AS DOUBLE) / 5.0
              * sum(1.0 / sb.S)) * 1e6 + 0.5) / 1e6 AS lof
          FROM reach r JOIN s sa ON sa.a = r.a
                       JOIN s sb ON sb.a = r.b
          GROUP BY 1""",
    "q213_bfs_hops" ->
      """WITH RECURSIVE cs AS (
            SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sv
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS (SELECT c AS src, sv AS dst FROM cs
                    UNION ALL SELECT sv, c FROM cs),
          seeds AS (SELECT s_suppkey * 2 + 1 AS node
                    FROM supplier
                    WHERE s_nationkey = (
                      SELECT s_nationkey FROM supplier
                      ORDER BY s_suppkey LIMIT 1)),
          hops(node, h) AS (
            SELECT node, CAST(0 AS BIGINT) FROM seeds
            UNION
            SELECT e.dst, h + 1 FROM hops JOIN edges e
              ON e.src = hops.node
            WHERE h < 4)
          SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
                      ELSE 's' || ((node - 1) // 2) END AS node,
            CAST(min(h) AS BIGINT) AS hop
          FROM hops GROUP BY 1""",
    "q214_interp_resample" ->
      """WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                      CAST(round(value * 100) AS BIGINT) AS vc
                    FROM events),
          anchors AS (SELECT user_id, sec, sec AS at, vc, 0 AS g FROM (
                        SELECT *, row_number() OVER (
                            PARTITION BY user_id, sec
                            ORDER BY event_id DESC) AS rn
                        FROM e)
                      WHERE rn = 1),
          grid AS (SELECT user_id,
                     unnest(range(h0, h1 + 1, 3600)) AS sec,
                     NULL::BIGINT AS at, NULL::BIGINT AS vc, 1 AS g
                   FROM (SELECT user_id,
                           (min(sec) // 3600) * 3600 AS h0,
                           (max(sec) // 3600) * 3600 AS h1
                         FROM e GROUP BY 1)),
          u AS (SELECT * FROM anchors UNION ALL SELECT * FROM grid),
          w AS (SELECT *,
                  last_value(at IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY sec, g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS t0,
                  last_value(vc IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY sec, g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS v0,
                  first_value(at IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY sec, g
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS t1,
                  first_value(vc IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY sec, g
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS v1
                FROM u)
          SELECT user_id, sec,
            CASE WHEN t1 IS NULL THEN floor(v0 / 100.0 * 1e6 + 0.5) / 1e6
                 ELSE floor(CAST(v0 * (t1 - t0)
                        + (v1 - v0) * (sec - t0) AS DOUBLE)
                      / ((t1 - t0) * 100) * 1e6 + 0.5) / 1e6 END AS v
          FROM w WHERE g = 1 AND t0 IS NOT NULL""",
    "q215_snm_linkage" ->
      """WITH r AS (SELECT p_partkey, p_name,
                      row_number() OVER (ORDER BY p_name, p_partkey)
                        AS r
                    FROM part)
          SELECT * FROM (
            SELECT a.p_partkey AS k1, b.p_partkey AS k2,
              round(jaro_winkler_similarity(a.p_name, b.p_name), 4)
                AS jw
            FROM r a JOIN r b ON b.r - a.r BETWEEN 1 AND 5)
          WHERE jw >= 0.9""",
    "q216_shapley" ->
      """WITH fp AS (SELECT user_id, min(ts) AS pts FROM events
                     WHERE event_type = 'purchase' GROUP BY 1),
          masks AS (SELECT e.user_id,
                      bit_or(CASE e.event_type WHEN 'click' THEN 1
                             WHEN 'error' THEN 2 WHEN 'signup' THEN 4
                             WHEN 'view' THEN 8 ELSE 0 END) AS m
                    FROM events e JOIN fp ON e.user_id = fp.user_id
                    WHERE e.ts < fp.pts AND e.event_type != 'purchase'
                    GROUP BY 1),
          cnt AS (SELECT coalesce(masks.m, 0) AS m,
                    CAST(count(*) AS BIGINT) AS n
                  FROM fp LEFT JOIN masks ON fp.user_id = masks.user_id
                  GROUP BY 1),
          coal AS (SELECT unnest(range(0, 16))::INT AS S),
          vS AS (SELECT coal.S,
                   coalesce(sum(n) FILTER (WHERE (m & S) = m), 0) AS v
                 FROM coal LEFT JOIN cnt ON (cnt.m & coal.S) = cnt.m
                 GROUP BY 1),
          ch(channel, bit) AS (VALUES ('click', 1), ('error', 2),
                                      ('signup', 4), ('view', 8))
          SELECT channel,
            floor((CAST(sum((CASE (vS.S % 2) + (vS.S // 2) % 2
                                 + (vS.S // 4) % 2 + (vS.S // 8) % 2
                            WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                            ELSE 6 END) * (v2.v - vS.v)) AS DOUBLE)
              / 24.0) * 1e6 + 0.5) / 1e6 AS shapley
          FROM ch JOIN vS ON (vS.S & ch.bit) = 0
                  JOIN vS v2 ON v2.S = (vS.S | ch.bit)
          GROUP BY 1""",
    "q217_pr_auc" ->
      """WITH g AS (SELECT CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS sc,
                      sum(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) AS npos,
                      count(*) AS tot
                    FROM events GROUP BY 1),
          c AS (SELECT npos,
                  sum(npos) OVER (ORDER BY sc DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS ctp,
                  sum(tot) OVER (ORDER BY sc DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cn
                FROM g)
          SELECT CAST(sum(npos) AS BIGINT) AS np,
            floor((sum(CAST(npos AS DOUBLE) * ctp / cn)
              / sum(npos)) * 1e6 + 0.5) / 1e6 AS auc_pr
          FROM c""",
    "q218_readability" ->
      """WITH w AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text),
                        '\s+'), x -> len(x) > 0) AS ws,
                      greatest(len(regexp_extract_all(text, '[.!?]+')),
                        1) AS sentences
                    FROM documents),
          c AS (SELECT doc_id,
                  CAST(len(ws) AS BIGINT) AS words,
                  CAST(list_sum(list_transform(ws, x ->
                    greatest(len(regexp_extract_all(x, '[aeiouy]+')),
                      1))) AS BIGINT) AS syllables,
                  CAST(sentences AS BIGINT) AS sentences
                FROM w)
          SELECT doc_id, words, syllables, sentences,
            floor((206.835::DOUBLE - 1.015::DOUBLE * words / sentences
              - 84.6::DOUBLE * syllables / words) * 1e4 + 0.5) / 1e4
              AS flesch
          FROM c WHERE words > 0""",
    "q219_kaplan_meier" ->
      """WITH pu AS (SELECT user_id,
                      min(CAST(floor(epoch(ts)) AS BIGINT)) AS fs,
                      max(CAST(floor(epoch(ts)) AS BIGINT)) AS ls
                    FROM events GROUP BY 1),
          g AS (SELECT max(ls) AS mx FROM pu),
          u AS (SELECT (ls - fs) // 86400 AS dur,
                  CASE WHEN ls < mx - 21600 THEN 1 ELSE 0 END AS evt
                FROM pu, g),
          d AS (SELECT dur, count(*) AS n_at, sum(evt) AS d_i
                FROM u GROUP BY 1),
          r AS (SELECT dur, n_at, d_i,
                  CAST((SELECT sum(n_at) FROM d)
                    - coalesce(sum(n_at) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
                FROM d),
          k AS (SELECT dur, n_risk, d_i,
                  CAST(n_risk - d_i AS DOUBLE) / n_risk AS f FROM r),
          w AS (SELECT dur, n_risk, d_i,
                  sum(CASE WHEN f = 0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY dur) AS zc,
                  sum(CASE WHEN f > 0 THEN ln(f) ELSE 0 END)
                    OVER (ORDER BY dur) AS lnc
                FROM k),
          final AS (SELECT dur, n_risk, CAST(d_i AS BIGINT) AS n_events,
                  CASE WHEN zc > 0 THEN CAST(0 AS DOUBLE)
                       ELSE round(exp(lnc), 6) END AS surv,
                  d_i FROM w)
          SELECT dur, n_risk, n_events, surv FROM final WHERE d_i > 0""",
    "q226_acf" ->
      """WITH ev AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                      CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS vc
                    FROM events),
          hourly AS (SELECT event_type, h, sum(vc) AS xr
                     FROM ev GROUP BY 1, 2),
          grid AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h
                   FROM (SELECT event_type, min(h) AS h0, max(h) AS h1
                         FROM hourly GROUP BY 1)),
          series AS (SELECT g.event_type, g.h,
                       coalesce(hourly.xr, 0) AS x
                     FROM grid g LEFT JOIN hourly
                       ON hourly.event_type = g.event_type
                      AND hourly.h = g.h),
          st AS (SELECT event_type,
                   sum(CAST(x AS DOUBLE)) / count(*) AS mu,
                   sum(CAST(x AS DOUBLE) * x)
                     - sum(CAST(x AS DOUBLE)) * sum(CAST(x AS DOUBLE))
                       / count(*) AS den
                 FROM series GROUP BY 1),
          la AS (SELECT *,
                   lag(x, 1) OVER (PARTITION BY event_type ORDER BY h)
                     AS x1,
                   lag(x, 2) OVER (PARTITION BY event_type ORDER BY h)
                     AS x2,
                   lag(x, 3) OVER (PARTITION BY event_type ORDER BY h)
                     AS x3
                 FROM series),
          ex AS (SELECT event_type, x, 1 AS lag, x1 AS xk FROM la
                 UNION ALL
                 SELECT event_type, x, 2, x2 FROM la
                 UNION ALL
                 SELECT event_type, x, 3, x3 FROM la)
          SELECT e.event_type, e.lag,
            floor((sum((e.x - st.mu) * (e.xk - st.mu))
              / nullif(any_value(st.den), 0)) * 1e6 + 0.5) / 1e6 AS acf
          FROM ex e JOIN st ON st.event_type = e.event_type
          WHERE e.xk IS NOT NULL
          GROUP BY 1, 2""",
    "q227_seq_pairs" ->
      """WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                      event_type
                    FROM events)
          SELECT a.event_type AS ta, b.event_type AS tb,
            CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
          FROM e a JOIN e b
            ON a.user_id = b.user_id
           AND a.sec < b.sec AND b.sec <= a.sec + 3600
          GROUP BY 1, 2"""
  )
}
