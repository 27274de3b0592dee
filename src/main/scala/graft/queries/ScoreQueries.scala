package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.unsafe.types.UTF8String

import graft.T
import graft.dedup.Dedup
import graft.ops.{AsOfJoin, RelOps}
import graft.ops.RelOps.Ordering
import graft.plans.TextExpressions
import graft.similarity.Knn

/** Wave-19/20: scoring, experimentation-guardrail, and
  * sharding-systems reports — RFM segmentation, Simpson's-paradox
  * detection, an LSH recall audit with a SQL-replayable MinHash
  * family, decile lift/gains, covariate balance (SMD), consistent-ring
  * vs mod rebalance cost, PSI drift, leakage-safe horizon labels,
  * degree assortativity, and an SPRT sequential monitor.
  *
  * Float policy follows the established gate rules: integer-exact
  * moment sums wherever the domain allows (cents, hundredths-of-
  * discount, counts — bit-exact across engines), DECIMAL(38)/HUGEINT
  * for products that outgrow int64 at scale, 6-dp rounding only at
  * the final projection, and identical formula TEXT on both sides for
  * every double expression.
  */
object ScoreQueries extends QueryRegistry {

  // ---- shared DuckDB fragments (same literals as PipelineQueries —
  // the single source of truth is the TextKernels tokenize contract)

  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

  private val duckShingles3 =
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])"

  /** DuckDB replay of [[TextExpressions.polyHash62]] over a string
    * expression (the q42 fold: two 31-bit BIGINT folds, packed).
    * Shared with TrainQueries' q305 bloom-FPR audit. */
  private[queries] def duckPoly(expr: String): String =
    s"""(list_reduce(list_prepend(0::BIGINT,
          list_transform(range(1, length($expr) + 1),
            i -> unicode(substr($expr, i::INT, 1))::BIGINT)),
          (a, x) -> (a * 31 + x) % 2147483647) << 31)
        | list_reduce(list_prepend(0::BIGINT,
            list_transform(range(1, length($expr) + 1),
              i -> unicode(substr($expr, i::INT, 1))::BIGINT)),
            (a, x) -> (a * 131 + x) % 2147483629)"""

  /** 31-bit prime modulus shared by the replayable MinHash family
    * (q266) and the consistent-hash ring (q269). */
  private val P = 2147483647L

  /** Driver-side polyHash62 (same kernel the Catalyst expression
    * runs) — used to precompute ring vnode positions as literals. */
  private def poly(s: String): Long =
    graft.plans.TextKernels.polyHash62(UTF8String.fromString(s))

  /** Affine remix (A·h0 + B) % P over the 31-bit fold residue. The
    * raw polynomial fold is DEGENERATE for short sequential strings —
    * "ring-0-0".."ring-0-15" land 2 apart, so a ring built on it
    * clumps each shard's vnodes into a sliver and the rebalance
    * measurement reads 0. Multiplying by a large A spreads
    * consecutive residues ~2A apart around the modulus; still plain
    * BIGINT arithmetic the oracle replays. */
  private val MixA = 2654435761L % P
  private val MixB = 40503L
  private def mix(h0: Long): Long = (MixA * h0 + MixB) % P

  /** Consistent-hash ring for `shards` shards × `vnodes` vnodes:
    * (position, shard) sorted by position. Positions are
    * mix(polyHash62("ring-<shard>-<vnode>") % P) — spread-remixed,
    * replayable in SQL. O(shards·vnodes) literals, computed once at
    * plan build; the per-key successor lookup is a pure projection
    * over this literal array (no join, no shuffle). */
  private[graft] def ring(shards: Int, vnodes: Int): Seq[(Long, Int)] =
    (for (s <- 0 until shards; v <- 0 until vnodes)
      yield (mix(math.floorMod(poly(s"ring-$s-$v"), P)), s)).sortBy(_._1)

  /** Successor-shard column: smallest ring position >= h, wrapping to
    * the ring's global minimum; equal-position ties to the smallest
    * shard. r15: the filter+array_min HOF form was CodegenFallback
    * (boxed per-element lambda eval, ~24 µs/row on q269) — now a
    * native codegen'd binary search over the sorted literal ring
    * ([[graft.plans.RingExpressions.ringSuccessor]]), bit-identical
    * semantics (RingSpec pins the HOF form == kernel on adversarial
    * rings). */
  private def ringShard(h: org.apache.spark.sql.Column,
                        r: Seq[(Long, Int)]): org.apache.spark.sql.Column =
    graft.plans.RingExpressions.ringSuccessor(h, r)

  /** Replayable WIDE MinHash signatures (id, m0..m63): h0 =
    * polyHash62(shingle) % P, then the affine family hv_i =
    * (a_i·h0 + b_i) % P with a_i = ((2654435761 % P)·(i+1)) % P and
    * b_i = (40503·(i+1)) % P — every step < 2^63, so DuckDB replays
    * it with plain BIGINT arithmetic (unlike the xxhash64 family the
    * production LSH path uses). Scale shape mirrors the production
    * [[Dedup.minhashSignatures]]: ONE partial-agg'd groupBy(id) with
    * 64 min columns over the exploded shingle rows — NOT a 64×
    * row fan-out (the first cut shuffled |shingles|·64 rows into a
    * (doc, i) groupBy and benched 5.0 s at sf0.1; this shape
    * aggregates map-side and shuffles only per-doc partials). */
  private[graft] def replayableMinhash(docs: DataFrame, idCol: String,
                                       shCol: String): DataFrame = {
    val shl = docs.select(F.col(idCol).as("id"),
        F.explode(F.col(shCol)).as("sv"))
      .withColumn("h0", F.pmod(TextExpressions.polyHash62(F.col("sv")),
        F.lit(P)))
      .drop("sv")
    val mins = (0 until 64).map { i =>
      val a = (2654435761L % P) * (i + 1) % P
      val b = 40503L * (i + 1) % P
      F.min((F.lit(a) * F.col("h0") + F.lit(b)) % P).as(s"m$i")
    }
    shl.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RFM segmentation — recency/frequency/monetary quintiles per
    // customer, the classic CRM scoring grid. All three quintiles are
    // exact global ranks via the distributed range-partition
    // row-number (no single-task window); monetary is summed in exact
    // CENTS so rank order is bit-identical across engines. Quintile
    // q = ((rank-1)·5 div n) + 1 — integer arithmetic, no ntile
    // tie-ambiguity. r_q=5 means most recent, f_q/m_q=5 most
    // frequent/valuable.
    "q264_rfm" -> { (s, dir) =>
      val base = T.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max(F.col("o_orderdate").cast("date")).as("last_date"),
          F.count(F.lit(1)).as("freq"),
          F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .as("cents"))
      val r1 = RelOps.globalRowNumber(base, "rr",
        Seq(Ordering("last_date"), Ordering("o_custkey")))
      val r2 = RelOps.globalRowNumber(r1, "fr",
        Seq(Ordering("freq"), Ordering("o_custkey")))
      val r3 = RelOps.globalRowNumber(r2, "mr",
        Seq(Ordering("cents"), Ordering("o_custkey")))
      val n = base.agg(F.count(F.lit(1)).as("n"))
      r3.crossJoin(F.broadcast(n))
        .select(F.col("o_custkey"),
          F.expr("((rr - 1) * 5) div n + 1").as("r_q"),
          F.expr("((fr - 1) * 5) div n + 1").as("f_q"),
          F.expr("((mr - 1) * 5) div n + 1").as("m_q"),
          F.expr("(((rr - 1) * 5) div n + 1) * 100 " +
            "+ (((fr - 1) * 5) div n + 1) * 10 " +
            "+ (((mr - 1) * 5) div n + 1)").as("rfm_code"))
    },

    // Simpson's-paradox detector: per-group OLS slope SIGN vs the
    // pooled slope sign of (discount → extendedprice). Slope sign =
    // sign(n·Σxy − Σx·Σy); x in exact hundredths, y in exact cents,
    // and the n·Σ products ride DECIMAL(38) so the arithmetic stays
    // exact at any scale factor (int64 overflows near sf1). One
    // partial-agg'd groupBy + one scalar agg, broadcast-joined.
    "q265_simpson" -> { (s, dir) =>
      val li = T.load(s, dir, "lineitem")
        .select(F.col("l_returnflag").as("grp"),
          F.round(F.col("l_discount") * 100).cast("long").as("x"),
          F.round(F.col("l_extendedprice") * 100).cast("long").as("y"))
      def moments(df: DataFrame, keys: Seq[String]): DataFrame = {
        val g = if (keys.isEmpty) df.groupBy() else
          df.groupBy(keys.map(F.col): _*)
        // DECIMAL(38) before the sum: Σxy outgrows int64 near sf1000
        val (dx, dy) = (F.col("x").cast(DecimalType(38, 0)),
          F.col("y").cast(DecimalType(38, 0)))
        g.agg(F.count(F.lit(1)).cast(DecimalType(38, 0)).as("n"),
          F.sum(dx).as("sx"), F.sum(dy).as("sy"),
          F.sum(dx * dy).as("sxy"))
      }
      val per = moments(li, Seq("grp"))
        .withColumn("num_g", F.col("n") * F.col("sxy")
          - F.col("sx") * F.col("sy"))
      val pooled = moments(li, Seq.empty)
        .select((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
          .as("num_p"))
      per.crossJoin(F.broadcast(pooled))
        .select(F.col("grp"), F.col("n").cast("long").as("n"),
          F.signum(F.col("num_g").cast("double")).cast("long")
            .as("slope_sign_group"),
          F.signum(F.col("num_p").cast("double")).cast("long")
            .as("slope_sign_pooled"),
          (F.signum(F.col("num_g").cast("double")) =!=
            F.signum(F.col("num_p").cast("double"))).as("simpson_flip"))
    },

    // LSH recall audit — the measurement behind q41's banding choice:
    // for EXACT Jaccard pairs at τ >= 0.5 (prefix-filter all-pairs,
    // q157's lossless machinery), which does a 16-band × 4-row MinHash
    // LSH actually catch, bucketed by true Jaccard? Uses the
    // REPLAYABLE hash family (polyHash62 + affine mod P) so the oracle
    // rebuilds the very same signatures — the production xxhash64
    // family is statistically identical but not SQL-expressible.
    // Expected shape: recall ≈ 1 − (1 − j⁴)¹⁶ — near-0 at 0.5, near-1
    // at 0.85+ — the quantitative justification for NearDupJ = 0.85.
    "q266_lsh_recall" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val exact = Dedup.jaccardPairsPrefix(docs, "doc_id", "sh", 1, 2)
      val sig = replayableMinhash(docs, "doc_id", "sh")
      // 16 band keys per doc, straight from the wide signature row —
      // a projection + explode, no second aggregation
      val bands = sig.select(F.col("id"), F.explode(F.array(
          (0 until 16).map(bd => F.struct(F.lit(bd).as("band"),
            F.col(s"m${bd * 4}").as("m0"),
            F.col(s"m${bd * 4 + 1}").as("m1"),
            F.col(s"m${bd * 4 + 2}").as("m2"),
            F.col(s"m${bd * 4 + 3}").as("m3"))): _*)).as("bs"))
        .select(F.col("id"), F.col("bs.band").as("band"),
          F.col("bs.m0").as("m0"), F.col("bs.m1").as("m1"),
          F.col("bs.m2").as("m2"), F.col("bs.m3").as("m3"))
      val cand = bands.as("x").join(bands.as("y"),
          F.col("x.band") === F.col("y.band") &&
          F.col("x.m0") === F.col("y.m0") &&
          F.col("x.m1") === F.col("y.m1") &&
          F.col("x.m2") === F.col("y.m2") &&
          F.col("x.m3") === F.col("y.m3") &&
          F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").as("id1"), F.col("y.id").as("id2"))
        .distinct()
        .withColumn("caught", F.lit(1L))
      exact.join(cand, Seq("id1", "id2"), "left")
        .withColumn("bucket",
          F.floor(F.least(F.col("jac"), F.lit(0.999)) * 10).cast("long"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_pairs"),
          F.sum(F.coalesce(F.col("caught"), F.lit(0L))).as("n_caught"))
        .withColumn("recall",
          (F.floor((F.col("n_caught") / F.col("n_pairs").cast("double")) * 1e6 + 0.5) / 1e6))
    },

    // Decile lift / gains table — the model-scoring report: users
    // ranked by engagement spend (exact cents, non-purchase events),
    // label = converted (any purchase). Global decile via the
    // distributed row-number; the 10-row cumulative is a broadcast
    // triangular self-join, NOT a global window (single=0 holds).
    "q267_decile_lift" -> { (s, dir) =>
      val e = T.load(s, dir, "events")
      val score = e.filter(F.col("event_type") =!= "purchase")
        .groupBy("user_id")
        .agg(F.sum((F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long"))
          .as("cents"))
      val label = e.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id")).distinct()
        .withColumn("pos", F.lit(1L))
      val ranked = RelOps.globalRowNumber(
        score.join(label, Seq("user_id"), "left")
          .withColumn("pos", F.coalesce(F.col("pos"), F.lit(0L))),
        "rk", Seq(Ordering("cents", desc = true), Ordering("user_id")))
      val n = ranked.agg(F.count(F.lit(1)).as("n"),
        F.sum("pos").as("tot_pos"))
      val dec = ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", F.expr("((rk - 1) * 10) div n + 1"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).as("n_users"),
          F.sum("pos").as("n_pos"),
          F.max("tot_pos").as("__tp"))
        // pin: measured — unpinned 1.30 vs 1.07 s, local[32]
        .localCheckpoint() // 10 rows; consumed twice by the cum join
      val prior = dec.select(F.col("decile").as("__d2"),
        F.col("n_pos").as("__np2"))
      dec.join(F.broadcast(prior), F.col("__d2") <= F.col("decile"))
        .groupBy("decile")
        .agg(F.max("n_users").as("n_users"),
          F.max("n_pos").as("n_pos"),
          (F.floor((F.max("n_pos") / F.max("n_users").cast("double")) * 1e6 + 0.5) / 1e6)
            .as("pos_rate"),
          (F.floor((F.sum("__np2") / F.max("__tp").cast("double")) * 1e6 + 0.5) / 1e6)
            .as("cum_capture"))
    },

    // Covariate balance audit (standardized mean difference) between
    // the two experiment arms (user_id % 2 — the q257 assignment):
    // the pre-test check CUPED (q243) and SRM (q257) assume. Exact
    // integer moment sums per arm; SMD = (μ_t − μ_c) /
    // sqrt((v_t + v_c) / 2) in doubles only at the final projection.
    // |SMD| <= 0.1 is the conventional balance bar.
    "q268_covariate_balance" -> { (s, dir) =>
      val per = T.load(s, dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).as("n_events"),
          F.count_distinct(F.col("ts").cast("date")).as("active_days"),
          F.sum((F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long"))
            .as("value_cents"))
        .withColumn("variant", F.col("user_id") % 2)
        // pin: measured — unpinned 1.71 vs 1.34 s, local[32]
        .localCheckpoint() // three covariate passes share one scan
      def smd(col: String): DataFrame = {
        // cast BEFORE multiplying: long² overflows near sf1000 for
        // value_cents; DECIMAL(38) keeps the moment sums exact
        val d = F.col(col).cast(DecimalType(38, 0))
        val m = per.groupBy("variant")
          .agg(F.count(F.lit(1)).as("n"),
            F.sum(d).as("sx"),
            F.sum(d * d).as("sxx"))
          .withColumn("mu", F.col("sx").cast("double") / F.col("n"))
          .withColumn("v", (F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
              / F.col("n")) / (F.col("n") - 1))
        val t = m.filter(F.col("variant") === 1)
          .select(F.col("mu").as("mu_t"), F.col("v").as("v_t"))
        val c = m.filter(F.col("variant") === 0)
          .select(F.col("mu").as("mu_c"), F.col("v").as("v_c"))
        t.crossJoin(c).select(
          F.lit(col).as("covariate"),
          (F.floor((F.col("mu_t")) * 1e6 + 0.5) / 1e6).as("mu_t"),
          (F.floor((F.col("mu_c")) * 1e6 + 0.5) / 1e6).as("mu_c"),
          (F.floor(((F.col("mu_t") - F.col("mu_c"))
            / F.sqrt((F.col("v_t") + F.col("v_c")) / 2)) * 1e6 + 0.5) / 1e6).as("smd"))
          .withColumn("balanced", F.abs(F.col("smd")) <= 0.1)
      }
      smd("n_events").unionAll(smd("active_days"))
        .unionAll(smd("value_cents"))
    },

    // Shard-rebalance cost: when a cluster grows 8 → 10 shards, what
    // fraction of keys MOVE under hash-mod placement vs a consistent
    // ring (16 vnodes/shard)? Mod reshuffles ~90% of keys; the ring
    // moves only the slice claimed by the new shards' vnodes (~2/10)
    // — the quantitative case for consistent hashing in any stateful
    // sharded system. The successor lookup is a pure projection over
    // a literal (position, shard) array — no join, no shuffle; ring
    // positions are polyHash62 literals the oracle recomputes.
    "q269_ring_rebalance" -> { (s, dir) =>
      val rb = ring(8, 16)
      val ra = ring(10, 16)
      val keys = T.load(s, dir, "orders")
        .select(F.col("o_orderkey"))
        .withColumn("h", (F.lit(MixA) * F.pmod(TextExpressions.polyHash62(
          F.concat(F.lit("k"), F.col("o_orderkey").cast("string"))),
          F.lit(P)) + MixB) % P)
        .withColumn("mod_moved",
          (F.col("h") % 8 =!= F.col("h") % 10).cast("long"))
        .withColumn("ring_moved",
          (ringShard(F.col("h"), rb) =!= ringShard(F.col("h"), ra))
            .cast("long"))
      keys.agg(F.count(F.lit(1)).as("n_keys"),
          F.sum("mod_moved").as("__mm"), F.sum("ring_moved").as("__rm"))
        .select(F.explode(F.array(
          F.struct(F.lit("mod").as("method"), F.col("n_keys"),
            F.col("__mm").as("n_moved"),
            (F.floor((F.col("__mm") / F.col("n_keys").cast("double")) * 1e6 + 0.5) / 1e6)
              .as("moved_frac")),
          F.struct(F.lit("ring").as("method"), F.col("n_keys"),
            F.col("__rm").as("n_moved"),
            (F.floor((F.col("__rm") / F.col("n_keys").cast("double")) * 1e6 + 0.5) / 1e6)
              .as("moved_frac")))).as("r"))
        .select("r.method", "r.n_keys", "r.n_moved", "r.moved_frac")
    },

    // PSI drift — population stability index of the event mix between
    // the first half of January and the rest, per feature (hour-of-
    // day, day-of-week, event type). Laplace-smoothed over the UNION
    // of observed bins (p = (c+1)/(tot+nb)) so a bin vanishing from
    // one period contributes finite, defined mass. PSI > 0.2 is the
    // conventional "investigate" bar. Exact integer counts; ln only
    // at the per-bin term.
    "q270_psi_drift" -> { (s, dir) =>
      // ONE pass over events: each event explodes into its three
      // (feature, bin) codes, one partial-agg'd groupBy produces the
      // ≤(24+7+types)×2 count grid — everything downstream is
      // bin-level (tiny), so the event-sized data is shuffled exactly
      // once regardless of how many features the audit tracks.
      val codes = T.load(s, dir, "events")
        .withColumn("period",
          F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0)
            .otherwise(1))
        .select(F.col("period"), F.explode(F.array(
          F.struct(F.lit("hour").as("feature"),
            F.hour(F.col("ts")).cast("string").as("bin")),
          F.struct(F.lit("dow").as("feature"),
            F.dayofweek(F.col("ts")).cast("string").as("bin")),
          F.struct(F.lit("event_type").as("feature"),
            F.col("event_type").as("bin")))).as("fb"))
        .select(F.col("fb.feature").as("feature"),
          F.col("fb.bin").as("bin"), F.col("period"))
      val cnt = codes.groupBy("feature", "bin", "period")
        .agg(F.count(F.lit(1)).as("c"))
        // pin: measured — unpinned 2.08 vs 1.42 s, local[32]
        .localCheckpoint() // ≤72 rows; consumed by 3 downstream passes
      val bins = cnt.select("feature", "bin").distinct()
      val tot = cnt.groupBy("feature", "period").agg(F.sum("c").as("tot"))
      val nb = bins.groupBy("feature").agg(F.count(F.lit(1)).as("nb"))
      val grid = bins.join(tot, Seq("feature"))
        .join(cnt, Seq("feature", "bin", "period"), "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0L)))
        .join(F.broadcast(nb), Seq("feature"))
        .withColumn("p", (F.col("c") + 1)
          / (F.col("tot") + F.col("nb")).cast("double"))
      val a = grid.filter(F.col("period") === 0)
        .select(F.col("feature"), F.col("bin"), F.col("p").as("pa"),
          F.col("nb").as("n_bins"))
      val b = grid.filter(F.col("period") === 1)
        .select(F.col("feature"), F.col("bin"), F.col("p").as("pb"))
      a.join(b, Seq("feature", "bin"))
        .groupBy("feature")
        .agg(F.max("n_bins").as("n_bins"),
          (F.floor((F.sum((F.col("pa") - F.col("pb"))
            * F.log(F.col("pa") / F.col("pb")))) * 1e6 + 0.5) / 1e6).as("psi"))
        .withColumn("drifted", F.col("psi") > 0.2)
    },

    // Leakage-safe horizon labels — the label-generation step of a
    // churn/conversion model: for every non-purchase event, did the
    // user purchase within the NEXT 7 days (inclusive of same-second)?
    // One forward as-of join (single shuffle) instead of the naive
    // per-user event × purchase join; the horizon bound is a per-row
    // projection on the carried next-purchase timestamp.
    "q271_horizon_labels" -> { (s, dir) =>
      val e = T.load(s, dir, "events")
        .select(F.col("event_id"), F.col("user_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("tsec"),
          F.col("event_type"))
      val purch = e.filter(F.col("event_type") === "purchase")
        .groupBy("user_id", "tsec").agg(F.count(F.lit(1)).as("__c"))
        .select(F.col("user_id"), F.col("tsec"),
          F.col("tsec").as("pts"))
      val left = e.filter(F.col("event_type") =!= "purchase")
        .select("event_id", "user_id", "tsec", "event_type")
      AsOfJoin.forward(left, purch,
          keyCols = Seq("user_id"), tsCol = "tsec",
          valueCols = Seq("pts"))
        .select(F.col("event_id"), F.col("user_id"), F.col("event_type"),
          (F.col("asof_pts").isNotNull &&
            F.col("asof_pts") - F.col("tsec") <= 604800L).as("label"))
    },

    // Degree assortativity of the customer–supplier bipartite graph:
    // Pearson correlation between endpoint degrees across edges — do
    // high-volume customers concentrate on high-volume suppliers
    // (r > 0) or spread across the long tail (r < 0)? Degrees and all
    // moment sums are exact integers riding DECIMAL(38); one distinct
    // + two degree aggs + one scalar agg.
    "q272_degree_assort" -> { (s, dir) =>
      val edges = T.load(s, dir, "orders")
        .join(T.load(s, dir, "lineitem"),
          F.col("o_orderkey") === F.col("l_orderkey"))
        .select(F.col("o_custkey").as("c"), F.col("l_suppkey").as("sp"))
        .distinct()
        // pin: measured — unpinned 4.18 vs 2.69 s, local[32]
        .localCheckpoint() // feeds both degree aggs and the final join
      val dc = edges.groupBy("c").agg(F.count(F.lit(1)).as("x"))
      val ds = edges.groupBy("sp").agg(F.count(F.lit(1)).as("y"))
      // cast BEFORE multiplying — degree products outgrow int64 well
      // below the sums' own overflow point at large scale factors
      val (dx, dy) = (F.col("x").cast(DecimalType(38, 0)),
        F.col("y").cast(DecimalType(38, 0)))
      val m = edges.join(dc, "c").join(ds, "sp")
        .agg(F.count(F.lit(1)).cast(DecimalType(38, 0)).as("n"),
          F.sum(dx).as("sx"), F.sum(dy).as("sy"),
          F.sum(dx * dy).as("sxy"),
          F.sum(dx * dx).as("sxx"),
          F.sum(dy * dy).as("syy"))
      m.select(F.col("n").cast("long").as("n_edges"),
        (F.floor(((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
          .cast("double")
          / F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
              .cast("double"))) * 1e6 + 0.5) / 1e6).as("assortativity"))
    },

    // SPRT sequential monitor — the peeking-safe A/B decision path:
    // daily B-arm (user_id % 2 = 1) purchase rate tested as
    // H0: p = 0.18 vs H1: p = 0.22, cumulative log-likelihood ratio
    // by day with Wald's ±ln(19) boundaries (α = β = 0.05). The
    // cumulative is a broadcast triangular self-join over the ~30-row
    // daily relation (single=0); the decision compares the 6-dp-
    // ROUNDED cum_llr so both engines decide from the same value.
    "q273_sprt_monitor" -> { (s, dir) =>
      val daily = T.load(s, dir, "events")
        .filter(F.col("user_id") % 2 === 1)
        .groupBy(F.to_date(F.col("ts")).as("day"))
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.when(F.col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("x"))
        .withColumn("llr", F.col("x") * F.log(F.lit(0.22) / F.lit(0.18))
          + (F.col("n") - F.col("x"))
            * F.log((F.lit(1.0) - 0.22) / (F.lit(1.0) - 0.18)))
      daily.as("a").join(F.broadcast(daily.as("b")),
          F.col("b.day") <= F.col("a.day"))
        .groupBy(F.col("a.day").as("day"))
        .agg(F.max(F.col("a.x")).as("x"), F.max(F.col("a.n")).as("n"),
          F.round(F.sum(F.col("b.llr")), 6).as("cum_llr"))
        .withColumn("decision",
          F.when(F.col("cum_llr") >= F.log(F.lit(19.0)), "accept_h1")
            .when(F.col("cum_llr") <= -F.log(F.lit(19.0)), "accept_h0")
            .otherwise("continue"))
    },

    // ---- wave 21 ------------------------------------------------------

    // Differentially-private-STYLE noisy release of (nation, priority)
    // order counts: count + Laplace(sensitivity/ε) noise, ε = 0.5.
    // The noise is DETERMINISTIC — inverse-CDF applied to a
    // hash-uniform u per group key — so the release is reproducible
    // AND oracle-verifiable; a production mechanism would swap the
    // hash for a CSPRNG draw (one-line change) without touching the
    // query shape. Group counts partial-agg map-side; the noise is a
    // per-group projection.
    "q274_dp_noise" -> { (s, dir) =>
      val ords = T.load(s, dir, "orders")
        .join(T.load(s, dir, "customer"),
          F.col("o_custkey") === F.col("c_custkey"))
        .join(F.broadcast(T.load(s, dir, "nation")),
          F.col("c_nationkey") === F.col("n_nationkey"))
        .groupBy(F.col("n_name").as("nation"),
          F.col("o_orderpriority").as("priority"))
        .agg(F.count(F.lit(1)).as("n"))
      ords
        .withColumn("__h", F.pmod(TextExpressions.polyHash62(
          F.concat(F.col("nation"), F.lit("|"), F.col("priority"))),
          F.lit(1000003L)))
        .withColumn("__u", (F.col("__h") + 1) / F.lit(1000005.0))
        .withColumn("noisy_n", F.round(F.col("n")
          - F.lit(2.0) * F.signum(F.col("__u") - 0.5)
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(F.col("__u") - 0.5)),
          6))
        .select(F.col("nation"), F.col("priority"), F.col("noisy_n"),
          F.lit(0.5).as("epsilon"))
    },

    // Dedup savings report — the curation-economics view of q79's
    // near-dup clusters: per cluster-size bucket, how many clusters,
    // how many docs a keep-one policy (keep smallest doc_id — q222's
    // canonical-pick convention) removes, and how many chars it
    // saves. Singletons join in as size-1 clusters (0 saved), so the
    // report covers the WHOLE corpus, not just paired docs.
    "q275_dedup_savings" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh",
        PipelineQueries.NearDupJ)
      val comp = Dedup.connectedComponents(pairs.select("id1", "id2"))
      val cl = docs.select(F.col("doc_id"), F.col("n_chars"))
        .join(comp.select(F.col("id").as("doc_id"), F.col("comp")),
          Seq("doc_id"), "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col("doc_id")))
        .groupBy("comp")
        .agg(F.count(F.lit(1)).as("sz"),
          F.sum("n_chars").as("chars"),
          F.min(F.struct(F.col("doc_id"), F.col("n_chars")))
            .getField("n_chars").as("kept_chars"))
      cl.groupBy("sz")
        .agg(F.count(F.lit(1)).as("n_clusters"),
          F.sum(F.col("sz") - 1).cast("long").as("docs_removed"),
          F.sum(F.col("chars") - F.col("kept_chars")).cast("long")
            .as("chars_saved"))
    },

    // Language-mix rebalancing weights (the mixture step of corpus
    // curation): per language, its exact char share and the
    // multiplicative weight that moves the mix to the UNIFORM target
    // (weight = target/actual — DoReMi-style reweighting with a fixed
    // target). Exact integer char sums; one partial-agg'd groupBy +
    // broadcast totals.
    "q276_lang_rebalance" -> { (s, dir) =>
      val per = T.load(s, dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_chars").cast("long").as("chars"))
      val tot = per.agg(F.sum("chars").cast("long").as("tot"),
        F.count(F.lit(1)).as("nl"))
      per.crossJoin(F.broadcast(tot))
        .select(F.col("lang"), F.col("n_docs"), F.col("chars"),
          (F.floor((F.col("chars") / F.col("tot").cast("double")) * 1e6 + 0.5) / 1e6)
            .as("actual_share"),
          (F.floor(((F.lit(1.0) / F.col("nl"))
            / (F.col("chars") / F.col("tot").cast("double"))) * 1e6 + 0.5) / 1e6)
            .as("weight"))
    },

    // Funnel conversion with Wilson 95% intervals — q136's
    // view→click→purchase funnel plus the uncertainty a decision
    // needs at ANY corpus size: the Wilson score interval is exact
    // closed-form arithmetic on the stage counts (no bootstrap, no
    // RNG), so tiny segments get honestly-wide bounds. Stage counts
    // are one pass each over the compact per-user min-times.
    "q277_funnel_wilson" -> { (s, dir) =>
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
      val counts = t1.agg(F.count(F.lit(1)).as("n1"))
        .crossJoin(t2.agg(F.count(F.lit(1)).as("n2")))
        .crossJoin(t3.agg(F.count(F.lit(1)).as("n3")))
      def wilson(x: org.apache.spark.sql.Column,
                 n: org.apache.spark.sql.Column) = {
        val z = F.lit(1.959964)
        val p = x / n.cast("double")
        val den = F.lit(1.0) + z * z / n
        val ctr = (p + z * z / (n * 2)) / den
        // n promoted to double BEFORE squaring: long n*n wraps int64
        // above ~1.5e9 stage counts (Spark wraps silently; DuckDB
        // raises) — same promotion on the oracle side.
        val half = z * F.sqrt(p * (F.lit(1.0) - p) / n
          + z * z / (n.cast("double") * n * 4)) / den
        ((F.floor((p) * 1e6 + 0.5) / 1e6), (F.floor((ctr - half) * 1e6 + 0.5) / 1e6), (F.floor((ctr + half) * 1e6 + 0.5) / 1e6))
      }
      val (p1, lo1, hi1) = wilson(F.col("n2"), F.col("n1"))
      val (p2, lo2, hi2) = wilson(F.col("n3"), F.col("n2"))
      counts.select(F.explode(F.array(
          F.struct(F.lit("view_to_click").as("stage"),
            F.col("n2").as("x"), F.col("n1").as("n"),
            p1.as("p"), lo1.as("lo"), hi1.as("hi")),
          F.struct(F.lit("click_to_purchase").as("stage"),
            F.col("n3").as("x"), F.col("n2").as("n"),
            p2.as("p"), lo2.as("lo"), hi2.as("hi")))).as("r"))
        .select("r.stage", "r.x", "r.n", "r.p", "r.lo", "r.hi")
    },

    // ANN quality eval — recall@10 and MRR of the IVF index (q46's
    // deterministic routing, nprobe=3) against brute-force exact
    // cosine ground truth, per query over the first 50 query vectors.
    // The measurement every similarity-search deployment needs before
    // trusting its index; both sides reuse the library's kNN
    // machinery, the eval itself is two bounded joins on
    // (query, neighbor) keys.
    "q278_ann_recall" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      val qs = emb.filter(F.col("vec_id") < 50)
      val brute = Knn.bruteForceKnn(emb, qs, "vec_id", "embedding", 10)
        .select(F.col("query_id"), F.col("neighbor_id"),
          F.col("rank").as("brank"))
      val ivf = Knn.ivfKnn(emb, qs, "vec_id", "embedding", "label",
          10, 3)
        .select(F.col("query_id"), F.col("neighbor_id"),
          F.col("rank").as("irank"))
      val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
      val recall = hits.groupBy("query_id")
        .agg((F.count(F.col("irank")) / 10.0).as("recall10"))
      val mrr = hits.filter(F.col("brank") === 1)
        .select(F.col("query_id"),
          (F.floor((F.coalesce(F.lit(1.0) / F.col("irank"), F.lit(0.0))) * 1e6 + 0.5) / 1e6)
            .as("mrr"))
      recall.join(mrr, "query_id")
        .select(F.col("query_id"), F.col("recall10"), F.col("mrr"))
    },

    // Corpus-mixture solver (DoReMi-lite): 5 rounds of exponentiated-
    // gradient descent on the domain weights, stepping against each
    // domain's weighted char load — big domains get downweighted until
    // the weighted mix evens out. Same iterative-oracle discipline as
    // q231's Bradley-Terry fit: per-iteration 8-dp rounding keeps both
    // engines on identical state, and the oracle unrolls the 5 rounds
    // as MATERIALIZED CTEs. Iteration state is an O(domains) relation;
    // corpus size enters once, through the partial-agg'd char sums.
    "q279_mixture_descent" -> { (s, dir) =>
      val doms = T.load(s, dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").as("chars"))
        // pin: measured — unpinned 2.53 vs 1.57 s, local[32]
        .localCheckpoint() // O(domains) rows; consumed by 5 rounds
      val nd = doms.agg(F.count(F.lit(1)).as("nd"))
      var w = doms.crossJoin(F.broadcast(nd))
        .select(F.col("source"),
          (F.floor((F.lit(1.0) / F.col("nd")) * 1e8 + 0.5) / 1e8).as("wt"))
        .localCheckpoint() // pin: measured — unpinned 2.53 vs 1.57 s, local[32]
      for (_ <- 1 to 5) {
        val j = w.join(doms, "source")
        val tot = j.agg(F.sum(F.col("wt") * F.col("chars")).as("tot"))
        val stepped = j.crossJoin(F.broadcast(tot))
          .withColumn("w2", F.col("wt") * F.exp(F.lit(-2.0)
            * (F.col("wt") * F.col("chars") / F.col("tot"))))
        val sw = stepped.agg(F.sum("w2").as("sw"))
        w = stepped.crossJoin(F.broadcast(sw))
          .select(F.col("source"), (F.floor((F.col("w2") / F.col("sw")) * 1e8 + 0.5) / 1e8)
            .as("wt"))
          // pin: correctness — double sums; the next round reads it twice
          .localCheckpoint()
      }
      val jf = w.join(doms, "source")
      val totF = jf.agg(F.sum(F.col("wt") * F.col("chars")).as("tot"))
      jf.crossJoin(F.broadcast(totF))
        .select(F.col("source"), F.col("chars"),
          (F.floor((F.col("wt")) * 1e6 + 0.5) / 1e6).as("wt"),
          (F.floor((F.col("wt") * F.col("chars") / F.col("tot")) * 1e6 + 0.5) / 1e6)
            .as("load_share"))
    }
  )

  // =====================================================================

  def oracleSql: Map[String, String] = Map(

    "q264_rfm" ->
      """WITH b AS (SELECT o_custkey,
               max(CAST(o_orderdate AS DATE)) last_date,
               count(*) freq,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) cents
             FROM orders GROUP BY 1),
          n AS (SELECT count(*) n FROM b),
          r AS (SELECT o_custkey,
                  row_number() OVER (ORDER BY last_date, o_custkey) rr,
                  row_number() OVER (ORDER BY freq, o_custkey) fr,
                  row_number() OVER (ORDER BY cents, o_custkey) mr
                FROM b)
          SELECT o_custkey,
            CAST((rr - 1) * 5 // n + 1 AS BIGINT) r_q,
            CAST((fr - 1) * 5 // n + 1 AS BIGINT) f_q,
            CAST((mr - 1) * 5 // n + 1 AS BIGINT) m_q,
            CAST(((rr - 1) * 5 // n + 1) * 100
              + ((fr - 1) * 5 // n + 1) * 10
              + ((mr - 1) * 5 // n + 1) AS BIGINT) rfm_code
          FROM r CROSS JOIN n""",

    "q265_simpson" ->
      """WITH li AS (SELECT l_returnflag grp,
               CAST(round(l_discount * 100) AS BIGINT) x,
               CAST(round(l_extendedprice * 100) AS BIGINT) y
             FROM lineitem),
          per AS (SELECT grp, count(*)::HUGEINT n,
                    sum(x)::HUGEINT sx, sum(y)::HUGEINT sy,
                    sum(x * y)::HUGEINT sxy
                  FROM li GROUP BY 1),
          pool AS (SELECT count(*)::HUGEINT n, sum(x)::HUGEINT sx,
                     sum(y)::HUGEINT sy, sum(x * y)::HUGEINT sxy
                   FROM li),
          sgn AS (SELECT grp, per.n,
                    sign(CAST(per.n * per.sxy - per.sx * per.sy
                         AS DOUBLE)) sg,
                    sign(CAST(pool.n * pool.sxy - pool.sx * pool.sy
                         AS DOUBLE)) sp
                  FROM per CROSS JOIN pool)
          SELECT grp, CAST(n AS BIGINT) n,
            CAST(sg AS BIGINT) slope_sign_group,
            CAST(sp AS BIGINT) slope_sign_pooled,
            sg != sp AS simpson_flip
          FROM sgn""",

    "q266_lsh_recall" -> s"""
      WITH toks AS MATERIALIZED (SELECT doc_id, $duckToks t
             FROM documents),
          sh AS MATERIALIZED (SELECT doc_id, $duckShingles3 s FROM toks),
          ex AS MATERIALIZED (
            SELECT a.doc_id id1, b.doc_id id2,
              floor((len(list_intersect(a.s, b.s)) /
                CAST(len(a.s) + len(b.s)
                     - len(list_intersect(a.s, b.s)) AS DOUBLE)) * 1e3 + 0.5) / 1e3 jac
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          exq AS MATERIALIZED (SELECT * FROM ex WHERE jac >= 0.5),
          h0 AS MATERIALIZED (
            SELECT doc_id, (${duckPoly("sv")}) % 2147483647 h0
            FROM (SELECT doc_id, unnest(s) sv FROM sh)),
          sig AS MATERIALIZED (
            SELECT doc_id, i,
              min((((2654435761 % 2147483647) * (i + 1)) % 2147483647
                   * h0 + (40503 * (i + 1)) % 2147483647)
                  % 2147483647) m
            FROM h0 CROSS JOIN (SELECT unnest(range(0, 64)) i)
            GROUP BY 1, 2),
          bands AS MATERIALIZED (
            SELECT doc_id, i // 4 band,
              min(CASE WHEN i % 4 = 0 THEN m END) m0,
              min(CASE WHEN i % 4 = 1 THEN m END) m1,
              min(CASE WHEN i % 4 = 2 THEN m END) m2,
              min(CASE WHEN i % 4 = 3 THEN m END) m3
            FROM sig GROUP BY 1, 2),
          cand AS MATERIALIZED (
            SELECT DISTINCT x.doc_id id1, y.doc_id id2
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
              AND x.m2 = y.m2 AND x.m3 = y.m3
              AND x.doc_id < y.doc_id)
          SELECT CAST(floor(least(jac, 0.999) * 10) AS BIGINT) bucket,
            count(*) n_pairs,
            CAST(sum(CASE WHEN cand.id1 IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) n_caught,
            floor((sum(CASE WHEN cand.id1 IS NOT NULL THEN 1 ELSE 0 END)
              / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 recall
          FROM exq LEFT JOIN cand USING (id1, id2)
          GROUP BY 1""",

    "q267_decile_lift" ->
      """WITH score AS (SELECT user_id,
               sum(CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT)) cents
             FROM events WHERE event_type != 'purchase' GROUP BY 1),
          lab AS (SELECT DISTINCT user_id FROM events
                  WHERE event_type = 'purchase'),
          u AS (SELECT s.user_id, s.cents,
                  CASE WHEN l.user_id IS NULL THEN 0 ELSE 1 END pos
                FROM score s LEFT JOIN lab l USING (user_id)),
          n AS (SELECT count(*) n, sum(pos) tp FROM u),
          r AS (SELECT u.*, row_number() OVER
                  (ORDER BY cents DESC, user_id) rk FROM u),
          d AS (SELECT CAST((rk - 1) * 10 // n + 1 AS BIGINT) decile,
                  count(*) n_users, sum(pos) n_pos, max(tp) tp
                FROM r CROSS JOIN n GROUP BY 1)
          SELECT a.decile, a.n_users, CAST(a.n_pos AS BIGINT) n_pos,
            floor((a.n_pos / CAST(a.n_users AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 pos_rate,
            floor((sum(b.n_pos) / CAST(max(a.tp) AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0
              cum_capture
          FROM d a JOIN d b ON b.decile <= a.decile
          GROUP BY a.decile, a.n_users, a.n_pos""",

    "q268_covariate_balance" ->
      """WITH per AS MATERIALIZED (
             SELECT user_id, user_id % 2 variant,
               count(*) n_events,
               count(DISTINCT CAST(ts AS DATE)) active_days,
               sum(CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT)) value_cents
             FROM events GROUP BY 1),
          uni AS (
            SELECT 'n_events' covariate, variant, count(*) n,
              sum(n_events) sx, sum(n_events * n_events) sxx
            FROM per GROUP BY 2
            UNION ALL
            SELECT 'active_days', variant, count(*), sum(active_days),
              sum(active_days * active_days) FROM per GROUP BY 2
            UNION ALL
            SELECT 'value_cents', variant, count(*), sum(value_cents),
              sum(value_cents * value_cents) FROM per GROUP BY 2),
          mv AS (SELECT covariate, variant,
                   CAST(sx AS DOUBLE) / n mu,
                   (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                   / (n - 1) v
                 FROM uni),
          w AS (SELECT t.covariate, t.mu mu_t, c.mu mu_c,
                  floor(((t.mu - c.mu) / sqrt((t.v + c.v) / 2)) * 1e6 + 0.5) / 1e6 + 0 smd
                FROM (SELECT * FROM mv WHERE variant = 1) t
                JOIN (SELECT * FROM mv WHERE variant = 0) c
                  USING (covariate))
          SELECT covariate, floor((mu_t) * 1e6 + 0.5) / 1e6 + 0 mu_t,
            floor((mu_c) * 1e6 + 0.5) / 1e6 + 0 mu_c, smd, abs(smd) <= 0.1 balanced
          FROM w""",

    "q269_ring_rebalance" -> s"""
      WITH ks AS MATERIALIZED (
             SELECT ((2654435761 % 2147483647)
               * ((${duckPoly("'k' || CAST(o_orderkey AS VARCHAR)")})
                  % 2147483647) + 40503) % 2147483647 h
             FROM orders),
          vn AS (SELECT s.st, vv.v
                 FROM range(0, 10) s(st), range(0, 16) vv(v)),
          ring AS MATERIALIZED (
            SELECT st,
              ((2654435761 % 2147483647)
               * ((${duckPoly(
                "'ring-' || CAST(st AS VARCHAR) || '-' || CAST(v AS VARCHAR)")})
                  % 2147483647) + 40503) % 2147483647 p
            FROM vn),
          rb AS (SELECT st, p FROM ring WHERE st < 8),
          ra AS (SELECT st, p FROM ring),
          minb AS (SELECT arg_min(st, p) s0 FROM rb),
          mina AS (SELECT arg_min(st, p) s0 FROM ra),
          succ AS (SELECT h,
              coalesce((SELECT arg_min(st, p) FROM rb WHERE p >= ks.h),
                (SELECT s0 FROM minb)) sb,
              coalesce((SELECT arg_min(st, p) FROM ra WHERE p >= ks.h),
                (SELECT s0 FROM mina)) sa
            FROM ks),
          agg AS (SELECT count(*) n_keys,
              sum(CASE WHEN h % 8 != h % 10 THEN 1 ELSE 0 END) mm,
              sum(CASE WHEN sb != sa THEN 1 ELSE 0 END) rm
            FROM succ)
          SELECT 'mod' AS method, n_keys, CAST(mm AS BIGINT) n_moved,
            floor((mm / CAST(n_keys AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 moved_frac
          FROM agg
          UNION ALL
          SELECT 'ring', n_keys, CAST(rm AS BIGINT),
            floor((rm / CAST(n_keys AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0
          FROM agg""",

    "q270_psi_drift" ->
      """WITH e AS MATERIALIZED (
             SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0
                    ELSE 1 END period,
               CAST(hour(ts) AS VARCHAR) AS hour,
               CAST(dayofweek(ts) + 1 AS VARCHAR) AS dow,
               event_type
             FROM events),
          f AS (SELECT 'hour' AS feature, period, hour AS bin FROM e
                UNION ALL SELECT 'dow', period, dow FROM e
                UNION ALL SELECT 'event_type', period, event_type FROM e),
          cnt AS (SELECT feature, bin, period, count(*) c
                  FROM f GROUP BY 1, 2, 3),
          bins AS (SELECT DISTINCT feature, bin FROM cnt),
          tot AS (SELECT feature, period, sum(c) tot
                  FROM cnt GROUP BY 1, 2),
          nb AS (SELECT feature, count(*) nb FROM bins GROUP BY 1),
          grid AS (SELECT b.feature, b.bin, t.period, t.tot,
                     coalesce(c.c, 0) c
                   FROM bins b JOIN tot t USING (feature)
                   LEFT JOIN cnt c ON c.feature = b.feature
                     AND c.bin = b.bin AND c.period = t.period),
          p AS (SELECT g.feature, g.bin, g.period,
                  (g.c + 1) / CAST(g.tot + nb.nb AS DOUBLE) p
                FROM grid g JOIN nb USING (feature)),
          j AS (SELECT a.feature, a.bin, a.p pa, b.p pb
                FROM (SELECT * FROM p WHERE period = 0) a
                JOIN (SELECT * FROM p WHERE period = 1) b
                  USING (feature, bin))
          SELECT j.feature, CAST(max(nb.nb) AS BIGINT) n_bins,
            floor((sum((pa - pb) * ln(pa / pb))) * 1e6 + 0.5) / 1e6 + 0 psi,
            floor((sum((pa - pb) * ln(pa / pb))) * 1e6 + 0.5) / 1e6 + 0 > 0.2 drifted
          FROM j JOIN nb ON nb.feature = j.feature
          GROUP BY 1""",

    "q271_horizon_labels" ->
      """WITH e AS MATERIALIZED (
             SELECT event_id, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) tsec, event_type
             FROM events),
          p AS MATERIALIZED (SELECT DISTINCT user_id, tsec FROM e
                             WHERE event_type = 'purchase')
          SELECT e.event_id, e.user_id, e.event_type,
            EXISTS (SELECT 1 FROM p
                    WHERE p.user_id = e.user_id
                      AND p.tsec >= e.tsec
                      AND p.tsec - e.tsec <= 604800) AS label
          FROM e WHERE e.event_type != 'purchase'""",

    "q272_degree_assort" ->
      """WITH edges AS MATERIALIZED (
             SELECT DISTINCT o_custkey c, l_suppkey sp
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          dc AS (SELECT c, count(*) x FROM edges GROUP BY 1),
          ds AS (SELECT sp, count(*) y FROM edges GROUP BY 1),
          m AS (SELECT count(*)::HUGEINT n, sum(x)::HUGEINT sx,
                  sum(y)::HUGEINT sy, sum(x * y)::HUGEINT sxy,
                  sum(x * x)::HUGEINT sxx, sum(y * y)::HUGEINT syy
                FROM edges JOIN dc USING (c) JOIN ds USING (sp))
          SELECT CAST(n AS BIGINT) n_edges,
            floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE))) * 1e6 + 0.5) / 1e6 + 0
              assortativity
          FROM m""",

    "q273_sprt_monitor" ->
      """WITH daily AS (
             SELECT CAST(ts AS DATE) AS day, count(*) n,
               sum(CASE WHEN event_type = 'purchase' THEN 1
                   ELSE 0 END) x
             FROM events WHERE user_id % 2 = 1 GROUP BY 1),
          l AS (SELECT day, n, x,
                  x * ln(0.22::DOUBLE / 0.18::DOUBLE)
                  + (n - x) * ln((1.0::DOUBLE - 0.22::DOUBLE)
                                 / (1.0::DOUBLE - 0.18::DOUBLE)) llr
                FROM daily),
          c AS (SELECT a.day, max(a.x) x, max(a.n) n,
                  round(sum(b.llr), 6) + 0 cum_llr
                FROM l a JOIN l b ON b.day <= a.day
                GROUP BY a.day)
          SELECT day, CAST(x AS BIGINT) x, n, cum_llr,
            CASE WHEN cum_llr >= ln(19.0) THEN 'accept_h1'
                 WHEN cum_llr <= -ln(19.0) THEN 'accept_h0'
                 ELSE 'continue' END decision
          FROM c""",

    "q274_dp_noise" -> s"""
      WITH g AS (SELECT n_name AS nation, o_orderpriority AS priority,
               count(*) n
             FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             GROUP BY 1, 2),
          h AS (SELECT nation, priority, n,
                  (${duckPoly("nation || '|' || priority")}) % 1000003 hh
                FROM g),
          u AS (SELECT nation, priority, n,
                  (hh + 1) / 1000005.0 u FROM h)
          SELECT nation, priority,
            round(n - 2.0 * sign(u - 0.5)
              * ln(1.0 - 2.0 * abs(u - 0.5)), 6) + 0 AS noisy_n,
            CAST(0.5 AS DOUBLE) AS epsilon
          FROM u""",

    "q275_dedup_savings" -> s"""
      WITH cc AS MATERIALIZED (${PipelineQueries.duckCcClusters}),
          j AS (SELECT d.doc_id, d.n_chars,
                  coalesce(cc.comp, d.doc_id) comp
                FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
          cl AS (SELECT comp, count(*) sz, sum(n_chars) chars,
                   arg_min(n_chars, doc_id) kept_chars
                 FROM j GROUP BY 1)
          SELECT sz, count(*) n_clusters,
            CAST(sum(sz - 1) AS BIGINT) docs_removed,
            CAST(sum(chars - kept_chars) AS BIGINT) chars_saved
          FROM cl GROUP BY 1""",

    "q276_lang_rebalance" ->
      """WITH per AS (SELECT lang, count(*) n_docs,
               CAST(sum(n_chars) AS BIGINT) chars
             FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(chars) AS BIGINT) tot, count(*) nl
                  FROM per)
          SELECT lang, n_docs, chars,
            floor((chars / CAST(tot AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 AS actual_share,
            floor(((1.0::DOUBLE / nl)
              / (chars / CAST(tot AS DOUBLE))) * 1e6 + 0.5) / 1e6 + 0 AS weight
          FROM per CROSS JOIN tot""",

    "q277_funnel_wilson" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) sec FROM events),
          t1 AS (SELECT user_id, min(sec) t1 FROM e
                 WHERE event_type = 'view' GROUP BY 1),
          t2 AS (SELECT e.user_id, min(e.sec) t2
                 FROM e JOIN t1 ON e.user_id = t1.user_id
                 WHERE e.event_type = 'click' AND e.sec >= t1.t1
                   AND e.sec <= t1.t1 + 86400 GROUP BY 1),
          t3 AS (SELECT e.user_id, min(e.sec) t3
                 FROM e JOIN t2 ON e.user_id = t2.user_id
                 WHERE e.event_type = 'purchase' AND e.sec >= t2.t2
                   AND e.sec <= t2.t2 + 86400 GROUP BY 1),
          c AS (SELECT (SELECT count(*) FROM t1) n1,
                  (SELECT count(*) FROM t2) n2,
                  (SELECT count(*) FROM t3) n3),
          s AS (SELECT 'view_to_click' AS stage, n2 x, n1 n FROM c
                UNION ALL
                SELECT 'click_to_purchase', n3, n2 FROM c),
          w AS (SELECT stage, x, n, x / CAST(n AS DOUBLE) p,
                  1.959964::DOUBLE z FROM s)
          SELECT stage, x, n, floor((p) * 1e6 + 0.5) / 1e6 + 0 AS p,
            floor(((p + z * z / (n * 2)) / (1.0 + z * z / n)
              - z * sqrt(p * (1.0 - p) / n + z * z / (n::DOUBLE * n * 4))
                / (1.0 + z * z / n)) * 1e6 + 0.5) / 1e6 + 0 AS lo,
            floor(((p + z * z / (n * 2)) / (1.0 + z * z / n)
              + z * sqrt(p * (1.0 - p) / n + z * z / (n::DOUBLE * n * 4))
                / (1.0 + z * z / n)) * 1e6 + 0.5) / 1e6 + 0 AS hi
          FROM w""",

    "q278_ann_recall" ->
      """WITH brute AS MATERIALIZED (
             SELECT query_id, neighbor_id, rank AS brank FROM (
               SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY floor((list_cosine_similarity(
                     q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6
                     DESC, c.vec_id) AS rank
               FROM embeddings q JOIN embeddings c
                 ON c.vec_id != q.vec_id
               WHERE q.vec_id < 50) t WHERE rank <= 10),
          ex AS (SELECT label, unnest(list_zip(embedding::DOUBLE[],
                   generate_series(1, len(embedding)))) AS z
                 FROM embeddings),
          e AS (SELECT label, z[2]::BIGINT AS pos, z[1]::DOUBLE AS x
                FROM ex),
          cent AS (SELECT label, pos, avg(x) AS cv FROM e GROUP BY 1, 2),
          cf AS (SELECT label,
                   list_transform(list(cv ORDER BY pos),
                     v -> CAST(CAST(v AS REAL) AS DOUBLE)) AS c
                 FROM cent GROUP BY 1),
          probes AS (
            SELECT query_id, label FROM (
              SELECT q.vec_id AS query_id, cf.label,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY floor((list_cosine_similarity(
                    q.embedding::DOUBLE[], cf.c)) * 1e6 + 0.5) / 1e6 DESC, cf.label)
                  AS crank
              FROM embeddings q, cf WHERE q.vec_id < 50) t
            WHERE crank <= 3),
          ivf AS MATERIALIZED (
            SELECT query_id, neighbor_id, rank AS irank FROM (
              SELECT s.query_id, s.neighbor_id,
                row_number() OVER (PARTITION BY s.query_id
                  ORDER BY s.sim DESC, s.neighbor_id) AS rank
              FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      floor((list_cosine_similarity(q.embedding::DOUBLE[],
                        c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
                    FROM embeddings q
                    JOIN probes p ON p.query_id = q.vec_id
                    JOIN embeddings c ON c.label = p.label
                      AND c.vec_id != q.vec_id
                    WHERE q.vec_id < 50) s) t
            WHERE rank <= 10),
          h AS (SELECT b.query_id, b.brank, i.irank
                FROM brute b LEFT JOIN ivf i
                  USING (query_id, neighbor_id))
          SELECT r.query_id,
            floor((r.recall10) * 1e6 + 0.5) / 1e6 + 0 AS recall10, m.mrr
          FROM (SELECT query_id, count(irank) / 10.0::DOUBLE recall10
                FROM h GROUP BY 1) r
          JOIN (SELECT query_id,
                  floor((coalesce(1.0::DOUBLE / irank, 0.0::DOUBLE)) * 1e6 + 0.5) / 1e6
                    + 0 AS mrr
                FROM h WHERE brank = 1) m USING (query_id)""",

    "q279_mixture_descent" -> {
      val iters = (1 to 5).map { i =>
        val prev = if (i == 1) "w0" else s"i${i - 1}"
        s"""t$i AS MATERIALIZED (SELECT sum(p.wt * d.chars) tot
               FROM $prev p JOIN doms d USING (source)),
            e$i AS MATERIALIZED (SELECT p.source,
                p.wt * exp(-2.0::DOUBLE
                  * (p.wt * d.chars / t.tot)) w
               FROM $prev p JOIN doms d USING (source) CROSS JOIN t$i t),
            s$i AS MATERIALIZED (SELECT sum(w) sw FROM e$i),
            i$i AS MATERIALIZED (SELECT source, floor((w / sw) * 1e8 + 0.5) / 1e8 wt
               FROM e$i CROSS JOIN s$i)"""
      }.mkString(",\n")
      s"""WITH doms AS MATERIALIZED (SELECT source,
               CAST(sum(n_chars) AS BIGINT) chars
             FROM documents GROUP BY 1),
          w0 AS MATERIALIZED (SELECT source,
              floor((1.0::DOUBLE / (SELECT count(*) FROM doms)) * 1e8 + 0.5) / 1e8 wt
            FROM doms),
          $iters,
          tf AS (SELECT sum(p.wt * d.chars) tot
                 FROM i5 p JOIN doms d USING (source))
          SELECT p.source, d.chars, floor((p.wt) * 1e6 + 0.5) / 1e6 + 0 AS wt,
            floor((p.wt * d.chars / t.tot) * 1e6 + 0.5) / 1e6 + 0 AS load_share
          FROM i5 p JOIN doms d USING (source) CROSS JOIN tf t"""
    }
  )
}
