package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.T
import graft.ops.RelOps
import graft.ops.RelOps.Ordering

/** Wave-36+ data-auditing operators: the measurement layer a pipeline
  * team runs ON its own pipeline — sketch reconciliation, model
  * calibration, distribution drift, annotator agreement, resampled
  * confidence intervals. Extends the reference's descriptive-stats
  * spirit (/root/reference/src/dataframe.jl describe/colwise family)
  * to the audits a 100 TB corpus actually needs before anyone trusts
  * a dashboard number.
  *
  * Float policy (the repo discipline): every distributed accumulation
  * is an EXACT integer (counts, cents, micro-units = 6-dp-rounded
  * values × 1e6 cast to BIGINT); doubles appear only in final
  * projections with identical operation order on both engines,
  * rounded 6 dp. Deterministic pseudo-randomness is the replayable
  * Knuth-mod hash family (q103/q109/q266 precedent) — never rand().
  */
object AuditQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HLL set-intersection reconcile — the sketch algebra a data-map
    // service runs: |users(A) ∩ users(B)| estimated per event-type
    // pair by inclusion-exclusion over three HLL++ sketches
    // (|A|+|B|−|A∪B| — the only intersection a mergeable sketch
    // affords; union = approx_count_distinct over the filtered union
    // relation), reconciled against the exact distinct-join twin.
    // Inclusion-exclusion compounds the ±2% HLL error, so the gate is
    // ±15% of the SMALLER side (the standard operating envelope for
    // sketch intersections; exact twin hash-checked, gate asserted).
    // Scale: each sketch is one partial-agg'd scan; the exact twin is
    // a distinct + self-join on user_id — the thing the sketch path
    // exists to avoid, priced here once to certify it.
    "q315_hll_overlap" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_type"))
      val types = Seq("view", "click", "purchase")
      val pairs = for {
        i <- types.indices; j <- types.indices if i < j
      } yield (types(i), types(j))
      val perPair = pairs.map { case (a, b) =>
        val ua = ev.filter(F.col("event_type") === a)
        val ub = ev.filter(F.col("event_type") === b)
        val est = ua.agg(F.approx_count_distinct("user_id", 0.02)
            .as("na"))
          .crossJoin(ub.agg(F.approx_count_distinct("user_id", 0.02)
            .as("nb")))
          .crossJoin(ua.unionAll(ub)
            .agg(F.approx_count_distinct("user_id", 0.02).as("nu")))
        val exact = ua.select("user_id").distinct()
          .join(ub.select("user_id").distinct(), "user_id")
          .agg(F.count(F.lit(1)).as("n_common"))
        est.crossJoin(F.broadcast(exact))
          .select(F.lit(a).as("type_a"), F.lit(b).as("type_b"),
            F.col("n_common"),
            (F.abs(F.col("na") + F.col("nb") - F.col("nu")
              - F.col("n_common")).cast("double")
              <= F.lit(0.15) * F.least(F.col("na"), F.col("nb"))
              + F.lit(8.0)).as("hll_ok"))
      }
      perPair.reduce(_ unionAll _)
    },

    // Per-doc unigram surprisal — the cheapest LM-based outlier
    // detector: cross-entropy of each doc under the corpus unigram
    // MLE, in bits/token; the docs a fluency filter reads first (high
    // bits/token = rare-word soup: OCR noise, tables, non-text). The
    // q116-family trick that makes it bit-exact across engines:
    // per-TOKEN surprisal −log2(c/N) is rounded 6 dp and scaled to an
    // integer micro-bits value ONCE per distinct token, so the per-doc
    // reduction is an exact BIGINT sum (no float accumulation order),
    // and the final bits/token division runs identical doubles on
    // both sides. Scale: one token count, one join back on the
    // compact (token, micro) relation, one partial-agg'd per-doc sum.
    "q316_unigram_surprisal" -> { (s, dir) =>
      val tok = T.load(s, dir, "documents")
        .select(F.col("doc_id"),
          F.explode(graft.plans.TextExpressions
            .wordTokens(F.col("text"))).as("w"))
      val cnt = tok.groupBy("w").agg(F.count(F.lit(1)).as("c"))
      val n = cnt.agg(F.sum("c").as("n_total"))
      val micro = cnt.crossJoin(F.broadcast(n))
        .select(F.col("w"),
          F.expr("""cast(floor((-log2(cast(c as double) / n_total)) * 1e6 + 0.5) / 1e6
            * 1000000 as bigint)""").as("micro_bits"))
      tok.join(micro, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).as("n_tokens"),
          F.sum("micro_bits").as("sum_micro"))
        .select(F.col("doc_id"), F.col("n_tokens"),
          F.expr("""floor((cast(sum_micro as double) / 1000000
            / n_tokens) * 1e6 + 0.5) / 1e6""").as("bits_per_token"))
        .orderBy(F.col("bits_per_token").desc, F.col("doc_id").asc)
        .limit(20)
    },

    // Reliability diagram + ECE — the calibration audit behind every
    // "is this score a probability" question (q285 FITS a calibrator;
    // this MEASURES one). Score: p̂(purchase) = clicks/(clicks+views+1)
    // per user — an exact rational, so the 10-bin assignment is pure
    // integer arithmetic ((10·k) div (k+v+1): no float boundary), and
    // the per-bin mean-confidence sum accumulates exact micro-units
    // ((1e6·k) div (k+v+1)). Output per non-empty bin: support,
    // mean confidence, observed purchase rate, |gap|; plus the
    // support-weighted ECE every row repeats (1-row broadcast). At
    // 100 TB: two partial-agg'd groupBys (user, then bin) — O(users)
    // then O(11) state.
    "q317_reliability_ece" -> { (s, dir) =>
      val per = T.load(s, dir, "events")
        .groupBy("user_id")
        .agg(
          F.sum(F.when(F.col("event_type") === "click", 1L)
            .otherwise(0L)).as("k"),
          F.sum(F.when(F.col("event_type") === "view", 1L)
            .otherwise(0L)).as("v"),
          F.max(F.when(F.col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("y"))
      val bins = per
        .select(
          F.expr("(10 * k) div (k + v + 1)").as("bin"),
          F.expr("(1000000 * k) div (k + v + 1)").as("p_micro"),
          F.col("y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("p_micro").as("sp"), F.sum("y").as("sy"))
      // |sp/1e6 − sy| = |sp − 1e6·sy| / 1e6: the cross-bin sum stays
      // an exact BIGINT, immune to partial-agg accumulation order
      val ece = bins.agg(
        F.expr("""floor((cast(sum(abs(sp - 1000000 * sy)) as double)
          / 1000000 / sum(n)) * 1e6 + 0.5) / 1e6""").as("ece"))
      bins.crossJoin(F.broadcast(ece))
        .select(F.col("bin"), F.col("n"),
          F.expr("floor((cast(sp as double) / 1000000 / n) * 1e6 + 0.5) / 1e6")
            .as("mean_conf"),
          F.expr("floor((cast(sy as double) / n) * 1e6 + 0.5) / 1e6").as("obs_rate"),
          F.expr("""floor((abs(cast(sp as double) / 1000000 / n
            - cast(sy as double) / n)) * 1e6 + 0.5) / 1e6""").as("gap"),
          F.col("ece"))
        .orderBy("bin")
    },

    // Deterministic Poisson bootstrap — the CI method that actually
    // scales (one pass, no resampling shuffle): each of 32 replicas
    // weights every purchase row by a pseudo-Poisson(1) count drawn
    // from the replayable Knuth-mod uniform of (event_id, replica)
    // via the inverse-CDF thresholds (k ≤ 5 covers 99.9994% of the
    // mass). Replica means are exact-integer cent sums divided once
    // at the end; the CI is the min/median/max of the 32 6-dp-rounded
    // replica means (every row repeats them from a broadcast
    // triangular self-agg, not a global window). The bounded ×32
    // fan-out is the q270/q293 explode shape — map-side only.
    "q318_poisson_bootstrap" -> { (s, dir) =>
      val pur = T.load(s, dir, "events")
        .filter(F.col("event_type") === "purchase")
        .select(F.col("event_id"),
          F.expr("cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)").as("cents"))
      val reps = pur.select(F.col("cents"), F.explode(F.expr(
          """transform(sequence(0, 31), b -> struct(b as b,
             ((event_id % 1000003) * 2654435761
              + (b + 1) * 40503) % 1000003 as h))""")).as("r"))
        .select(F.col("cents"), F.col("r.b").cast("long").as("replica"),
          (F.col("r.h").cast("double") / 1000003.0).as("u"))
        .select(F.col("cents"), F.col("replica"),
          F.expr("""case when u < 0.367879 then 0
                         when u < 0.735759 then 1
                         when u < 0.919699 then 2
                         when u < 0.981012 then 3
                         when u < 0.996340 then 4
                         else 5 end""").as("w"))
        .groupBy("replica")
        .agg(F.sum(F.expr("w * cents")).as("swc"),
          F.sum("w").as("sw"))
        .select(F.col("replica"),
          F.expr("floor((cast(swc as double) / sw / 100) * 1e6 + 0.5) / 1e6")
            .as("boot_mean"))
      // percentile-audit: BOUNDED — input is the replica aggregate,
      // exactly 32 rows total (one per Poisson-bootstrap replica), so
      // the single-reducer value map holds ≤32 entries at any data
      // scale. See SCALE.md §percentile-audit.
      val ci = reps.agg(
        F.min("boot_mean").as("ci_lo"),
        F.expr("floor((percentile(boot_mean, 0.5)) * 1e6 + 0.5) / 1e6").as("ci_med"),
        F.max("boot_mean").as("ci_hi"))
      val point = pur.agg(F.count(F.lit(1)).as("n"),
        F.expr("floor((cast(sum(cents) as double) / count(1) / 100) * 1e6 + 0.5) / 1e6")
          .as("point_mean"))
      reps.crossJoin(F.broadcast(ci)).crossJoin(F.broadcast(point))
        .select(F.col("replica"), F.col("boot_mean"), F.col("n"),
          F.col("point_mean"), F.col("ci_lo"), F.col("ci_med"),
          F.col("ci_hi"))
        .orderBy("replica")
    },

    // Cohen's kappa — chance-corrected agreement between the q50
    // langid heuristic and the gold `lang` label, the number an
    // annotation team reports instead of raw accuracy (κ discounts
    // the agreement a majority-class guesser gets for free; compare
    // q290's label fusion, which RESOLVES disagreement — this
    // MEASURES it). po and pe come from exact confusion-matrix
    // integers: po = Σ diag / N, pe = Σ row·col / N² with the
    // products in DECIMAL(38,0) (N² wraps int64 at ~3e9 docs — the
    // q309 discipline). One groupBy over (pred, gold) — O(labels²)
    // state — then scalar arithmetic.
    "q319_cohens_kappa" -> { (s, dir) =>
      val cm = T.load(s, dir, "documents")
        .select(F.col("lang").as("gold"), graft.plans.TextExpressions
          .wordTokens(F.col("text")).as("t"))
        .select(F.col("gold"),
          F.expr(graft.text.TextOps.langIdExpr("t")).as("pred"))
        .groupBy("gold", "pred").agg(F.count(F.lit(1)).as("c"))
        // pin: measured — unpinned 2.36 vs 1.33 s, local[4]
        .localCheckpoint() // feeds diag, margins, and N
      val n = cm.agg(F.sum("c").as("n"))
      val diag = cm.filter(F.col("gold") === F.col("pred"))
        .agg(F.sum("c").as("agree"))
      val pe = cm.groupBy("gold").agg(F.sum("c").as("rs"))
        .join(cm.groupBy("pred").agg(F.sum("c").as("cs")),
          F.col("gold") === F.col("pred"))
        .agg(F.sum(F.expr(
          "cast(rs as decimal(38,0)) * cast(cs as decimal(38,0))"))
          .as("spe"))
      n.crossJoin(F.broadcast(diag)).crossJoin(F.broadcast(pe))
        .select(F.col("n"), F.col("agree"),
          F.expr("floor((cast(agree as double) / n) * 1e6 + 0.5) / 1e6").as("po"),
          F.expr("""floor((cast(spe as double)
            / (cast(n as double) * n)) * 1e6 + 0.5) / 1e6""").as("pe"))
        .selectExpr("n", "agree", "po", "pe",
          "floor(((po - pe) / (1 - pe)) * 1e6 + 0.5) / 1e6 as kappa")
    },

    // PSI drift monitor — population stability index of the `value`
    // distribution, first half of the time range (reference) vs
    // second half (current), per event type: THE serving-drift gate
    // every feature store runs nightly. Deterministic shape: the
    // split boundary and the 10 equal-width bin edges are integer
    // cent/epoch arithmetic from the global min/max (1-row broadcast,
    // not a driver collect), bin membership is pure integer division,
    // and PSI = Σ (pa−pb)·ln(pa/pb) runs on exact per-bin counts with
    // the standard 1e-4 floor for empty bins. Verdict convention:
    // psi < 0.1 = stable, flagged per type. Two partial-agg'd
    // groupBys; O(types × 10) state.
    "q320_psi_drift" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("event_type"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"),
          F.expr("cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)").as("cents"))
        // pin: measured — unpinned 1.21 vs 1.14 s, local[4]
        .localCheckpoint() // feeds bounds AND both halves
      val bounds = ev.agg(
        F.min("sec").as("t0"), F.max("sec").as("t1"),
        F.min("cents").as("c0"), F.max("cents").as("c1"))
      val binned = ev.crossJoin(F.broadcast(bounds))
        .select(F.col("event_type"),
          F.expr("case when sec * 2 < t0 + t1 then 0L else 1L end")
            .as("half"),
          F.expr("least((cents - c0) * 10 div (c1 - c0 + 1), 9)")
            .as("bin"))
        .groupBy("event_type", "bin")
        .agg(F.sum(F.expr("1 - half")).as("na"),
          F.sum("half").as("nb"))
      val tot = binned.groupBy("event_type")
        .agg(F.sum("na").as("ta"), F.sum("nb").as("tb"))
      binned.join(tot, "event_type")
        .select(F.col("event_type"),
          F.expr("greatest(cast(na as double) / ta, 0.0001)").as("pa"),
          F.expr("greatest(cast(nb as double) / tb, 0.0001)").as("pb"))
        .groupBy("event_type")
        // per-bin terms become exact 1e-8-unit integers BEFORE the
        // sum, so partial-agg accumulation order cannot drift the
        // float result between engines
        .agg(F.expr("""floor((cast(sum(cast(floor(((pa - pb)
          * ln(pa / pb) * 100000000) * 1e0 + 0.5) / 1e0 as bigint)) as double)
          / 100000000) * 1e6 + 0.5) / 1e6""").as("psi"))
        .withColumn("stable", F.col("psi") < 0.1)
        .orderBy("event_type")
    },

    // Information-gain stump screening — the feature triage a labeling
    // team runs before training anything: for each per-user covariate
    // (q268's n_events / active_days / value_cents) and a fixed
    // power-of-two threshold grid (data-independent, the q293 grid
    // convention), the entropy gain of splitting purchase propensity.
    // All entropies come from exact split counts; the p·log2(p) terms
    // are guarded (0·log 0 = 0) and identically ordered on both
    // engines, 6 dp. One user rollup, then a bounded ×21 explode —
    // O(users) + O(grid) state, no shuffle after the rollup.
    "q321_info_gain" -> { (s, dir) =>
      val per = T.load(s, dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).as("n_events"),
          F.count_distinct(F.expr("cast(ts as date)")).as("active_days"),
          F.sum(F.expr("""case when event_type != 'purchase'
            then cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint) else 0 end"""))
            .as("value_cents"),
          F.max(F.when(F.col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("y"))
      val grid = per.select(F.col("y"), F.explode(F.expr(
          """concat(
             transform(sequence(1, 7), i ->
               struct('n_events' as feature,
                 cast(pow(2, i) as bigint) as threshold,
                 n_events as x)),
             transform(sequence(1, 7), i ->
               struct('active_days' as feature,
                 cast(pow(2, i) as bigint) as threshold,
                 active_days as x)),
             transform(sequence(1, 7), i ->
               struct('value_cents' as feature,
                 cast(pow(2, i + 7) as bigint) as threshold,
                 value_cents as x)))""")).as("g"))
        .select(F.col("g.feature").as("feature"),
          F.col("g.threshold").as("threshold"),
          (F.col("g.x") >= F.col("g.threshold")).as("hi"),
          F.col("y"))
        .groupBy("feature", "threshold")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("y").as("ny"),
          F.sum(F.when(F.col("hi"), 1L).otherwise(0L)).as("nh"),
          F.sum(F.when(F.col("hi"), F.col("y")).otherwise(0L))
            .as("nhy"))
      def hTerm(p: String) =
        s"case when $p <= 0 or $p >= 1 then 0 " +
          s"else -($p) * log2($p) - (1 - $p) * log2(1 - $p) end"
      grid.selectExpr("feature", "threshold", "n", "ny", "nh", "nhy",
          "cast(ny as double) / n as p0",
          """case when nh = 0 then 0.0
             else cast(nhy as double) / nh end as ph""",
          """case when n = nh then 0.0
             else cast(ny - nhy as double) / (n - nh) end as pl""")
        .selectExpr("feature", "threshold", "n", "nh",
          s"""floor((${hTerm("p0")}
             - (cast(nh as double) / n) * ${hTerm("ph")}
             - (cast(n - nh as double) / n) * ${hTerm("pl")}) * 1e6 + 0.5) / 1e6
             as gain""")
        .orderBy(F.col("gain").desc, F.col("feature").asc,
          F.col("threshold").asc)
    },

    // Cohort retention matrix — the first table any growth/quality
    // dashboard renders: users cohorted by first-activity week, a row
    // per (cohort_week, age_week) with the fraction of the cohort
    // still active. Weeks are integer epoch arithmetic
    // (floor(epoch/604800) — no calendar ambiguity across engines),
    // counts exact, the only float is the final ratio. Scale: one
    // min-per-user rollup, one distinct on (user, week), one join,
    // one groupBy — all partial-agg'd, O(weeks²) output state.
    "q322_cohort_retention" -> { (s, dir) =>
      val uw = T.load(s, dir, "events")
        .select(F.col("user_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint) div 604800")
            .as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(F.min("wk").as("w0"))
      val size = cohort.groupBy("w0").agg(
        F.count(F.lit(1)).as("cohort_n"))
      uw.join(cohort, "user_id")
        .groupBy(F.col("w0").as("cohort_week"),
          (F.col("wk") - F.col("w0")).as("age_week"))
        .agg(F.count(F.lit(1)).as("n_active"))
        .join(size.withColumnRenamed("w0", "cohort_week"),
          "cohort_week")
        .select(F.col("cohort_week"), F.col("age_week"),
          F.col("n_active"), F.col("cohort_n"),
          F.expr("floor((cast(n_active as double) / cohort_n) * 1e6 + 0.5) / 1e6")
            .as("retention"))
        .orderBy("cohort_week", "age_week")
    },

    // SCD type-2 dimension build — the lakehouse merge primitive q254
    // (last-write-wins CDC) deliberately does NOT cover: keep EVERY
    // historical version with a validity interval. Dimension here:
    // per-user spend tier (cheap/mid/premium purchase-value bucket);
    // consecutive same-tier purchases collapse into one version row
    // (run-length encoding over the per-user event order), valid_to =
    // the next version's valid_from, NULL while current. Per-user
    // windows only (the natural SCD partitioning — never global);
    // total order inside a user is (ts, event_id), so runs are
    // deterministic. Output O(version-changes) rows.
    "q323_scd2_dimension" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(F.col("sec"), F.col("event_id"))
      val pur = T.load(s, dir, "events")
        .filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("event_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"),
          F.expr("""case when value < 50 then 'cheap'
            when value < 200 then 'mid' else 'premium' end""")
            .as("tier"))
      val runs = pur
        .withColumn("chg", F.when(F.lag("tier", 1).over(w).isNull
          || F.lag("tier", 1).over(w) =!= F.col("tier"), 1L)
          .otherwise(0L))
        .withColumn("version", F.sum("chg").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .groupBy("user_id", "version", "tier")
        .agg(F.min("sec").as("valid_from"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("version")
      runs
        .withColumn("valid_to", F.lead("valid_from", 1).over(wv))
        .select(F.col("user_id"), F.col("version"), F.col("tier"),
          F.col("valid_from"), F.col("valid_to"))
        .orderBy("user_id", "version")
    },

    // Per-source boilerplate n-gram detection (the CCNet-style
    // cleanup that precedes any quality scoring): report each
    // source's top-10 3-gram shingles by document frequency, with the
    // >= 30%-of-docs boilerplate flag (nav bars, footers, license
    // blurbs) carried as a column — the curve stays informative even
    // on a corpus with no shingle past the cut. Scale shape: one
    // (source, shingle) distinct-df groupBy — partial-agg'd, stop
    // shingles collapse map-side — then a per-SOURCE rank window
    // (partitioned on the group key, never global).
    "q324_boilerplate_ngrams" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
        .select(F.col("source"), F.col("doc_id"),
          F.explode(graft.plans.TextExpressions
            .wordShingles(F.col("text"), 3)).as("sh"))
        .distinct() // df = docs containing, not occurrences
      val df_ = d.groupBy("source", "sh")
        .agg(F.count(F.lit(1)).as("df"))
      val nd = T.load(s, dir, "documents")
        .groupBy("source").agg(F.count(F.lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(F.col("df").desc, F.col("sh").asc)
      df_.join(F.broadcast(nd), "source")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(F.col("source"), F.col("rank").cast("long").as("rank"),
          F.col("sh"),
          F.col("df"), F.col("n_docs"),
          F.expr("floor((cast(df as double) / n_docs) * 1e6 + 0.5) / 1e6")
            .as("doc_frac"),
          (F.col("df") * 10 >= F.col("n_docs") * 3).as("boilerplate"))
        .orderBy("source", "rank")
    },

    // Youden-J optimal threshold — which cut on the q317 propensity
    // score separates purchasers best? For 10 fixed micro-unit cuts,
    // TPR/FPR from exact confusion integers and J = TPR − FPR; the
    // argmax row is flagged via a 1-row broadcast (max J, smallest
    // cut tie-break), not a global window. The threshold-picking
    // audit between q297 (AUC: ranking quality) and q317
    // (calibration): one user rollup + a bounded ×10 explode.
    "q325_youden" -> { (s, dir) =>
      val per = T.load(s, dir, "events")
        .groupBy("user_id")
        .agg(
          F.sum(F.when(F.col("event_type") === "click", 1L)
            .otherwise(0L)).as("k"),
          F.sum(F.when(F.col("event_type") === "view", 1L)
            .otherwise(0L)).as("v"),
          F.max(F.when(F.col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("y"))
        .select(F.expr("(1000000 * k) div (k + v + 1)").as("p_micro"),
          F.col("y"))
      val curve = per.select(F.col("p_micro"), F.col("y"),
          F.explode(F.expr("""transform(sequence(1, 10),
            i -> cast(i * 50000 as bigint))""")).as("cut"))
        .groupBy("cut")
        .agg(F.sum("y").as("p"),
          (F.count(F.lit(1)) - F.sum("y")).as("n"),
          F.sum(F.when(F.col("p_micro") >= F.col("cut"), F.col("y"))
            .otherwise(0L)).as("tp"),
          F.sum(F.when(F.col("p_micro") >= F.col("cut"),
            F.lit(1L) - F.col("y")).otherwise(0L)).as("fp"))
        .select(F.col("cut"), F.col("tp"), F.col("fp"),
          // a degenerate class (no positives / no negatives — the
          // sf0.01 corpus has ALL users purchasing) defines its rate
          // as 0 rather than erroring under ANSI division
          F.expr("""floor((case when p = 0 then 0.0
            else cast(tp as double) / p end) * 1e6 + 0.5) / 1e6""").as("tpr"),
          F.expr("""floor((case when n = 0 then 0.0
            else cast(fp as double) / n end) * 1e6 + 0.5) / 1e6""").as("fpr"))
        .withColumn("j", F.expr("floor((tpr - fpr) * 1e6 + 0.5) / 1e6"))
      val best = curve.orderBy(F.col("j").desc, F.col("cut").asc)
        .limit(1).select(F.col("cut").as("best_cut"))
      curve.crossJoin(F.broadcast(best))
        .withColumn("is_best", F.col("cut") === F.col("best_cut"))
        .drop("best_cut")
        .orderBy("cut")
    },

    // Source-concentration audit — HHI, Shannon entropy, and
    // effective source count of each language's doc mix: the
    // diversity dashboard a mixture planner (q37/q279) reads before
    // reweighting. Exact arithmetic end-to-end: HHI = Σc²/N² keeps
    // the numerator an exact DECIMAL(38) sum; entropy terms become
    // 1e-8-unit integers before summing (the q320 discipline), so
    // neither engine's accumulation order matters. One groupBy to
    // (lang, source) counts, one to lang — O(langs × sources) state.
    "q326_source_concentration" -> { (s, dir) =>
      val c = T.load(s, dir, "documents")
        .groupBy("lang", "source").agg(F.count(F.lit(1)).as("c"))
      val byLang = c.groupBy("lang").agg(
        F.sum("c").as("n"),
        F.count(F.lit(1)).as("n_sources"),
        F.sum(F.expr("cast(c as decimal(38,0)) * c")).as("sc2"))
      val ent = c.join(byLang.select("lang", "n"), "lang")
        .select(F.col("lang"), F.expr("""cast(floor((-(cast(c as double) / n) * ln(cast(c as double) / n)
          * 100000000) * 1e0 + 0.5) / 1e0 as bigint)""").as("t"))
        .groupBy("lang").agg(F.sum("t").as("st"))
      byLang.join(ent, "lang")
        .select(F.col("lang"), F.col("n"), F.col("n_sources"),
          F.expr("""floor((cast(sc2 as double)
            / (cast(n as double) * n)) * 1e6 + 0.5) / 1e6""").as("hhi"),
          F.expr("floor((cast(st as double) / 100000000) * 1e6 + 0.5) / 1e6")
            .as("entropy"),
          F.expr("""floor(((cast(n as double) * n)
            / cast(sc2 as double)) * 1e6 + 0.5) / 1e6""").as("effective_sources"))
        .orderBy("lang")
    },

    // CUSUM change-point scan — did weekly volume shift somewhere in
    // the window? Per event type, the cumulative sum of deviations
    // from the type's mean weekly volume; the week with the largest
    // |CUSUM| is the change-point candidate (Page 1954, the
    // mean-shift scan every ops dashboard runs). EXACT throughout:
    // W·CUSUM_w = W·prefix_w − w·N keeps everything integer until the
    // final display division (the mean-per-week rational never
    // touches a float sum). Weeks are integer epoch arithmetic;
    // prefix sums run inside a per-TYPE window over O(weeks) rows —
    // partitioned on the group key, never global.
    "q327_cusum_volume" -> { (s, dir) =>
      val wv = T.load(s, dir, "events")
        .groupBy(F.col("event_type"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint) div 604800")
            .as("wk"))
        .agg(F.count(F.lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("wk")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val tot = wv.groupBy("event_type")
        .agg(F.sum("c").as("n"), F.count(F.lit(1)).as("n_weeks"))
      val cs = wv
        .withColumn("idx", F.count(F.lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy("wk")))
        .withColumn("pre", F.sum("c").over(w))
        .join(tot, "event_type")
        // W·cusum = W·prefix − idx·N: exact integers
        .withColumn("wcusum",
          F.expr("n_weeks * pre - idx * n"))
        // pin: measured — unpinned 1.03 vs 0.82 s, local[4]
        .localCheckpoint() // feeds the argmax AND the output
      val best = cs.groupBy(F.col("event_type").as("et"))
        .agg(F.max(F.struct(F.abs(F.col("wcusum")).as("a"),
          (-F.col("wk")).as("nw"))).as("m"))
        .select(F.col("et"), (-F.col("m.nw")).as("best_wk"))
      cs.join(F.broadcast(best), F.col("event_type") === F.col("et"))
        .select(F.col("event_type"), F.col("wk"), F.col("c"),
          F.expr("floor((cast(wcusum as double) / n_weeks) * 1e6 + 0.5) / 1e6")
            .as("cusum"),
          (F.col("wk") === F.col("best_wk")).as("change_point"))
        .orderBy("event_type", "wk")
    },

    // Neyman stratified sample allocation — how a 1000-doc labeling
    // budget SHOULD split across sources: a_h ∝ N_h·S_h (big AND
    // variable strata get labelers). S_h comes from exact DECIMAL(38)
    // character moments, is 6-dp-rounded once, and the weight becomes
    // a micro-unit integer — so quota floors and largest-remainder
    // ranks (q288's Hamilton machinery, exact-rational version:
    // rem_h = B·w_h mod Σw) are pure integer comparisons with zero
    // float knife-edges. O(sources) state after one moment scan.
    "q328_neyman_allocation" -> { (s, dir) =>
      val B = 1000L
      val m = T.load(s, dir, "documents")
        .groupBy("source").agg(
          F.count(F.lit(1)).as("nh"),
          F.sum(F.expr("cast(n_chars as decimal(38,0))")).as("sx"),
          F.sum(F.expr(
            "cast(n_chars as decimal(38,0)) * n_chars")).as("sxx"))
        .select(F.col("source"), F.col("nh"),
          F.expr("""cast(floor((nh * floor((sqrt(
            (cast(sxx as double) - cast(sx as double) * cast(sx as double) / nh)
            / (nh - 1))) * 1e6 + 0.5) / 1e6 * 1000000) * 1e0 + 0.5) / 1e0 as bigint)""").as("w_micro"))
      val tot = m.agg(F.sum("w_micro").as("wsum"))
      // DECIMAL(38,0) before the B·w product (int64 wraps once
      // N_h·S_h·1e6·B passes 2^63 — a billion-doc stratum); Spark's
      // IntegralDivide/Remainder accept decimals, so floor-quota and
      // remainder stay exact integers at any stratum size
      val q = m.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(
          s"""cast(($B * cast(w_micro as decimal(38,0)))
             div cast(wsum as decimal(38,0)) as bigint)"""))
        .withColumn("rem", F.expr(
          s"""($B * cast(w_micro as decimal(38,0)))
             % cast(wsum as decimal(38,0))"""))
      val ranked = RelOps.globalRowNumber(q, "rk",
        Seq(Ordering("rem", desc = true), Ordering("source")))
      val left = ranked.agg((F.lit(B) - F.sum("base")).as("leftover"))
      ranked.crossJoin(F.broadcast(left))
        .select(F.col("source"), F.col("nh"),
          F.expr("floor((cast(w_micro as double) / 1000000) * 1e6 + 0.5) / 1e6")
            .as("weight"),
          (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1L)
            .otherwise(0L)).as("alloc"))
        .orderBy("source")
    },

    // Robust means — mean vs median vs 5%-winsorized vs 5%-trimmed
    // `value` per event type: the outlier-resistance report that
    // decides which center a dashboard should plot. Cut points are
    // INTEGER cent thresholds (floor(p5)/ceil(p95) of the exact
    // percentile), so winsorized clamps and trim filters sum exact
    // BIGINT cents — no float accumulation anywhere; the four centers
    // divide once at the end. All three cut quantiles come from one
    // native `percentile` aggregate. Sketch path: percentile_approx.
    // percentile-audit: BOUNDED — cents of 2-decimal `value`, so each
    // per-group value map holds at most the cent domain, not the row
    // count. See SCALE.md §percentile-audit.
    "q329_robust_means" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("event_type"),
          F.expr("cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)").as("cents"))
      val cuts = ev.groupBy("event_type")
        .agg(F.expr("percentile(cents, array(0.05D, 0.95D, 0.5D))").as("__q"))
        .select(F.col("event_type"),
          F.expr("cast(floor(__q[0]) as bigint)").as("lo"),
          F.expr("cast(ceil(__q[1]) as bigint)").as("hi"),
          F.expr("floor((__q[2] / 100) * 1e6 + 0.5) / 1e6").as("median"))
      ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.max("median").as("median"),
          F.sum("cents").as("sc"),
          F.sum(F.expr("greatest(least(cents, hi), lo)")).as("swin"),
          F.sum(F.expr("""case when cents between lo and hi
            then cents else 0 end""")).as("strim"),
          F.sum(F.expr("""case when cents between lo and hi
            then 1 else 0 end""")).as("ntrim"))
        .select(F.col("event_type"), F.col("n"), F.col("median"),
          F.expr("floor((cast(sc as double) / n / 100) * 1e6 + 0.5) / 1e6").as("mean"),
          F.expr("floor((cast(swin as double) / n / 100) * 1e6 + 0.5) / 1e6")
            .as("winsorized_mean"),
          F.expr("""floor((case when ntrim = 0 then 0.0
            else cast(strim as double) / ntrim / 100 end) * 1e6 + 0.5) / 1e6""")
            .as("trimmed_mean"))
        .orderBy("event_type")
    },

    // Last-touch attribution — every marketing pipeline's join: each
    // purchase attributes to the user's LATEST click in the preceding
    // 7 days (the backward as-of q98 does forward). Per-week report:
    // purchases, attributed count, attach rate, attributed revenue.
    // Shape: user-keyed equi-join + interval filter + max_by per
    // purchase — the shuffle carries (user, sec) pairs; no windows
    // over unbounded history (the 7-day bound IS the state bound).
    "q330_last_touch" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.col("event_type"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"),
          F.expr("cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)").as("cents"))
      val pur = ev.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("event_id").as("pid"),
          F.col("sec").as("psec"), F.col("cents"))
      val clk = ev.filter(F.col("event_type") === "click")
        .select(F.col("user_id"), F.col("sec").as("csec"),
          F.col("event_id").as("cid"))
      // inner window join finds attributable purchases; the LEFT join
      // back preserves purchases with clicks only OUTSIDE the window
      // (a bare left-join-then-filter would silently drop them)
      val best = pur.join(clk, Seq("user_id"))
        .filter(F.col("csec") <= F.col("psec")
          && F.col("csec") >= F.col("psec") - 604800L)
        .groupBy("pid")
        .agg(F.max(F.struct(F.col("csec"), F.col("cid"))).as("m"))
        .select(F.col("pid"), F.col("m.csec").as("csec"))
      val att = pur.join(best, Seq("pid"), "left")
      att.groupBy(F.expr("psec div 604800").as("week"))
        .agg(F.count(F.lit(1)).as("n_purchases"),
          F.sum(F.when(F.col("csec").isNotNull, 1L).otherwise(0L))
            .as("n_attributed"),
          F.sum(F.when(F.col("csec").isNotNull, F.col("cents"))
            .otherwise(0L)).as("attributed_cents"))
        .select(F.col("week"), F.col("n_purchases"),
          F.col("n_attributed"),
          F.expr("""floor((cast(n_attributed as double)
            / n_purchases) * 1e6 + 0.5) / 1e6""").as("attach_rate"),
          F.col("attributed_cents"))
        .orderBy("week")
    },

    // Kaplan-Meier survival curve — time from first view to first
    // purchase, right-censored at the user's last observed event:
    // the estimator behind every "how long until conversion"
    // question, and the suite's first survival-analysis operator.
    // Determinism discipline: at-risk counts come from the EXCLUSIVE
    // distributed prefix sum over event-time rows (globalPrefixSum —
    // never a global window), and the survival product Π(1 − d/n) is
    // evaluated as exp of a prefix-summed exact ln-term integer
    // (1e-8 units, q316's micro-int trick), so neither engine's
    // accumulation order can drift a float. O(distinct durations)
    // state after one per-user rollup.
    "q331_kaplan_meier" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_type"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"))
      val per = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") === "view", F.col("sec")))
          .as("v0"),
        F.max("sec").as("last"))
      val pur = ev.filter(F.col("event_type") === "purchase")
        .join(per.select("user_id", "v0"), "user_id")
        .filter(F.col("sec") >= F.col("v0"))
        .groupBy("user_id").agg(F.min("sec").as("p0"))
      val subj = per.filter(F.col("v0").isNotNull)
        .join(pur, Seq("user_id"), "left")
        .select(
          F.expr("""case when p0 is not null
            then (p0 - v0) div 86400
            else (last - v0) div 86400 end""").as("t_days"),
          F.expr("case when p0 is not null then 1L else 0L end")
            .as("ev"))
      val byT = subj.groupBy("t_days")
        .agg(F.sum("ev").as("d"),
          F.sum(F.lit(1L) - F.col("ev")).as("cens"))
        .withColumn("leave", F.expr("d + cens"))
      val n = byT.agg(F.sum("leave").as("n_subjects"))
      val withPre = RelOps.globalPrefixSum(byT, "leave", "gone",
        Seq(Ordering("t_days")))
        .crossJoin(F.broadcast(n))
        .withColumn("atrisk", F.expr("n_subjects - gone"))
        .withColumn("lnterm", F.expr(
          """cast(floor((ln(greatest(1 - cast(d as double) / atrisk,
             0.000000000001)) * 100000000) * 1e0 + 0.5) / 1e0 as bigint)"""))
      RelOps.globalPrefixSum(withPre, "lnterm", "lnpre",
          Seq(Ordering("t_days")))
        .select(F.col("t_days"), F.col("d"), F.col("cens"),
          F.col("atrisk"),
          F.expr("""floor((exp(cast(lnpre + lnterm as double)
            / 100000000)) * 1e6 + 0.5) / 1e6""").as("survival"))
        .orderBy("t_days")
    },

    // Markov transition matrix + stationary distribution — where does
    // the event flow settle? Transition probabilities are exact
    // row-normalized rationals (8 dp); the stationary vector is 8
    // synchronous power iterations over the O(types²) matrix with
    // per-round 1e-8-unit integer term sums (the q279/q294 rounded-
    // state discipline), so both engines walk bit-identical vectors.
    // States whose every occurrence is sequence-final have no
    // outgoing row and leak their mass identically on both engines
    // (documented dangling-state semantics). All shuffles carry
    // O(types) keys.
    "q332_markov_stationary" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sec", "event_id")
      val tr = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.col("event_type").as("to_t"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"))
        .withColumn("from_t", F.lag("to_t", 1).over(w))
        .filter(F.col("from_t").isNotNull)
        .groupBy("from_t", "to_t").agg(F.count(F.lit(1)).as("nab"))
      val rowTot = tr.groupBy("from_t").agg(F.sum("nab").as("na"))
      val pm = tr.join(rowTot, "from_t")
        .select(F.col("from_t"), F.col("to_t"),
          F.expr("floor((cast(nab as double) / na) * 1e8 + 0.5) / 1e8").as("pr"))
        // pin: measured — unpinned 5.09 vs 2.58 s, local[4]
        .localCheckpoint() // 8 iterations read it
      val states = pm.select(F.col("from_t").as("st"))
        .unionAll(pm.select(F.col("to_t").as("st"))).distinct()
        .localCheckpoint() // pin: measured — unpinned 5.09 vs 2.58 s, local[4]
      val k = states.count() // bounded: O(event types) scalar
      var pi = states.select(F.col("st"),
        F.expr(s"floor((1.0 / $k) * 1e8 + 0.5) / 1e8").as("v"))
      for (_ <- 1 to 8) {
        pi = pi.join(pm, F.col("st") === F.col("from_t"))
          .groupBy(F.col("to_t"))
          .agg(F.expr("""floor((cast(sum(cast(floor((v * pr * 100000000) * 1e0 + 0.5) / 1e0
            as bigint)) as double) / 100000000) * 1e8 + 0.5) / 1e8""").as("v"))
          .withColumnRenamed("to_t", "st")
      }
      pi.join(rowTot, F.col("st") === F.col("from_t"), "left")
        .select(F.col("st").as("state"),
          F.expr("floor((v) * 1e6 + 0.5) / 1e6").as("pi"),
          F.coalesce(F.col("na"), F.lit(0L)).as("n_out"))
        .orderBy("state")
    },

    // Gini + Lorenz deciles of user revenue — how concentrated is
    // spend? G = (2·Σ rank·c − (N+1)·Σc) / (N·Σc) with every moment
    // an exact DECIMAL(38) integer under the deterministic
    // (cents, user_id) total order (globalRowNumber — the q13
    // distributed rank, no global window); the 10-row Lorenz
    // cumulative runs on the q267 broadcast triangular self-join.
    "q333_gini_lorenz" -> { (s, dir) =>
      val per = T.load(s, dir, "events")
        .groupBy("user_id")
        .agg(F.sum(F.expr("cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)"))
          .as("cents"))
      val ranked = RelOps.globalRowNumber(per, "rk",
        Seq(Ordering("cents"), Ordering("user_id")))
      val mom = ranked.agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.expr("cast(cents as decimal(38,0))")).as("s"),
        F.sum(F.expr("cast(rk as decimal(38,0)) * cents")).as("rs"))
      val gini = mom.select(F.col("n"), F.col("s"),
        F.expr("""floor((cast(2 * rs - (n + 1) * s as double)
          / (cast(n as double) * cast(s as double))) * 1e6 + 0.5) / 1e6""")
          .as("gini"))
      val dec = ranked.crossJoin(F.broadcast(mom.select("n")))
        .groupBy(F.expr("(rk - 1) * 10 div n + 1").as("decile"))
        .agg(F.count(F.lit(1)).as("n_users"),
          F.sum("cents").as("decile_cents"))
      dec.as("a").join(F.broadcast(dec.as("b")),
          F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").as("decile"))
        .agg(F.max(F.col("a.n_users")).as("n_users"),
          F.max(F.col("a.decile_cents")).as("decile_cents"),
          F.sum(F.col("b.decile_cents")).as("cum_cents"))
        .crossJoin(F.broadcast(gini))
        .select(F.col("decile"), F.col("n_users"),
          F.col("decile_cents"),
          F.expr("floor((cast(cum_cents as double) / s) * 1e6 + 0.5) / 1e6")
            .as("cum_share"),
          F.col("gini"))
        .orderBy("decile")
    },

    // Benford first-digit audit — the fraud/synthetic-data screen:
    // observed first-significant-digit shares of positive cent values
    // vs Benford's log10(1+1/d), with the χ² statistic (df = 8,
    // critical 15.507 at α = .05). First digits come from the integer
    // string head (no float log in the bucketing); χ² terms become
    // 1e-8-unit integers before the 9-term sum. A synthetic uniform
    // corpus SHOULD fail — the flag is reported, not asserted.
    "q334_benford" -> { (s, dir) =>
      val d = T.load(s, dir, "events")
        .select(F.expr("cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)").as("cents"))
        .filter(F.col("cents") > 0)
        .select(F.expr("cast(substring(cast(cents as string), 1, 1) as bigint)")
          .as("digit"))
        .groupBy("digit").agg(F.count(F.lit(1)).as("n"))
        // pin: measured — unpinned 0.86 vs 0.71 s, local[4]
        .localCheckpoint() // feeds totals AND the chi2
      val tot = d.agg(F.sum("n").as("nt"))
      val terms = d.crossJoin(F.broadcast(tot))
        .select(F.col("digit"), F.col("n"), F.col("nt"),
          F.expr("floor((log10(1.0 + 1.0 / digit)) * 1e8 + 0.5) / 1e8").as("pexp"))
        .withColumn("chiterm", F.expr(
          """cast(floor((pow(cast(n as double) - pexp * nt, 2)
             / (pexp * nt) * 100000000) * 1e0 + 0.5) / 1e0 as bigint)"""))
        .localCheckpoint() // pin: measured — unpinned 0.86 vs 0.71 s, local[4]
      val chi = terms.agg(F.expr(
        "floor((cast(sum(chiterm) as double) / 100000000) * 1e6 + 0.5) / 1e6")
        .as("chi2"))
      terms.crossJoin(F.broadcast(chi))
        .select(F.col("digit"), F.col("n"),
          F.expr("floor((cast(n as double) / nt) * 1e6 + 0.5) / 1e6").as("obs_p"),
          F.expr("floor((pexp) * 1e6 + 0.5) / 1e6").as("exp_p"),
          F.col("chi2"),
          (F.col("chi2") <= 15.507).as("benford_ok"))
        .orderBy("digit")
    },

    // Inverse-propensity-scored off-policy value — what would mean
    // per-event reward be under a UNIFORM exposure policy, estimated
    // from logs where exposure was skewed? The logged propensity of
    // each action (non-purchase event type) is its exact share
    // n_a/N; the per-type IPS contribution N·Σr_a/(k·n_a) stays a
    // ratio of exact DECIMAL integers until one final division, and
    // the cross-type total sums 6-dp-rounded micro-units — the
    // estimator every recommendation team runs before an A/B test
    // (Horvitz-Thompson 1952). O(types) state after one rollup.
    "q335_ips_value" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .filter(F.col("event_type") =!= "purchase")
        .select(F.col("event_type"),
          F.expr("cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)").as("cents"))
      val per = ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).as("na"),
          F.sum(F.expr("cast(cents as decimal(38,0))")).as("sc"))
      val tot = per.agg(F.sum("na").as("nt"),
        F.count(F.lit(1)).as("k"),
        F.sum("sc").as("sct"))
      val terms = per.crossJoin(F.broadcast(tot))
        .select(F.col("event_type"), F.col("na"),
          F.expr("floor((cast(na as double) / nt) * 1e6 + 0.5) / 1e6").as("p_log"),
          F.col("sc"), F.col("nt"), F.col("k"), F.col("sct"),
          F.expr("""floor((cast(nt as double) * cast(sc as double)
            / (k * cast(na as double))) * 1e6 + 0.5) / 1e6""").as("ips_term"))
      val v = terms.agg(
        F.expr("""floor((cast(sum(cast(floor((ips_term * 1000000) * 1e0 + 0.5) / 1e0
          as bigint)) as double) / 1000000
          / max(nt)) * 1e6 + 0.5) / 1e6""").as("v_ips"),
        F.expr("floor((cast(max(sct) as double) / max(nt) / 100) * 1e6 + 0.5) / 1e6")
          .as("v_naive"))
      terms.crossJoin(F.broadcast(v))
        .select(F.col("event_type"), F.col("na"), F.col("p_log"),
          F.expr("floor((ips_term / 100) * 1e6 + 0.5) / 1e6").as("ips_cents_term"),
          F.expr("floor((v_ips / 100) * 1e6 + 0.5) / 1e6").as("v_ips"),
          F.col("v_naive"))
        .orderBy("event_type")
    },

    // Top session paths — the most common 3-step event-type
    // sequences inside 30-minute sessions (q71's gap rule): the
    // sequence-mining report a UX/curriculum team reads. All windows
    // partition on (user, session) — bounded by session length,
    // never global; the top-10 is one TakeOrdered.
    "q336_session_paths" -> { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window
      val wu = W.partitionBy("user_id").orderBy("sec", "event_id")
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.col("event_type"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"))
        .withColumn("new_sess",
          F.when(F.lag("sec", 1).over(wu).isNull
            || F.col("sec") - F.lag("sec", 1).over(wu) > 1800L, 1L)
            .otherwise(0L))
        .withColumn("sess", F.sum("new_sess").over(
          wu.rowsBetween(W.unboundedPreceding, 0)))
      val ws = W.partitionBy("user_id", "sess")
        .orderBy("sec", "event_id")
      ev
        .withColumn("t2", F.lead("event_type", 1).over(ws))
        .withColumn("t3", F.lead("event_type", 2).over(ws))
        .filter(F.col("t3").isNotNull)
        .select(F.concat_ws(">", F.col("event_type"), F.col("t2"),
          F.col("t3")).as("path"))
        .groupBy("path").agg(F.count(F.lit(1)).as("n"))
        .orderBy(F.col("n").desc, F.col("path").asc)
        .limit(10) // TakeOrderedAndProject
    },

    // Ingest-order vocabulary novelty — new-token rate per doc_id
    // batch (the streaming-corpus "are we still learning new
    // vocabulary" curve; q247's Heaps law resolved along ingest
    // order). A token's first-seen batch is one min-aggregate; per
    // batch: new types, token volume, novelty rate, and the
    // cumulative vocabulary via the O(batches²) broadcast triangular
    // join (10 rows — never a data-row window).
    "q337_vocab_novelty" -> { (s, dir) =>
      val mx = T.load(s, dir, "documents")
        .agg(F.max("doc_id").as("mx"))
      val tok = T.load(s, dir, "documents")
        .crossJoin(F.broadcast(mx))
        .select(F.expr("doc_id * 10 div (mx + 1)").as("batch"),
          F.explode(graft.plans.TextExpressions
            .wordTokens(F.col("text"))).as("w"))
      val vol = tok.groupBy("batch").agg(F.count(F.lit(1)).as("n_tokens"))
      val firsts = tok.groupBy("w").agg(F.min("batch").as("batch"))
        .groupBy("batch").agg(F.count(F.lit(1)).as("new_types"))
      val per = vol.join(firsts, Seq("batch"), "left")
        .select(F.col("batch"), F.col("n_tokens"),
          F.coalesce(F.col("new_types"), F.lit(0L)).as("new_types"))
      per.as("a").join(F.broadcast(per.as("b")),
          F.col("b.batch") <= F.col("a.batch"))
        .groupBy(F.col("a.batch").as("batch"))
        .agg(F.max(F.col("a.n_tokens")).as("n_tokens"),
          F.max(F.col("a.new_types")).as("new_types"),
          F.sum(F.col("b.new_types")).as("cum_vocab"))
        .select(F.col("batch"), F.col("n_tokens"), F.col("new_types"),
          F.col("cum_vocab"),
          F.expr("floor((cast(new_types as double) / n_tokens) * 1e6 + 0.5) / 1e6")
            .as("novelty_rate"))
        .orderBy("batch")
    },

    // Funnel latency percentiles — q277 counts WHO converts; this
    // measures HOW FAST: median / p90 / max seconds for view→click
    // and click→purchase over the same windowed min-time funnel.
    // Durations are exact integer seconds. percentile-audit:
    // BOUNDED — every dsec is window-capped to [0, 86400], so the
    // per-group value map holds ≤86,401 distinct integers regardless
    // of user count; the cap is structural (the funnel filters on
    // sec <= t+win), not statistical. Sketch path: percentile_approx.
    // See SCALE.md §percentile-audit.
    "q338_funnel_latency" -> { (s, dir) =>
      val win = 86400L
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_type"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"))
      val t1 = ev.filter(F.col("event_type") === "view")
        .groupBy("user_id").agg(F.min("sec").as("t1"))
      val t2 = ev.join(t1, "user_id")
        .filter(F.col("event_type") === "click" &&
          F.col("sec") >= F.col("t1") && F.col("sec") <= F.col("t1") + win)
        .groupBy("user_id").agg(F.min("sec").as("t2"), F.min("t1").as("t1"))
      val t3 = ev.join(t2.select("user_id", "t2"), "user_id")
        .filter(F.col("event_type") === "purchase" &&
          F.col("sec") >= F.col("t2") && F.col("sec") <= F.col("t2") + win)
        .groupBy("user_id").agg(F.min("sec").as("t3"))
      val d1 = t2.select(F.lit("view_to_click").as("stage"),
        (F.col("t2") - F.col("t1")).as("dsec"))
      val d2 = t3.join(t2.select("user_id", "t2"), "user_id")
        .select(F.lit("click_to_purchase").as("stage"),
          (F.col("t3") - F.col("t2")).as("dsec"))
      d1.unionAll(d2)
        .groupBy("stage")
        .agg(F.count(F.lit(1)).as("n"),
          F.expr("round(percentile(dsec, 0.5), 6)").as("p50_sec"),
          F.expr("round(percentile(dsec, 0.9), 6)").as("p90_sec"),
          F.max("dsec").as("max_sec"))
        .orderBy("stage")
    },

    // GROUPED exact quantile over an integer domain: both targets of
    // the cents image from one native `percentile` aggregate, whose
    // (1-g)·a[k] + g·a[k+1] interpolation the oracle's quantile_cont
    // matches under the 6-dp rounding.
    // percentile-audit: BOUNDED — each per-group value map holds at
    // most the cent domain of `value`, not the row count. See SCALE.md
    // §percentile-audit.
    "q339_grouped_quantile" -> { (s, dir) =>
      T.load(s, dir, "events")
        .groupBy("event_type")
        .agg(F.expr("percentile(cast(round(value * 100) as bigint), " +
          "array(0.5D, 0.9D))").as("__q"))
        .select(F.col("event_type"),
          F.expr("round(__q[0] / 100, 6)").as("p50"),
          F.expr("round(__q[1] / 100, 6)").as("p90"))
        .orderBy("event_type")
    },

    // GROUPED exact quantile over a DOUBLE domain: revenue
    // l_extendedprice·(1−l_discount), four targets from one native
    // `percentile` aggregate; round-6 output is the repo's standard
    // float contract.
    // percentile-audit: BOUNDED — revenue is a 2-dp price times one of
    // 11 2-dp discount factors, so each per-group value map holds at
    // most 11× the cent domain of l_extendedprice, not the row count.
    // See SCALE.md §percentile-audit.
    "q344_grouped_double_quantile" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice * (1 - l_discount), " +
          "array(0.25D, 0.5D, 0.75D, 0.95D))").as("__q"))
        .select(F.col("l_returnflag"),
          F.expr("round(__q[0], 6)").as("p25"),
          F.expr("round(__q[1], 6)").as("p50"),
          F.expr("round(__q[2], 6)").as("p75"),
          F.expr("round(__q[3], 6)").as("p95"))
        .orderBy("l_returnflag")
    },

    // Dedup retention-policy comparison — q79 finds the near-dup
    // clusters and q222 picks min-id canonicals; this prices the
    // POLICY CHOICE: keep-first (min id) vs keep-longest vs
    // keep-shortest, reporting kept documents and kept characters
    // under each. Per-cluster argmins/argmaxes are single max_by/
    // min_by hash aggregates with explicit id tie-breaks (no
    // per-cluster windows); singletons keep themselves under every
    // policy. The numbers a curation lead reads before committing a
    // dedup pass that deletes 30% of a corpus.
    "q342_retention_policies" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", graft.plans.TextExpressions
          .wordShingles(F.col("text"), 3))
      val pairs = graft.dedup.Dedup
        .minhashNearDups(docs, "doc_id", "sh", 0.85)
      val cc = graft.dedup.Dedup
        .connectedComponents(pairs.select("id1", "id2"))
      val lab = docs.select(F.col("doc_id"), F.col("n_chars"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
          "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col("doc_id")))
      val g = lab.groupBy("comp").agg(
          F.count(F.lit(1)).as("nd"),
          F.sum("n_chars").as("ch"),
          F.expr("min_by(struct(doc_id, n_chars), doc_id)").as("kf"),
          F.expr("max_by(struct(doc_id, n_chars), struct(n_chars, -doc_id))")
            .as("kl"),
          F.expr("min_by(struct(doc_id, n_chars), struct(n_chars, doc_id))")
            .as("ks"))
      val tot = g.agg(F.sum("nd").as("n_docs"),
        F.sum("ch").as("chars_total"),
        F.count(F.lit(1)).as("n_kept"),
        F.sum(F.when(F.col("nd") > 1, 1L).otherwise(0L))
          .as("n_clusters"))
      def pol(name: String, kept: String) =
        g.agg(F.sum(F.col(s"$kept.n_chars")).as("chars_kept"))
          .select(F.lit(name).as("policy"), F.col("chars_kept"))
      pol("keep_first", "kf")
        .unionAll(pol("keep_longest", "kl"))
        .unionAll(pol("keep_shortest", "ks"))
        .crossJoin(F.broadcast(tot))
        .select(F.col("policy"), F.col("n_docs"), F.col("n_clusters"),
          F.col("n_kept"), F.col("chars_total"), F.col("chars_kept"),
          F.expr("""floor((cast(chars_kept as double)
            / chars_total) * 1e6 + 0.5) / 1e6""").as("kept_frac"))
        .orderBy("policy")
    }
  )

  private def duckMarkerScore(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(t, x -> list_contains([$arr], x)))"
  }

  /** Same deterministic argmax CASE as TextOps.langIdExpr (q50's
    * oracle construction), over a token-list column `t`. */
  private def duckLangIdCase: String = {
    val scores = graft.text.TextOps.markers.map { case (l, ws) =>
      l -> duckMarkerScore(ws) }
    val cases = scores.map { case (l, sc) =>
      val geAll = scores.filter(_._1 != l)
        .map { case (_, o) => s"($sc) >= ($o)" }.mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** One synchronous power-iteration round over the `pm` transition
    * CTE: 1e-8-unit integer term sums (matches the engine exactly). */
  private def markovRoundSql(r: Int): String =
    s"""v$r AS MATERIALIZED (SELECT p.to_t st,
         round(sum(CAST(round(v.v * p.pr * 100000000) AS BIGINT))
           ::DOUBLE / 100000000, 8) v
       FROM v${r - 1} v JOIN pm p ON p.from_t = v.st GROUP BY 1)"""

  def oracleSql: Map[String, String] = Map(

    "q342_retention_policies" ->
      """WITH RECURSIVE
          toks AS (SELECT doc_id, list_filter(regexp_split_to_array(
               lower(text), '[^a-z0-9]+'), x -> x != '') t
           FROM documents),
          sh AS (SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               for i in range(1, len(t) - 1)]) s FROM toks),
          jp AS (SELECT a.doc_id id1, b.doc_id id2,
             floor((len(list_intersect(a.s, b.s)) /
               CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                    AS DOUBLE)) * 1e3 + 0.5) / 1e3 jac
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          pairs AS (SELECT id1, id2 FROM jp WHERE jac >= 0.85),
          edges AS (SELECT id1 a, id2 b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          cc AS (SELECT a id, least(a, min(b)) comp FROM reach
                 GROUP BY a),
          lab AS (SELECT d.doc_id, d.n_chars,
             coalesce(cc.comp, d.doc_id) comp
           FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
          rk AS (SELECT comp, doc_id, n_chars,
             row_number() OVER (PARTITION BY comp
               ORDER BY doc_id) r_first,
             row_number() OVER (PARTITION BY comp
               ORDER BY n_chars DESC, doc_id) r_long,
             row_number() OVER (PARTITION BY comp
               ORDER BY n_chars, doc_id) r_short
           FROM lab),
          tot AS (SELECT count(*) n_docs, sum(n_chars) chars_total,
             count(DISTINCT comp) n_kept,
             (SELECT count(*) FROM (SELECT comp FROM lab GROUP BY 1
                HAVING count(*) > 1) x) n_clusters
           FROM lab),
          pol AS (
            SELECT 'keep_first' AS "policy", sum(n_chars) chars_kept
            FROM rk WHERE r_first = 1
            UNION ALL
            SELECT 'keep_longest', sum(n_chars) FROM rk
            WHERE r_long = 1
            UNION ALL
            SELECT 'keep_shortest', sum(n_chars) FROM rk
            WHERE r_short = 1)
          SELECT "policy", CAST(n_docs AS BIGINT) n_docs,
            CAST(n_clusters AS BIGINT) n_clusters,
            CAST(n_kept AS BIGINT) n_kept,
            CAST(chars_total AS BIGINT) chars_total,
            CAST(chars_kept AS BIGINT) chars_kept,
            floor((chars_kept::DOUBLE / chars_total) * 1e6 + 0.5) / 1e6 + 0
              AS kept_frac
          FROM pol CROSS JOIN tot ORDER BY "policy"""",

    "q339_grouped_quantile" ->
      """WITH ev AS (SELECT event_type,
             CAST(round(value * 100) AS BIGINT) cents FROM events)
          SELECT event_type,
            round(quantile_cont(cents, 0.5) / 100, 6) + 0 AS p50,
            round(quantile_cont(cents, 0.9) / 100, 6) + 0 AS p90
          FROM ev GROUP BY 1 ORDER BY 1""",

    "q344_grouped_double_quantile" ->
      """WITH li AS (SELECT l_returnflag,
             l_extendedprice * (1 - l_discount) rev FROM lineitem)
          SELECT l_returnflag,
            round(quantile_cont(rev, 0.25), 6) + 0 AS p25,
            round(quantile_cont(rev, 0.5), 6) + 0 AS p50,
            round(quantile_cont(rev, 0.75), 6) + 0 AS p75,
            round(quantile_cont(rev, 0.95), 6) + 0 AS p95
          FROM li GROUP BY 1 ORDER BY 1""",

    "q335_ips_value" ->
      """WITH ev AS (SELECT event_type,
             CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) cents
           FROM events WHERE event_type != 'purchase'),
          per AS MATERIALIZED (SELECT event_type, count(*) na,
             sum(cents::DECIMAL(38,0)) sc FROM ev GROUP BY 1),
          tot AS (SELECT sum(na) nt, count(*) k, sum(sc) sct
                  FROM per),
          terms AS (SELECT event_type, na,
             floor((na::DOUBLE / nt) * 1e6 + 0.5) / 1e6 + 0 p_log,
             nt, k, sct,
             floor((nt::DOUBLE * sc::DOUBLE / (k * na::DOUBLE)) * 1e6 + 0.5) / 1e6
               + 0 ips_term
           FROM per CROSS JOIN tot),
          v AS (SELECT
             floor((sum(CAST(floor((ips_term * 1000000) * 1e0 + 0.5) / 1e0 AS BIGINT))
               ::DOUBLE / 1000000 / max(nt)) * 1e6 + 0.5) / 1e6 + 0 v_ips_c,
             floor((max(sct)::DOUBLE / max(nt) / 100) * 1e6 + 0.5) / 1e6 + 0 v_naive
           FROM terms)
          SELECT event_type, CAST(na AS BIGINT) na, p_log,
            floor((ips_term / 100) * 1e6 + 0.5) / 1e6 + 0 AS ips_cents_term,
            floor((v_ips_c / 100) * 1e6 + 0.5) / 1e6 + 0 AS v_ips, v_naive
          FROM terms CROSS JOIN v ORDER BY event_type""",

    "q336_session_paths" ->
      """WITH ev AS MATERIALIZED (SELECT user_id, event_id,
             event_type, CAST(floor(epoch(ts)) AS BIGINT) sec
           FROM events),
          f AS (SELECT user_id, event_id, event_type, sec,
             CASE WHEN lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END
               new_sess
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
          sz AS (SELECT user_id, event_id, event_type, sec,
             sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess
           FROM f),
          tri AS (SELECT event_type || '>' ||
               lead(event_type, 1) OVER ws || '>' ||
               lead(event_type, 2) OVER ws AS path,
             lead(event_type, 2) OVER ws t3
           FROM sz
           WINDOW ws AS (PARTITION BY user_id, sess
             ORDER BY sec, event_id))
          SELECT path, count(*) n FROM tri WHERE t3 IS NOT NULL
          GROUP BY 1 ORDER BY n DESC, path LIMIT 10""",

    "q337_vocab_novelty" ->
      """WITH mx AS (SELECT max(doc_id) mx FROM documents),
          tok AS MATERIALIZED (SELECT doc_id * 10 // (mx + 1) batch,
             unnest(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), x -> x != '')) w
           FROM documents CROSS JOIN mx),
          vol AS (SELECT batch, count(*) n_tokens FROM tok
                  GROUP BY 1),
          fs AS (SELECT batch, count(*) new_types FROM
             (SELECT w, min(batch) batch FROM tok GROUP BY 1) x
           GROUP BY 1),
          per AS (SELECT vol.batch, n_tokens,
             coalesce(new_types, 0) new_types
           FROM vol LEFT JOIN fs USING (batch))
          SELECT a.batch, CAST(a.n_tokens AS BIGINT) n_tokens,
            CAST(a.new_types AS BIGINT) new_types,
            CAST(sum(b.new_types) AS BIGINT) cum_vocab,
            floor((a.new_types::DOUBLE / a.n_tokens) * 1e6 + 0.5) / 1e6 + 0
              AS novelty_rate
          FROM per a JOIN per b ON b.batch <= a.batch
          GROUP BY a.batch, a.n_tokens, a.new_types
          ORDER BY a.batch""",

    "q338_funnel_latency" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) sec FROM events),
          t1 AS (SELECT user_id, min(sec) t1 FROM e
                 WHERE event_type = 'view' GROUP BY 1),
          t2 AS (SELECT e.user_id, min(e.sec) t2, min(t1.t1) t1
                 FROM e JOIN t1 ON e.user_id = t1.user_id
                 WHERE e.event_type = 'click' AND e.sec >= t1.t1
                   AND e.sec <= t1.t1 + 86400 GROUP BY 1),
          t3 AS (SELECT e.user_id, min(e.sec) t3
                 FROM e JOIN t2 ON e.user_id = t2.user_id
                 WHERE e.event_type = 'purchase' AND e.sec >= t2.t2
                   AND e.sec <= t2.t2 + 86400 GROUP BY 1),
          d AS (SELECT 'view_to_click' stage, t2 - t1 dsec FROM t2
                UNION ALL
                SELECT 'click_to_purchase', t3.t3 - t2.t2
                FROM t3 JOIN t2 ON t3.user_id = t2.user_id)
          SELECT stage, CAST(count(*) AS BIGINT) n,
            round(quantile_cont(dsec, 0.5), 6) + 0 AS p50_sec,
            round(quantile_cont(dsec, 0.9), 6) + 0 AS p90_sec,
            CAST(max(dsec) AS BIGINT) max_sec
          FROM d GROUP BY 1 ORDER BY stage""",

    "q331_kaplan_meier" ->
      """WITH ev AS MATERIALIZED (SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) sec FROM events),
          per AS (SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN sec END) v0,
             max(sec) "last"
           FROM ev GROUP BY 1),
          pur AS (SELECT e.user_id, min(e.sec) p0
           FROM ev e JOIN per USING (user_id)
           WHERE e.event_type = 'purchase' AND per.v0 IS NOT NULL
             AND e.sec >= per.v0
           GROUP BY 1),
          subj AS (SELECT
             CASE WHEN p0 IS NOT NULL THEN (p0 - v0) // 86400
                  ELSE ("last" - v0) // 86400 END t_days,
             CASE WHEN p0 IS NOT NULL THEN 1 ELSE 0 END e
           FROM per LEFT JOIN pur USING (user_id)
           WHERE v0 IS NOT NULL),
          byt AS (SELECT t_days, sum(e) d, sum(1 - e) cens,
             count(*) lv FROM subj GROUP BY 1),
          n AS (SELECT sum(lv) n_subjects FROM byt),
          pre AS (SELECT t_days, d, cens, lv,
             coalesce(sum(lv) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               gone, n_subjects
           FROM byt CROSS JOIN n),
          tm AS (SELECT t_days, d, cens,
             n_subjects - gone atrisk,
             CAST(floor((ln(greatest(1 - d::DOUBLE
               / (n_subjects - gone), 0.000000000001))
               * 100000000) * 1e0 + 0.5) / 1e0 AS BIGINT) lnterm
           FROM pre)
          SELECT t_days, CAST(d AS BIGINT) d,
            CAST(cens AS BIGINT) cens, CAST(atrisk AS BIGINT) atrisk,
            floor((exp(sum(lnterm) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              ::DOUBLE / 100000000)) * 1e6 + 0.5) / 1e6 + 0 AS survival
          FROM tm ORDER BY t_days""",

    "q332_markov_stationary" -> {
      val rounds = (1 to 8).map(markovRoundSql).mkString(",\n")
      s"""WITH ev AS MATERIALIZED (SELECT user_id, event_id,
             event_type, CAST(floor(epoch(ts)) AS BIGINT) sec
           FROM events),
          tr AS (SELECT from_t, to_t, count(*) nab FROM (
             SELECT event_type to_t, lag(event_type) OVER
               (PARTITION BY user_id ORDER BY sec, event_id) from_t
             FROM ev) t
           WHERE from_t IS NOT NULL GROUP BY 1, 2),
          rowtot AS MATERIALIZED (SELECT from_t, sum(nab) na
           FROM tr GROUP BY 1),
          pm AS MATERIALIZED (SELECT tr.from_t, to_t,
             floor((nab::DOUBLE / na) * 1e8 + 0.5) / 1e8 pr
           FROM tr JOIN rowtot USING (from_t)),
          states AS MATERIALIZED (SELECT DISTINCT st FROM
             (SELECT from_t st FROM pm
              UNION ALL SELECT to_t FROM pm) x),
          kk AS (SELECT count(*) k FROM states),
          v0 AS MATERIALIZED (SELECT st, floor((1.0 / k) * 1e8 + 0.5) / 1e8 v
           FROM states CROSS JOIN kk),
          $rounds
          SELECT st AS state, floor((v) * 1e6 + 0.5) / 1e6 + 0 AS pi,
            CAST(coalesce(na, 0) AS BIGINT) n_out
          FROM v8 LEFT JOIN rowtot ON rowtot.from_t = v8.st
          ORDER BY 1"""
    },

    "q333_gini_lorenz" ->
      """WITH per AS (SELECT user_id,
             sum(CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT)) cents
           FROM events GROUP BY 1),
          r AS (SELECT user_id, cents,
             row_number() OVER (ORDER BY cents, user_id) rk FROM per),
          mom AS (SELECT count(*) n, sum(cents::DECIMAL(38,0)) s,
             sum(rk::DECIMAL(38,0) * cents) rs FROM r),
          g AS (SELECT n, s,
             floor((CAST(2 * rs - (n + 1) * s AS DOUBLE)
               / (n::DOUBLE * s::DOUBLE)) * 1e6 + 0.5) / 1e6 + 0 gini FROM mom),
          dec AS (SELECT (rk - 1) * 10 // n + 1 decile,
             count(*) n_users, sum(cents) decile_cents
           FROM r CROSS JOIN (SELECT n FROM mom) m GROUP BY 1)
          SELECT a.decile, CAST(a.n_users AS BIGINT) n_users,
            CAST(a.decile_cents AS BIGINT) decile_cents,
            floor((sum(b.decile_cents)::DOUBLE / max(g.s::DOUBLE)) * 1e6 + 0.5) / 1e6
              + 0 AS cum_share,
            max(g.gini) + 0 AS gini
          FROM dec a JOIN dec b ON b.decile <= a.decile CROSS JOIN g
          GROUP BY a.decile, a.n_users, a.decile_cents
          ORDER BY a.decile""",

    "q334_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
               AS BIGINT) digit, count(*) n
           FROM (SELECT CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) cents
                 FROM events) x
           WHERE cents > 0 GROUP BY 1),
          t AS (SELECT sum(n) nt FROM d),
          terms AS (SELECT digit, n, nt,
             floor((log10(1.0 + 1.0 / digit)) * 1e8 + 0.5) / 1e8 pexp,
             CAST(floor((pow(n::DOUBLE
               - floor((log10(1.0 + 1.0 / digit)) * 1e8 + 0.5) / 1e8 * nt, 2)
               / (floor((log10(1.0 + 1.0 / digit)) * 1e8 + 0.5) / 1e8 * nt)
               * 100000000) * 1e0 + 0.5) / 1e0 AS BIGINT) chiterm
           FROM d CROSS JOIN t),
          chi AS (SELECT floor((sum(chiterm)::DOUBLE / 100000000) * 1e6 + 0.5) / 1e6
               + 0 chi2 FROM terms)
          SELECT digit, CAST(n AS BIGINT) n,
            floor((n::DOUBLE / nt) * 1e6 + 0.5) / 1e6 + 0 AS obs_p,
            floor((pexp) * 1e6 + 0.5) / 1e6 + 0 AS exp_p, chi2,
            chi2 <= 15.507 AS benford_ok
          FROM terms CROSS JOIN chi ORDER BY digit""",

    "q327_cusum_volume" ->
      """WITH wv AS (SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 wk, count(*) c
           FROM events GROUP BY 1, 2),
          tot AS (SELECT event_type, sum(c) n, count(*) n_weeks
                  FROM wv GROUP BY 1),
          cs AS (SELECT wv.event_type, wk, c,
             row_number() OVER (PARTITION BY wv.event_type
               ORDER BY wk) idx,
             sum(c) OVER (PARTITION BY wv.event_type ORDER BY wk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pre,
             n, n_weeks
           FROM wv JOIN tot USING (event_type)),
          x AS (SELECT event_type, wk, c,
             n_weeks * pre - idx * n wcusum, n_weeks
           FROM cs),
          b AS (SELECT event_type, min(wk) FILTER (
               WHERE abs(wcusum) = mx) best_wk
           FROM (SELECT event_type, wk, wcusum,
                   max(abs(wcusum)) OVER (PARTITION BY event_type) mx
                 FROM x) t
           GROUP BY 1)
          SELECT x.event_type, wk, CAST(c AS BIGINT) c,
            floor((wcusum::DOUBLE / n_weeks) * 1e6 + 0.5) / 1e6 + 0 AS cusum,
            wk = best_wk AS change_point
          FROM x JOIN b ON x.event_type = b.event_type
          ORDER BY x.event_type, wk""",

    "q328_neyman_allocation" ->
      """WITH m AS (SELECT source, count(*) nh,
             sum(n_chars::DECIMAL(38,0)) sx,
             sum(n_chars::DECIMAL(38,0) * n_chars) sxx
           FROM documents GROUP BY 1),
          w AS (SELECT source, nh,
             CAST(floor((nh * floor((sqrt(
               (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / nh)
               / (nh - 1))) * 1e6 + 0.5) / 1e6 * 1000000) * 1e0 + 0.5) / 1e0 AS BIGINT) w_micro
           FROM m),
          t AS (SELECT sum(w_micro) wsum FROM w),
          q AS (SELECT source, nh, w_micro,
             CAST((1000 * w_micro::HUGEINT) // wsum::HUGEINT
               AS BIGINT) base,
             (1000 * w_micro::HUGEINT) % wsum::HUGEINT rem
           FROM w CROSS JOIN t),
          r AS (SELECT q.*, row_number() OVER
               (ORDER BY rem DESC, source) rk,
             1000 - sum(base) OVER () leftover
           FROM q)
          SELECT source, CAST(nh AS BIGINT) nh,
            floor((w_micro::DOUBLE / 1000000) * 1e6 + 0.5) / 1e6 + 0 AS weight,
            CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
              AS BIGINT) alloc
          FROM r ORDER BY source""",

    "q329_robust_means" ->
      """WITH ev AS MATERIALIZED (SELECT event_type,
             CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) cents FROM events),
          cuts AS (SELECT event_type,
             CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) lo,
             CAST(ceil(quantile_cont(cents, 0.95)) AS BIGINT) hi,
             floor((quantile_cont(cents, 0.5) / 100) * 1e6 + 0.5) / 1e6 + 0 median
           FROM ev GROUP BY 1)
          SELECT ev.event_type, CAST(count(*) AS BIGINT) n,
            max(median) + 0 AS median,
            floor((sum(cents)::DOUBLE / count(*) / 100) * 1e6 + 0.5) / 1e6 + 0 AS mean,
            floor((sum(greatest(least(cents, hi), lo))::DOUBLE
              / count(*) / 100) * 1e6 + 0.5) / 1e6 + 0 AS winsorized_mean,
            floor((CASE WHEN sum(CASE WHEN cents BETWEEN lo AND hi
                THEN 1 ELSE 0 END) = 0 THEN 0.0
              ELSE sum(CASE WHEN cents BETWEEN lo AND hi
                THEN cents ELSE 0 END)::DOUBLE
                / sum(CASE WHEN cents BETWEEN lo AND hi
                  THEN 1 ELSE 0 END) / 100 END) * 1e6 + 0.5) / 1e6 + 0
              AS trimmed_mean
          FROM ev JOIN cuts USING (event_type)
          GROUP BY ev.event_type
          ORDER BY ev.event_type""",

    "q330_last_touch" ->
      """WITH ev AS MATERIALIZED (SELECT user_id, event_id,
             event_type, CAST(floor(epoch(ts)) AS BIGINT) sec,
             CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) cents FROM events),
          pur AS (SELECT user_id, event_id pid, sec psec, cents
                  FROM ev WHERE event_type = 'purchase'),
          clk AS (SELECT user_id, sec csec FROM ev
                  WHERE event_type = 'click'),
          best AS (SELECT pid, max(csec) csec
           FROM pur JOIN clk USING (user_id)
           WHERE csec <= psec AND csec >= psec - 604800
           GROUP BY pid),
          att AS (SELECT pur.pid, psec, cents, best.csec
                  FROM pur LEFT JOIN best USING (pid))
          SELECT psec // 604800 "week",
            CAST(count(*) AS BIGINT) n_purchases,
            CAST(sum(CASE WHEN csec IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) n_attributed,
            floor((sum(CASE WHEN csec IS NOT NULL THEN 1 ELSE 0 END)
              ::DOUBLE / count(*)) * 1e6 + 0.5) / 1e6 + 0 AS attach_rate,
            CAST(sum(CASE WHEN csec IS NOT NULL THEN cents ELSE 0 END)
              AS BIGINT) attributed_cents
          FROM att GROUP BY 1 ORDER BY 1""",

    "q323_scd2_dimension" ->
      """WITH pur AS (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) sec,
             CASE WHEN value < 50 THEN 'cheap'
                  WHEN value < 200 THEN 'mid'
                  ELSE 'premium' END tier
           FROM events WHERE event_type = 'purchase'),
          f AS (SELECT user_id, event_id, sec, tier,
             CASE WHEN lag(tier) OVER w IS NULL
                    OR lag(tier) OVER w != tier THEN 1 ELSE 0 END chg
           FROM pur
           WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
          r AS (SELECT user_id, sec, tier,
             sum(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               "version"
           FROM f),
          v AS (SELECT user_id, "version", tier,
             min(sec) valid_from
           FROM r GROUP BY 1, 2, 3)
          SELECT user_id, CAST("version" AS BIGINT) "version", tier,
            valid_from,
            lead(valid_from) OVER (PARTITION BY user_id
              ORDER BY "version") valid_to
          FROM v
          ORDER BY user_id, "version"""",

    "q324_boilerplate_ngrams" ->
      s"""WITH toks AS (SELECT source, doc_id,
             list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), x -> x != '') t
           FROM documents),
          sh AS (SELECT source, doc_id, unnest(
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               for i in range(1, len(t) - 1)])) sh
           FROM toks),
          df AS (SELECT source, sh, count(*) df FROM sh GROUP BY 1, 2),
          nd AS (SELECT source, count(*) n_docs FROM documents
                 GROUP BY 1),
          rk AS (SELECT df.source, sh, df, n_docs,
             row_number() OVER (PARTITION BY df.source
               ORDER BY df DESC, sh) rank
           FROM df JOIN nd USING (source))
          SELECT source, CAST(rank AS BIGINT) rank, sh,
            CAST(df AS BIGINT) df, CAST(n_docs AS BIGINT) n_docs,
            floor((df::DOUBLE / n_docs) * 1e6 + 0.5) / 1e6 + 0 AS doc_frac,
            df * 10 >= n_docs * 3 AS boilerplate
          FROM rk WHERE rank <= 10
          ORDER BY source, rank""",

    "q325_youden" ->
      """WITH per AS (SELECT user_id,
             (1000000 * sum(CASE WHEN event_type = 'click'
                THEN 1 ELSE 0 END))
             // (sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                + 1) p_micro,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
           FROM events GROUP BY user_id),
          curve AS (SELECT CAST(i * 50000 AS BIGINT) cut,
             sum(y) p, count(*) - sum(y) n,
             sum(CASE WHEN p_micro >= i * 50000 THEN y ELSE 0 END) tp,
             sum(CASE WHEN p_micro >= i * 50000 THEN 1 - y ELSE 0 END)
               fp
           FROM per CROSS JOIN (SELECT unnest(range(1, 11)) i)
           GROUP BY 1),
          j AS (SELECT cut, CAST(tp AS BIGINT) tp,
             CAST(fp AS BIGINT) fp,
             floor((CASE WHEN p = 0 THEN 0.0
               ELSE tp::DOUBLE / p END) * 1e6 + 0.5) / 1e6 + 0 tpr,
             floor((CASE WHEN n = 0 THEN 0.0
               ELSE fp::DOUBLE / n END) * 1e6 + 0.5) / 1e6 + 0 fpr,
             floor((floor((CASE WHEN p = 0 THEN 0.0
                 ELSE tp::DOUBLE / p END) * 1e6 + 0.5) / 1e6
               - floor((CASE WHEN n = 0 THEN 0.0
                 ELSE fp::DOUBLE / n END) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) / 1e6 + 0 j
           FROM curve),
          b AS (SELECT cut best_cut FROM j
                ORDER BY j DESC, cut LIMIT 1)
          SELECT cut, tp, fp, tpr, fpr, j, cut = best_cut AS is_best
          FROM j CROSS JOIN b
          ORDER BY cut""",

    "q326_source_concentration" ->
      """WITH c AS (SELECT lang, source, count(*) c FROM documents
             GROUP BY 1, 2),
          bl AS (SELECT lang, sum(c) n, count(*) n_sources,
             sum(c::DECIMAL(38,0) * c) sc2
           FROM c GROUP BY 1),
          e AS (SELECT c.lang, sum(CAST(floor((-(c::DOUBLE / n) * ln(c::DOUBLE / n) * 100000000) * 1e0 + 0.5) / 1e0
             AS BIGINT)) st
           FROM c JOIN bl USING (lang) GROUP BY 1)
          SELECT lang, CAST(n AS BIGINT) n,
            CAST(n_sources AS BIGINT) n_sources,
            floor((sc2::DOUBLE / (n::DOUBLE * n)) * 1e6 + 0.5) / 1e6 + 0 AS hhi,
            floor((st::DOUBLE / 100000000) * 1e6 + 0.5) / 1e6 + 0 AS entropy,
            floor(((n::DOUBLE * n) / sc2::DOUBLE) * 1e6 + 0.5) / 1e6 + 0
              AS effective_sources
          FROM bl JOIN e USING (lang)
          ORDER BY lang""",

    "q319_cohens_kappa" ->
      s"""WITH toks AS (SELECT lang gold,
             list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), x -> x != '') t
           FROM documents),
          cm AS MATERIALIZED (SELECT gold, $duckLangIdCase pred,
             count(*) c
           FROM toks GROUP BY 1, 2),
          n AS (SELECT sum(c) n FROM cm),
          d AS (SELECT coalesce(sum(c), 0) agree FROM cm
                WHERE gold = pred),
          pe AS (SELECT sum(rs::DECIMAL(38,0) * cs::DECIMAL(38,0)) spe
                 FROM (SELECT gold l, sum(c) rs FROM cm GROUP BY 1) r
                 JOIN (SELECT pred l, sum(c) cs FROM cm GROUP BY 1) cc
                   USING (l))
          SELECT CAST(n AS BIGINT) n, CAST(agree AS BIGINT) agree,
            floor((agree::DOUBLE / n) * 1e6 + 0.5) / 1e6 + 0 AS po,
            floor((spe::DOUBLE / (n::DOUBLE * n)) * 1e6 + 0.5) / 1e6 + 0 AS pe,
            floor(((floor((agree::DOUBLE / n) * 1e6 + 0.5) / 1e6
              - floor((spe::DOUBLE / (n::DOUBLE * n)) * 1e6 + 0.5) / 1e6)
              / (1 - floor((spe::DOUBLE / (n::DOUBLE * n)) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6 + 0
              AS kappa
          FROM n CROSS JOIN d CROSS JOIN pe""",

    "q320_psi_drift" ->
      """WITH ev AS MATERIALIZED (SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) sec,
             CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) cents
           FROM events),
          b AS (SELECT min(sec) t0, max(sec) t1, min(cents) c0,
                  max(cents) c1 FROM ev),
          binned AS (SELECT event_type,
             CASE WHEN sec * 2 < t0 + t1 THEN 0 ELSE 1 END half,
             least((cents - c0) * 10 // (c1 - c0 + 1), 9) bin
           FROM ev CROSS JOIN b),
          cnt AS (SELECT event_type, bin,
             sum(1 - half) na, sum(half) nb
           FROM binned GROUP BY 1, 2),
          tot AS (SELECT event_type, sum(na) ta, sum(nb) tb
                  FROM cnt GROUP BY 1),
          p AS (SELECT cnt.event_type,
             greatest(na::DOUBLE / ta, 0.0001) pa,
             greatest(nb::DOUBLE / tb, 0.0001) pb
           FROM cnt JOIN tot USING (event_type))
          SELECT event_type,
            floor((sum(CAST(floor(((pa - pb) * ln(pa / pb) * 100000000) * 1e0 + 0.5) / 1e0
              AS BIGINT))::DOUBLE / 100000000) * 1e6 + 0.5) / 1e6 + 0 AS psi,
            floor((sum(CAST(floor(((pa - pb) * ln(pa / pb) * 100000000) * 1e0 + 0.5) / 1e0
              AS BIGINT))::DOUBLE / 100000000) * 1e6 + 0.5) / 1e6 + 0 < 0.1 AS stable
          FROM p GROUP BY 1 ORDER BY 1""",

    "q321_info_gain" ->
      """WITH per AS (SELECT user_id, count(*) n_events,
             count(DISTINCT CAST(ts AS DATE)) active_days,
             sum(CASE WHEN event_type != 'purchase'
               THEN CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) ELSE 0 END)
               value_cents,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
           FROM events GROUP BY 1),
          grid AS (
            SELECT 'n_events' feature,
              CAST(pow(2, i) AS BIGINT) threshold
            FROM (SELECT unnest(range(1, 8)) i)
            UNION ALL
            SELECT 'active_days', CAST(pow(2, i) AS BIGINT)
            FROM (SELECT unnest(range(1, 8)) i)
            UNION ALL
            SELECT 'value_cents', CAST(pow(2, i + 7) AS BIGINT)
            FROM (SELECT unnest(range(1, 8)) i)),
          j AS (SELECT feature, threshold,
             CASE feature WHEN 'n_events' THEN n_events
               WHEN 'active_days' THEN active_days
               ELSE value_cents END >= threshold hi, y
           FROM per CROSS JOIN grid),
          c AS (SELECT feature, threshold, count(*) n, sum(y) ny,
             sum(CASE WHEN hi THEN 1 ELSE 0 END) nh,
             sum(CASE WHEN hi THEN y ELSE 0 END) nhy
           FROM j GROUP BY 1, 2),
          q AS (SELECT feature, threshold, n, nh,
             ny::DOUBLE / n p0,
             CASE WHEN nh = 0 THEN 0.0 ELSE nhy::DOUBLE / nh END ph,
             CASE WHEN n = nh THEN 0.0
               ELSE (ny - nhy)::DOUBLE / (n - nh) END pl
           FROM c)
          SELECT feature, threshold, CAST(n AS BIGINT) n,
            CAST(nh AS BIGINT) nh,
            floor(((CASE WHEN p0 <= 0 OR p0 >= 1 THEN 0
                ELSE -(p0) * log2(p0) - (1 - p0) * log2(1 - p0) END)
              - (nh::DOUBLE / n)
                * (CASE WHEN ph <= 0 OR ph >= 1 THEN 0
                   ELSE -(ph) * log2(ph) - (1 - ph) * log2(1 - ph) END)
              - ((n - nh)::DOUBLE / n)
                * (CASE WHEN pl <= 0 OR pl >= 1 THEN 0
                   ELSE -(pl) * log2(pl) - (1 - pl) * log2(1 - pl) END)) * 1e6 + 0.5) / 1e6 + 0 AS gain
          FROM q
          ORDER BY gain DESC, feature, threshold""",

    "q322_cohort_retention" ->
      """WITH uw AS MATERIALIZED (SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 wk
           FROM events),
          c AS (SELECT user_id, min(wk) w0 FROM uw GROUP BY 1),
          sz AS (SELECT w0, count(*) cohort_n FROM c GROUP BY 1),
          act AS (SELECT c.w0 cohort_week, uw.wk - c.w0 age_week,
             count(*) n_active
           FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
          SELECT cohort_week, age_week,
            CAST(n_active AS BIGINT) n_active,
            CAST(cohort_n AS BIGINT) cohort_n,
            floor((n_active::DOUBLE / cohort_n) * 1e6 + 0.5) / 1e6 + 0 AS retention
          FROM act JOIN sz ON sz.w0 = act.cohort_week
          ORDER BY cohort_week, age_week""",

    // exact intersections hash-checked; the sketch gate asserted TRUE
    // (q255's reconciliation pattern)
    "q315_hll_overlap" ->
      """WITH pr AS (SELECT * FROM (VALUES
             ('view', 'click'), ('view', 'purchase'),
             ('click', 'purchase')) t(type_a, type_b)),
          x AS (SELECT type_a, type_b,
             (SELECT count(*) FROM
               (SELECT DISTINCT user_id FROM events
                 WHERE event_type = type_a) a
               JOIN (SELECT DISTINCT user_id FROM events
                 WHERE event_type = type_b) b USING (user_id))
             n_common
           FROM pr)
          SELECT type_a, type_b, CAST(n_common AS BIGINT) n_common,
            TRUE AS hll_ok
          FROM x""",

    "q316_unigram_surprisal" ->
      """WITH tok AS MATERIALIZED (SELECT doc_id, unnest(
             list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), x -> x != '')) w
           FROM documents),
          cnt AS (SELECT w, count(*) c FROM tok GROUP BY 1),
          n AS (SELECT sum(c) n_total FROM cnt),
          micro AS (SELECT w,
             CAST(floor((-log2(c::DOUBLE / n_total)) * 1e6 + 0.5) / 1e6 * 1000000
               AS BIGINT) micro_bits
           FROM cnt CROSS JOIN n)
          SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens,
            floor((CAST(sum(micro_bits) AS DOUBLE) / 1000000
              / count(*)) * 1e6 + 0.5) / 1e6 + 0 AS bits_per_token
          FROM tok JOIN micro USING (w)
          GROUP BY doc_id
          ORDER BY bits_per_token DESC, doc_id
          LIMIT 20""",

    "q317_reliability_ece" ->
      """WITH per AS (SELECT user_id,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) k,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) v,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
           FROM events GROUP BY 1),
          bins AS (SELECT (10 * k) // (k + v + 1) bin,
             count(*) n,
             sum((1000000 * k) // (k + v + 1)) sp,
             sum(y) sy
           FROM per GROUP BY 1),
          e AS (SELECT floor((sum(abs(sp - 1000000 * sy))::DOUBLE
                  / 1000000 / sum(n)) * 1e6 + 0.5) / 1e6 + 0 ece
                FROM bins)
          SELECT CAST(bin AS BIGINT) bin, CAST(n AS BIGINT) n,
            floor((sp::DOUBLE / 1000000 / n) * 1e6 + 0.5) / 1e6 + 0 AS mean_conf,
            floor((sy::DOUBLE / n) * 1e6 + 0.5) / 1e6 + 0 AS obs_rate,
            floor((abs(sp::DOUBLE / 1000000 / n - sy::DOUBLE / n)) * 1e6 + 0.5) / 1e6
              + 0 AS gap,
            ece
          FROM bins CROSS JOIN e
          ORDER BY bin""",

    "q318_poisson_bootstrap" ->
      """WITH pur AS (SELECT event_id,
             CAST(floor((value * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) cents
           FROM events WHERE event_type = 'purchase'),
          reps AS (SELECT cents, b AS "replica",
             (((event_id % 1000003) * 2654435761
               + (b + 1) * 40503) % 1000003)::DOUBLE / 1000003.0 u
           FROM pur CROSS JOIN (SELECT unnest(range(0, 32)) b)),
          w AS (SELECT "replica", cents,
             CASE WHEN u < 0.367879 THEN 0
                  WHEN u < 0.735759 THEN 1
                  WHEN u < 0.919699 THEN 2
                  WHEN u < 0.981012 THEN 3
                  WHEN u < 0.996340 THEN 4
                  ELSE 5 END w
           FROM reps),
          means AS (SELECT CAST("replica" AS BIGINT) "replica",
             floor((CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100) * 1e6 + 0.5) / 1e6
               + 0 boot_mean
           FROM w GROUP BY 1),
          ci AS (SELECT min(boot_mean) ci_lo,
             floor((quantile_cont(boot_mean, 0.5)) * 1e6 + 0.5) / 1e6 + 0 ci_med,
             max(boot_mean) ci_hi FROM means),
          pt AS (SELECT CAST(count(*) AS BIGINT) n,
             floor((CAST(sum(cents) AS DOUBLE) / count(*) / 100) * 1e6 + 0.5) / 1e6
               + 0 point_mean
           FROM pur)
          SELECT "replica", boot_mean, n, point_mean, ci_lo, ci_med,
            ci_hi
          FROM means CROSS JOIN ci CROSS JOIN pt
          ORDER BY "replica""""
  )
}
