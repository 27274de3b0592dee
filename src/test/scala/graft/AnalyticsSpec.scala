package graft

import org.apache.spark.sql.{functions => F}
import graft.ops.Graph

/** Equivalence/property tests for the analytics-family operators
  * (decorrelated TPC-H shapes, engagement curves, weighted quantiles,
  * PageRank) — each checked against an independent formulation, the
  * reference's cross-implementation-agreement test style.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank matches dense driver-side iteration on a hand graph") {
    // undirected star 1—2, 1—3, 1—4 plus chain 4—5 (both directions)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // 16 iterations cross two CkptRounds boundaries: the returned frame
    // reads the last round checkpoint, which must still be there
    for (iters <- Seq(3, 16)) {
      val got = Graph.pageRank(edges, iters = iters, damping = 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      // dense reference computation
      val nodes = (1L to 5L).toSeq
      val n = nodes.size
      val out = (und ++ und.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      var pr = nodes.map(v => v -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val inflow = nodes.map { v =>
          v -> nodes.filter(u => out(u).contains(v))
            .map(u => pr(u) / out(u).size).sum
        }.toMap
        pr = nodes.map(v => v -> (0.15 / n + 0.85 * inflow(v))).toMap
      }
      nodes.foreach { v =>
        assert(math.abs(got(v) - pr(v)) < 1e-12,
          s"iters $iters, node $v: got ${got(v)}, want ${pr(v)}")
      }
      // no dangling nodes → total mass conserved
      assert(math.abs(got.values.sum - 1.0) < 1e-12)
    }
  }

  test("pageRank handles dangling nodes (rank received, none emitted)") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 1, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.15 / 2) < 1e-12)
    assert(math.abs(got(2L) - (0.15 / 2 + 0.85 * 0.5)) < 1e-12)
  }

  test("q142 decorrelated late-supplier equals the EXISTS formulation") {
    val dir = sf
    val got = SparkEntry.queries("q142_late_supplier")(spark, dir)
    T.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    T.load(spark, dir, "orders").createOrReplaceTempView("orders")
    // direct translation of TPC-H Q21's correlated EXISTS / NOT EXISTS
    val want = spark.sql(
      """WITH j AS (SELECT l_orderkey, l_suppkey,
                      datediff(l_shipdate, o_orderdate) > 365 AS late
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    WHERE o_orderstatus = 'F')
         SELECT l_suppkey, count(*) AS numwait
         FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM j l1
               WHERE late
                 AND EXISTS (SELECT 1 FROM j l2
                             WHERE l2.l_orderkey = l1.l_orderkey
                               AND l2.l_suppkey <> l1.l_suppkey)
                 AND NOT EXISTS (SELECT 1 FROM j l3
                                 WHERE l3.l_orderkey = l1.l_orderkey
                                   AND l3.l_suppkey <> l1.l_suppkey
                                   AND l3.late))
         GROUP BY 1""")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q144 contribute-forward WAU equals naive per-day rescan") {
    val dir = sf
    val got = SparkEntry.queries("q144_stickiness")(spark, dir)
      .select("day", "wau")
    val du = T.load(spark, dir, "events")
      .select(F.to_date(F.col("ts")).as("day"), F.col("user_id"))
      .distinct()
    val days = du.select("day").distinct()
    // naive: for each day, count distinct users over the trailing week
    val want = days.as("d").join(du.as("a"),
        F.col("a.day").between(F.date_sub(F.col("d.day"), 6),
          F.col("d.day")))
      .groupBy(F.col("d.day").as("day"))
      .agg(F.countDistinct("user_id").as("wau"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q139 two-level aggregation equals the correlated-left-join SQL") {
    val dir = sf
    val got = SparkEntry.queries("q139_cust_orders_dist")(spark, dir)
    T.load(spark, dir, "customer").createOrReplaceTempView("customer")
    T.load(spark, dir, "orders").createOrReplaceTempView("orders")
    val want = spark.sql(
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey,
             (SELECT count(*) FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderpriority <> '1-URGENT') AS c_count
           FROM customer)
         GROUP BY 1""")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q140 decorrelated threshold join equals the scalar-subquery SQL") {
    val dir = sf
    val got = SparkEntry.queries("q140_small_qty_rev")(spark, dir)
    T.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    T.load(spark, dir, "part").createOrReplaceTempView("part")
    val want = spark.sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand = 'Brand#7'
           AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = lineitem.l_partkey)""")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q153 weighted median equals driver-side brute force") {
    val dir = sf
    val got = SparkEntry.queries("q153_weighted_median")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = T.load(spark, dir, "lineitem")
      .select("l_suppkey", "l_extendedprice", "l_quantity")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    rows.groupBy(_._1).foreach { case (supp, xs) =>
      val sorted = xs.sortBy(_._2)
      val tot = sorted.map(_._3).sum
      var cum = 0.0
      val med = sorted.find { x => cum += x._3; cum >= tot / 2 }.get._2
      val want = BigDecimal(med)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(supp) - want) < 1e-9, s"supplier $supp")
    }
  }

  test("q169 window-min decorrelation equals correlated-subquery SQL") {
    val dir = sf
    val got = SparkEntry.queries("q169_min_cost_supp")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    Seq("lineitem", "part", "supplier", "nation", "region").foreach { t =>
      T.load(spark, dir, t).createOrReplaceTempView(t) }
    // literal TPC-H Q2 form: correlated scalar subquery over the same
    // derived supply relation — Catalyst decorrelates it independently
    val want = spark.sql(
      """WITH ps AS (SELECT l_partkey, l_suppkey,
               min(floor(l_extendedprice / l_quantity * 100 + 0.5) / 100)
                 AS cost
             FROM lineitem GROUP BY 1, 2),
          elig AS (SELECT s_suppkey, s_name FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'EUROPE'),
          cand AS (SELECT p_partkey, s_name, cost FROM ps
             JOIN part ON l_partkey = p_partkey AND p_size = 15
             JOIN elig ON l_suppkey = s_suppkey)
          SELECT p_partkey, s_name, cost FROM cand c
          WHERE cost = (SELECT min(cost) FROM cand c2
                        WHERE c2.p_partkey = c.p_partkey)""")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("floor-form rounding matches DuckDB on the sf0.1 knife-edge rows") {
    // Round-13 cross-scale sweep: round(x, d) diverges between Spark
    // (HALF_UP on the shortest decimal repr of the double) and DuckDB
    // (rounds the binary value) exactly when x sits on an exact d-dp
    // half. q15/q169/q194/q214/q218 now emit floor(x*10^d + 0.5)/10^d
    // — the same IEEE op sequence in both engines — and these literals
    // pin the DuckDB-computed values for the four knife-edge rows the
    // sf0.1 sweep caught (each was previously one digit off).
    // literals are CAST to DOUBLE because both engines parse bare
    // decimal literals as DECIMAL — the queries operate on double
    // parquet columns, so double semantics are what must be pinned
    val got = spark.sql(
      """SELECT floor((CAST(57.63 AS DOUBLE) - CAST(6.4 AS DOUBLE))
                  / CAST(6.4 AS DOUBLE) * 1e6 + 0.5) / 1e6,
                floor(CAST(6674.04 AS DOUBLE) / CAST(24.0 AS DOUBLE)
                  * 100 + 0.5) / 100,
                floor((CAST(206.835 AS DOUBLE)
                       - CAST(1.015 AS DOUBLE) * 64 / 1
                       - CAST(84.6 AS DOUBLE) * 86 / 64)
                  * 1e4 + 0.5) / 1e4,
                floor((CAST(206.835 AS DOUBLE)
                       - CAST(1.015 AS DOUBLE) * 64 / 1
                       - CAST(84.6 AS DOUBLE) * 102 / 64)
                  * 1e4 + 0.5) / 1e4""").head()
    assert(got.getDouble(0) == 8.004687)  // q15 pct; round() said .688
    assert(got.getDouble(1) == 278.08)    // q169 cost; round() said .09
    assert(got.getDouble(2) == 28.1938)   // q218 flesch (doc 1271)
    assert(got.getDouble(3) == 7.0438)    // q218 flesch (doc 2548)
    // the old Spark round() answer, for contrast: the decimal-repr
    // HALF_UP reads 8.0046875 as an exact half and rounds it up,
    // while the engines' shared double sits just below
    assert(spark.sql(
      """SELECT round((CAST(57.63 AS DOUBLE) - CAST(6.4 AS DOUBLE))
           / CAST(6.4 AS DOUBLE), 6)""").head().getDouble(0) == 8.004688)
  }

  test("q179 semi-join EXISTS equals distinct-late-order count") {
    val dir = sf
    val got = SparkEntry.queries("q179_order_priority_exists")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = T.load(spark, dir, "orders")
      .filter(F.expr("""o_orderdate >= timestamp'1996-01-01'
        and o_orderdate < timestamp'1996-04-01'"""))
    val l = T.load(spark, dir, "lineitem")
    // independent formulation: inner-join, dedup order keys, then count
    val want = o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > F.expr("o_orderdate + interval 45 days"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.sum > 0)
  }

  test("kCore peels a hand graph to its known core") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4—1 + isolated-ish chain 5—6:
    // 2-core = the triangle, every core degree = 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (5L, 6L))
      .toDF("a", "b")
    val got = graft.ops.Graph.kCore(edges, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree → empty core
    assert(graft.ops.Graph.kCore(edges, 4).count() == 0)
  }

  test("kCore maxRounds exit recomputes degrees on the peeled subgraph") {
    import spark.implicits._
    // round-12 verdict stretch: the maxRounds exit path recomputes
    // degrees (lastDeg predates the final edge filter) — pin it with a
    // run forced to stop after ONE peel round. Path 1-2-3-4-5 plus
    // triangle 6-7-8, k=2: round 1 drops the endpoints {1,5}; the
    // surviving subgraph is 2-3-4 (degs 1,2,1) + the triangle. A stale
    // lastDeg would report pre-filter degrees and keep {2,4}.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (6L, 8L), (7L, 8L)).toDF("a", "b")
    val got = graft.ops.Graph.kCore(edges, 2, maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L),
      s"maxRounds exit returned stale degrees: $got")
    // and run to convergence the same graph peels to the triangle
    val full = graft.ops.Graph.kCore(edges, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(6L -> 2L, 7L -> 2L, 8L -> 2L))
  }

  test("kCore leaves no per-round checkpoint behind") {
    import spark.implicits._
    // a path peels its two end nodes per round at k = 2, so its length
    // sets the round count; what kCore leaves pinned must not grow with
    // it, on the converged exit and on the maxRounds exit
    def path(n: Long) = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    // count only RDDs made by this call (ids only grow): the context
    // holds persisted RDDs weakly, so older ones vanish on any GC
    def left(n: Long, maxRounds: Int): Int = {
      val sc = spark.sparkContext
      val firstId = sc.emptyRDD[Int].id
      val got = graft.ops.Graph.kCore(path(n), 2, maxRounds)
      got.collect()
      val pinned = sc.getPersistentRDDs.keys.count(_ > firstId)
      assert(got.columns.nonEmpty) // keeps what the result reads alive
      pinned
    }
    assert(left(6, 32) == left(20, 32)) // 4 vs 11 rounds
    assert(left(40, 2) == left(40, 6))
  }

  test("q186 distributed peel equals driver-side simultaneous peeling") {
    val ol = T.load(spark, sf, "lineitem")
      .select(F.col("l_orderkey").as("o"), F.col("l_partkey").as("p"))
      .distinct()
    val edges = ol.toDF("o", "a")
      .join(ol.toDF("o2", "b"),
        F.col("o") === F.col("o2") && F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("nab"))
      .filter(F.col("nab") >= 2).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side reference: delete ALL deg<k nodes each round
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (x, y) =>
      adj.getOrElseUpdate(x, scala.collection.mutable.Set.empty) += y
      adj.getOrElseUpdate(y, scala.collection.mutable.Set.empty) += x
    }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, s) if s.size < 3 => n }.toSet
      changed = drop.nonEmpty
      drop.foreach { n =>
        adj(n).foreach(m => adj.get(m).foreach(_ -= n))
        adj -= n
      }
    }
    val want = adj.map { case (n, s) => n -> s.size.toLong }.toMap
    val got = SparkEntry.queries("q186_kcore")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("q192 Theil-Sen equals driver-side median-of-pairwise-slopes") {
    val ev = T.load(spark, sf, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_timestamp(F.col("ts")).as("x"), F.col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    def interp(s: Array[Double], q: Double): Double = {
      val pos = q * (s.length - 1); val k = pos.toInt; val g = pos - k
      if (k + 1 < s.length) (1 - g) * s(k) + g * s(k + 1) else s(k)
    }
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val slopes = (for {
        a <- rows; b <- rows
        if a._2 < b._2 && a._3 != b._3
      } yield (b._4 - a._4) / (b._3 - a._3)).sorted
      if (slopes.length < 10) None
      else Some(u -> BigDecimal(interp(slopes, 0.5) * 3600)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SparkEntry.queries("q192_theilsen")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (u, v) =>
      assert(math.abs(got(u) - v) < 1e-9, s"user $u") }
  }

  test("q194 WOE equals driver-side counts; IV contributions nonnegative") {
    val ev = T.load(spark, sf, "events")
      .select(F.floor(F.col("value") / 50).cast("long").as("b"),
        (F.col("event_type") === "purchase").cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val per = ev.groupBy(_._1).map { case (b, xs) =>
      (b, xs.count(_._2 == 1L).toLong, xs.count(_._2 == 0L).toLong) }
    val tp = per.map(_._2).sum.toDouble
    val tn = per.map(_._3).sum.toDouble
    val want = per.map { case (b, pos, neg) =>
      b -> math.log(((pos + 0.5) / tp) / ((neg + 0.5) / tn)) }.toMap
    val got = SparkEntry.queries("q194_woe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._1).toSet == want.keySet)
    got.foreach { case (b, woe, iv) =>
      assert(math.abs(woe - want(b)) < 1e-5, s"bucket $b")
      // (posf - negf) and woe share sign up to the 0.5 smoothing, so a
      // materially negative IV part would mean the formula is wrong
      assert(iv > -1e-3, s"bucket $b iv=$iv")
    }
  }

  test("q195 Markov rows: per-state probabilities sum to 1") {
    val rows = SparkEntry.queries("q195_markov")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cur, ts) =>
      val p = ts.map(_._4).sum
      assert(math.abs(p - 1.0) < 1e-4, s"state $cur sums to $p")
      // probabilities are the count rationals they claim to be
      val tot = ts.map(_._3).sum.toDouble
      ts.foreach { case (_, _, n, pr) =>
        assert(math.abs(pr - n / tot) < 1e-6) }
    }
  }


  test("q187 EWMA equals driver-side pandas-style adjust=true smoothing") {
    val counts = T.load(spark, sf, "events")
      .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("day"))
      .agg(F.count(F.lit(1)).cast("double").as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
    val want = counts.groupBy(_._1).flatMap { case (t, rows) =>
      val series = rows.sortBy(_._2)
      series.indices.map { i =>
        val frame = series.slice(math.max(0, i - 23), i + 1).map(_._3)
        val k = frame.length
        // left fold in frame order, farthest-first weights — the same
        // association the in-plan aggregate() uses
        val num = frame.zipWithIndex
          .map { case (v, j) => v * math.pow(0.9, k - 1 - j) }
          .foldLeft(0.0)(_ + _)
        val den = (1 - math.pow(0.9, k)) / 0.1
        (t, series(i)._2) -> BigDecimal(num / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val got = SparkEntry.queries("q187_ewma")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getDouble(2))
      .toMap
    assert(got.size == want.size)
    want.foreach { case (key, v) =>
      assert(math.abs(got(key) - v) < 1e-9, s"$key: ${got(key)} vs $v")
    }
  }

  test("jaroWinkler expression pins the textbook/DuckDB values") {
    import graft.plans.StringSimilarityKernels.{jaroWinkler => jw}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // classic published pairs + boost-threshold and empty edges
    assert(math.abs(jw(u("MARTHA"), u("MARHTA")) - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw(u("DIXON"), u("DICKSONX")) - 0.8133333333333332) < 1e-15)
    assert(math.abs(jw(u("JELLYFISH"), u("SMELLYFISH")) - 0.8962962962962964) < 1e-15)
    // jaro = 0.6 <= 0.7: Winkler boost NOT applied despite 4-char prefix
    assert(math.abs(jw(u("abcdxxxxxx"), u("abcdyyyyyy")) - 0.6) < 1e-15)
    assert(jw(u(""), u("abc")) == 0.0)
    assert(jw(u("a"), u("b")) == 0.0)
    assert(jw(u("abc"), u("abc")) == 1.0)
    // codegen path evaluates identically to the interpreted path
    import spark.implicits._
    val df = Seq(("MARTHA", "MARHTA"), ("CRATE", "TRACE")).toDF("a", "b")
      .select(graft.plans.StringSimilarity.jaroWinkler(
        F.col("a"), F.col("b")).as("jw"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.9611111111111111) < 1e-15)
    assert(math.abs(got(1) - 0.7333333333333334) < 1e-15)
  }

  test("q185 log2-length-bucket prune is lossless vs unbucketed blocking") {
    // the oracle's definition: all (brand, type) pairs, jw >= 0.9 —
    // the length-bucket probe must change nothing
    val p = T.load(spark, sf, "part")
      .select("p_partkey", "p_brand", "p_type", "p_name")
    val a = p.toDF("k1", "p_brand", "p_type", "n1")
    val b = p.toDF("k2", "p_brand", "p_type", "n2")
    val brute = a.join(b, Seq("p_brand", "p_type"))
      .filter(F.col("k1") < F.col("k2"))
      .withColumn("jw0", graft.plans.StringSimilarity.jaroWinkler(
        F.col("n1"), F.col("n2")))
      .filter(F.col("jw0") >= 0.9)
      .select(F.col("p_brand"), F.col("p_type"), F.col("k1"), F.col("k2"),
        F.round(F.col("jw0"), 4).as("jw"))
    val got = SparkEntry.queries("q185_jaro_linkage")(spark, sf)
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }
}
