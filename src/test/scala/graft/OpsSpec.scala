package graft

import org.apache.spark.sql.{functions => F}
import graft.ops.RelOps._
import graft.ops.ReshapeOps._
import graft.ops.SeqOps._
import graft.ops.StatOps._

/** Wave-2 operator suites: reshape round-trips, window algebra, stats —
  * reference-style equivalence assertions (SURVEY.md §5.1).
  */
class OpsSpec extends SparkSpec {

  test("stack emits rows x measures and melt complements id vars") {
    val li = T.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    val st = li.stackCols(Seq("l_quantity", "l_discount"),
      Seq("l_orderkey", "l_linenumber"))
    assert(st.count() == li.count() * 2)
    assert(st.columns.toSeq ==
      Seq("l_orderkey", "l_linenumber", "variable", "value"))
    val me = li.melt(Seq("l_orderkey", "l_linenumber"))
    assert(me.count() == st.count())
  }

  test("pivot_table agrees with manual conditional aggregation") {
    val o = T.load(spark, sf, "orders")
    val p = o.pivotTable(Seq("o_orderpriority"), "o_orderstatus",
      Seq("F", "O"), "count(o_orderkey)")
    val manual = o.groupBy("o_orderpriority").agg(
      F.count(F.when(F.col("o_orderstatus") === "F", 1)).as("F"),
      F.count(F.when(F.col("o_orderstatus") === "O", 1)).as("O"))
    assert(p.exceptAll(manual).isEmpty && manual.exceptAll(p).isEmpty)
  }

  test("xtab cells are zero-filled and sum to the row count") {
    val o = T.load(spark, sf, "orders")
    val x = o.xtab("o_orderpriority", "o_orderstatus", Seq("F", "O", "P"))
    val total = x.select((F.col("F") + F.col("O") + F.col("P")).as("s"))
      .agg(F.sum("s")).first().getLong(0)
    assert(total == o.count())
    assert(x.filter(F.col("F").isNull || F.col("O").isNull).count() == 0)
  }

  test("cumsum running total ends at the group sum") {
    val o = T.load(spark, sf, "orders")
    val cum = o.cumsum("o_totalprice", "rt", Seq("o_custkey"),
      Seq("o_orderdate", "o_orderkey"))
    val lastPerGroup = cum.groupBy("o_custkey").agg(F.max("rt").as("rt"))
    val direct = o.groupBy("o_custkey")
      .agg(F.sum("o_totalprice").as("expected"))
    val joined = lastPerGroup.join(direct, "o_custkey")
      .filter(F.abs(F.col("rt") - F.col("expected")) > 1e-6)
    assert(joined.count() == 0)
  }

  test("diff reconstructs the series when cumulated back") {
    val e = T.load(spark, sf, "events")
      .diff("value", "dv", Seq("user_id"), Seq("ts", "event_id"))
    // first row per user has null diff; later rows: value = prev + dv
    val bad = e.withColumn("prev",
      F.lag("value", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")))
      .filter(F.col("dv").isNotNull &&
        F.abs(F.col("prev") + F.col("dv") - F.col("value")) > 1e-9)
    assert(bad.count() == 0)
  }

  test("cumprod matches exp-sum-log within tolerance") {
    val o = T.load(spark, sf, "orders").limit(100)
      .within("x" -> "1.0 + o_totalprice / 1000000.0")
    val cp = o.cumprod("x", "p", Nil, Seq("o_orderkey"))
    // last value equals the direct product of all x
    val last = cp.orderBy(F.col("o_orderkey").desc).limit(1)
      .select("p").first().getDouble(0)
    val direct = o.select(F.exp(F.sum(F.log("x")))).first().getDouble(0)
    assert(math.abs(last - direct) / direct < 1e-9)
  }

  test("describeColsExact returns one row per column with exact count") {
    val li = T.load(spark, sf, "lineitem")
    val d = li.describeColsExact(Seq("l_quantity", "l_discount")).collect()
    assert(d.length == 2)
    val n = li.count().toDouble
    d.foreach { r => assert(r.getAs[Double]("n") == n) }
  }

  test("exact quantiles handle infinities and full-double-range spans") {
    import spark.implicits._
    // ±Inf occupy the extreme ranks; interior refines over finite values
    val withInf = Seq(Double.NegativeInfinity, 1.0, 2.0, 3.0, 4.0,
      Double.PositiveInfinity).toDF("x")
    val qs = graft.ops.Quantiles.exact(withInf, "x", Seq(0.0, 0.5, 1.0))
    assert(qs(0) == Double.NegativeInfinity)
    assert(qs(1) == 2.5) // median of ranks 2,3 → (2+3)/2
    assert(qs(2) == Double.PositiveInfinity)
    // a finite span that overflows (hi - lo = Inf in naive arithmetic)
    val wide = Seq(-1.5e308, -1.0, 0.0, 1.0, 1.5e308).toDF("x")
    val qw = graft.ops.Quantiles.exact(wide, "x", Seq(0.25, 0.5, 0.75))
    assert(qw == Seq(-1.0, 0.0, 1.0))
    // all-infinite column resolves without refinement
    val allInf = Seq(Double.NegativeInfinity, Double.PositiveInfinity)
      .toDF("x")
    val qi = graft.ops.Quantiles.exact(allInf, "x", Seq(0.0, 1.0))
    assert(qi(0) == Double.NegativeInfinity &&
      qi(1) == Double.PositiveInfinity)
  }

  test("adversarial duplicate-heavy 10^6-row quantiles: min==max bins " +
    "resolve exactly with a tiny collect limit") {
    import spark.implicits._
    // 10^6 rows: 90% a single constant (7.0), the rest spread — the
    // duplicate-heavy case where rank-selection by sorting would fetch
    // everything. A bin whose min == max resolves its ranks IN-PLAN, so
    // even a 1k collect limit (1000x smaller than the mass) finishes
    // inside the round budget and agrees with percentile() exactly.
    val n = 1000000
    val df = spark.range(n.toLong).select(
      F.when(F.col("id") % 10 =!= 0, F.lit(7.0))
        .otherwise(F.col("id").cast("double") / n).as("x"))
    val got = graft.ops.Quantiles.exactMulti(df, Seq("x"),
      Seq(0.05, 0.25, 0.5, 0.9, 0.99),
      k = 64, collectLimit = 1000L)("x")
    val exp = df.selectExpr(
      "percentile(x, array(0.05, 0.25, 0.5, 0.9, 0.99))")
      .first().getSeq[Double](0)
    got.zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"$a != $b")
    }
    // the pure-constant column resolves with zero refinement rounds
    val const = spark.range(n.toLong).select(F.lit(3.25).as("x"))
    assert(graft.ops.Quantiles.exactMulti(const, Seq("x"), Seq(0.5),
      k = 64, collectLimit = 1000L)("x") == Seq(3.25))
  }

  test("sort-based exact quantiles equal percentile()") {
    val li = T.load(spark, sf, "lineitem")
    val viaSort = graft.ops.Quantiles.exact(li, "l_extendedprice",
      Seq(0.1, 0.25, 0.5, 0.75, 0.9))
    val viaAgg = li.selectExpr(
      "percentile(l_extendedprice, array(0.1, 0.25, 0.5, 0.75, 0.9))")
      .first().getSeq[Double](0)
    viaSort.zip(viaAgg).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a != $b")
    }
    // describe variants agree
    val d1 = PlainForms.describeCols(li, Seq("l_quantity", "l_discount"))
    val d2 = li.describeColsExact(Seq("l_quantity", "l_discount"))
    assert(d1.exceptAll(d2).isEmpty && d2.exceptAll(d1).isEmpty)
  }

  test("tail returns the last n rows under the ordering (head's pair)") {
    val o = T.load(spark, sf, "orders")
    val t = o.tail(5, Ordering("o_orderkey"))
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    val expect = o.orderBy(F.col("o_orderkey").desc).limit(5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(t == expect)
    assert(t == t.sorted) // ascending presentation, like reference tail
  }

  test("issorted: one-scan distributed order check incl. desc and nulls") {
    import spark.implicits._
    val o = T.load(spark, sf, "orders")
    // a globally sorted frame is sorted under its own order...
    val sorted = o.sortBy(Ordering("o_orderkey"))
    assert(sorted.issorted(Ordering("o_orderkey")))
    // ...and NOT under the reverse; the raw frame isn't price-ordered
    assert(!sorted.issorted(Ordering("o_orderkey", desc = true)))
    assert(sorted.sortBy(Ordering("o_orderkey", desc = true))
      .issorted(Ordering("o_orderkey", desc = true)))
    assert(!o.issorted(Ordering("o_totalprice")))
    // multi-partition boundary violations are caught (partition-local
    // sort only — each partition ordered, boundaries interleave)
    val within = o.repartition(8)
      .sortWithinPartitions(F.col("o_orderkey"))
    assert(!within.issorted(Ordering("o_orderkey")))
    // nulls-first asc / nulls-last desc, matching Ordering.toColumn
    val withNulls = Seq[(java.lang.Long, String)](
      (null, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    assert(withNulls.coalesce(1).issorted(Ordering("k")))
    val descNulls = Seq[(java.lang.Long, String)](
      (2L, "a"), (1L, "b"), (null, "c")).toDF("k", "v")
    assert(descNulls.coalesce(1).issorted(Ordering("k", desc = true)))
  }

  test("globalRowNumber equals a global row_number window under a total order") {
    import spark.implicits._
    // 2000 rows, key deliberately interleaved, >32 range partitions
    // impossible locally but repartition(13) forces multi-partition
    // input and a real range shuffle; (v, k) is a TOTAL ordering
    val xs = Seq.tabulate(2000)(i => ((i * 2654435761L) % 997, i.toLong))
    val df = xs.toDF("v", "k").repartition(13)
    val got = graft.ops.RelOps.globalRowNumber(df, "rn",
        Seq(Ordering("v", desc = true), Ordering("k")))
      .select("k", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // semantics oracle: single-partition window row_number
    val want = df.withColumn("rn", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(F.col("v").desc_nulls_last, F.col("k").asc_nulls_first))
        .cast("long"))
      .select("k", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    // empty input: schema only, no rows, no crash
    val empty = graft.ops.RelOps.globalRowNumber(
      df.filter(F.lit(false)), "rn", Seq(Ordering("k")))
    assert(empty.columns.toSeq == Seq("v", "k", "rn"))
    assert(empty.count() == 0)
  }

  test("globalPrefixSumD matches a driver-side serial scan (rounded)") {
    import spark.implicits._
    val xs = Seq.tabulate(500)(i => (i.toLong, math.log1p(i % 37) / 7))
    val df = xs.toDF("k", "v").repartition(8)
    val got = graft.ops.RelOps
      .globalPrefixSumD(df, "v", "pre", Seq(graft.ops.RelOps.Ordering("k")))
      .select("k", "pre").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // exclusive serial prefix in k order; parity at the ROUNDED
    // projection (the documented guarantee — offsets use a different
    // addition tree than a serial fold, ulp-level only)
    var acc = 0.0
    xs.foreach { case (k, v) =>
      assert(math.abs(got(k) - acc) < 1e-9, s"k=$k")
      acc += v
    }
  }

  test("by-comparator ordering equals sorting on the computed column") {
    // reference order(col; by=f): sort customers by NAME LENGTH (ties
    // broken by key) — must equal materializing f(col) and sorting on it
    val c = T.load(spark, sf, "customer")
    val viaBy = c.sortBy(
        Ordering("c_name", by = Some("length(c_name)")),
        Ordering("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).toSeq
    val viaCol = c.withColumn("__k", F.length(F.col("c_name")))
      .sortBy(Ordering("__k"), Ordering("c_custkey"))
      .select("c_custkey").collect().map(_.getLong(0)).toSeq
    assert(viaBy == viaCol)
    // issorted sees the transformed key too
    assert(c.sortBy(Ordering("c_name", by = Some("length(c_name)")))
      .issorted(Ordering("c_name", by = Some("length(c_name)"))))
    // desc + by composes
    val descBy = c.sortBy(
      Ordering("c_name", desc = true, by = Some("length(c_name)")),
      Ordering("c_custkey"))
    assert(descBy.issorted(
      Ordering("c_name", desc = true, by = Some("length(c_name)"))))
  }

  test("forward as-of picks the earliest right row at-or-after each ts") {
    import spark.implicits._
    val l = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 31L, "e3"),
      (2L, 5L, "e4")).toDF("k", "ts", "tag")
    val r = Seq((1L, 20L, 100.0), (1L, 30L, 200.0))
      .toDF("k", "ts", "v")
    val got = graft.ops.AsOfJoin.forward(l, r,
      keyCols = Seq("k"), tsCol = "ts", valueCols = Seq("v"))
      .collect().map(x => x.getString(2) -> Option(x.get(3))).toMap
    // e1(10)→20:100 (next), e2(20)→20:100 (inclusive), e3(31)→none,
    // e4(key 2)→none
    assert(got == Map("e1" -> Some(100.0), "e2" -> Some(100.0),
      "e3" -> None, "e4" -> None))
    // mirror: backward at the same points
    val back = graft.ops.AsOfJoin.backward(l, r,
      keyCols = Seq("k"), tsCol = "ts", valueCols = Seq("v"))
      .collect().map(x => x.getString(2) -> Option(x.get(3))).toMap
    assert(back == Map("e1" -> None, "e2" -> Some(100.0),
      "e3" -> Some(200.0), "e4" -> None))
  }

  test("as-of resolves tied right rows to the max payload, deterministically") {
    import spark.implicits._
    val l = Seq((1L, 20L, "e")).toDF("k", "ts", "tag")
    // three right rows at the SAME (key, ts) — contract: greatest
    // payload struct wins (window order ends with the payload column)
    val r = Seq((1L, 10L, 5.0), (1L, 10L, 9.0), (1L, 10L, 7.0))
      .toDF("k", "ts", "v")
    (1 to 3).foreach { _ =>
      val got = graft.ops.AsOfJoin.backward(l, r.repartition(7),
        keyCols = Seq("k"), tsCol = "ts", valueCols = Seq("v"))
        .collect()
      assert(got.map(_.getDouble(3)).toSeq == Seq(9.0))
    }
  }

  test("globalPrefixMax: null-free contract, MinValue carried, empty-prior null") {
    import spark.implicits._
    val df = Seq((1L, Long.MinValue), (2L, 5L), (3L, 2L), (4L, 7L))
      .toDF("ord", "v")
    val out = graft.ops.RelOps.globalPrefixMax(df, "v", "pm",
        Seq(Ordering("ord"))).orderBy("ord")
      .collect().map(r => Option(r.get(2))).toSeq
    // first row: no prior → NULL; second: prior max is a LEGITIMATE
    // Long.MinValue value (the old sentinel bug reported NULL here)
    assert(out == Seq(None, Some(Long.MinValue), Some(5L), Some(5L)))
  }

  test("pasteRecycle recycles shorter sequences cyclically") {
    import spark.implicits._
    val df = Seq(1).toDF("x").select(
      graft.functions.Funcs.pasteRecycle("-",
        F.expr("array('a','b','c','d')"),
        F.expr("array('1','2')")).as("p"))
    assert(df.first().getSeq[String](0) ==
      Seq("a-1", "b-2", "c-1", "d-2")) // reference paste recycling
  }

  test("dftByGroup: k=0 is the series sum, im(0)=0") {
    val o = T.load(spark, sf, "orders")
    val dft = graft.ops.Fourier.dftByGroup(
      o, Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice", 2)
    val k0 = dft.filter(F.col("k") === 0).collect()
    val sums = o.groupBy("o_orderstatus").agg(F.sum("o_totalprice"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    k0.foreach { r =>
      assert(math.abs(r.getAs[Double]("re") -
        sums(r.getString(0))) < 1e-4)
      assert(math.abs(r.getAs[Double]("im")) < 1e-4)
    }
  }

  test("corMatrix is bounded in [-1,1] and symmetric pairs unique") {
    val c = T.load(spark, sf, "lineitem")
      .corMatrix(Seq("l_quantity", "l_extendedprice", "l_discount"))
      .collect()
    assert(c.length == 3)
    c.foreach { r =>
      val v = r.getAs[Double]("corr")
      assert(v >= -1.0 && v <= 1.0)
    }
  }

  test("vcat promotes int + double columns to double (reference vecbind)") {
    import spark.implicits._
    // reference vecbind_promote_type (src/dataframe.jl:1045-1076)
    val ints = Seq(1, 2).toDF("v")
    val dbls = Seq(1.5, 2.5).toDF("v")
    val u = ints.vcat(dbls)
    assert(u.schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(u.count() == 4)
  }

  test("hashSample is deterministic, ~rate sized, and stable to repartition") {
    val docs = T.load(spark, sf, "documents")
    val s1 = graft.ops.Sampling.hashSample(docs, "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = graft.ops.Sampling.hashSample(docs.repartition(13), "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // partitioning-independent
    val n = docs.count().toDouble
    assert(s1.size > n * 0.1 && s1.size < n * 0.3) // ~20%
    // nested property: a 10% sample is a subset of the 20% sample
    val s3 = graft.ops.Sampling.hashSample(docs, "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
  }

  test("bernoulliByRate: rate 0/1 exact, mid-rate ~proportional, stable") {
    import spark.implicits._
    val df = (1L to 4000L).map(i =>
      (i, if (i % 2 == 0) 0.0 else if (i % 3 == 0) 1.0 else 0.5))
      .toDF("id", "rate")
    val kept = graft.ops.Sampling.bernoulliByRate(df, "id", "rate")
    assert(kept.filter("rate = 0.0").count() == 0)
    assert(kept.filter("rate = 1.0").count() ==
      df.filter("rate = 1.0").count())
    val mid = kept.filter("rate = 0.5").count().toDouble /
      df.filter("rate = 0.5").count()
    assert(mid > 0.4 && mid < 0.6, s"mid-rate kept $mid")
    val again = graft.ops.Sampling.bernoulliByRate(
      df.repartition(7), "id", "rate")
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
  }

  test("fixedSizePerGroup: exactly k per group, deterministic, stable") {
    val o = T.load(spark, sf, "orders")
    val s1 = graft.ops.Sampling.fixedSizePerGroup(
      o, Seq("o_orderstatus"), "o_orderkey", 5)
    val counts = s1.groupBy("o_orderstatus").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) == 5))
    // same selection across runs and partitionings
    val s2 = graft.ops.Sampling.fixedSizePerGroup(
      o.repartition(13), Seq("o_orderstatus"), "o_orderkey", 5)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
  }

  test("stratified hash sampling respects per-stratum rates") {
    val docs = T.load(spark, sf, "documents")
    val s = graft.ops.Sampling.stratifiedHashSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.0))
    val counts = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("de"))
    assert(counts.getOrElse("en", 0L) > 0)
    assert(counts.keySet.subsetOf(Set("en"))) // others default rate 0
  }

  test("kleene any/all via bool_or/bool_and handle nulls") {
    import spark.implicits._
    val df = Seq(
      (1, Some(true)), (1, None), (2, Some(false)), (2, None), (3, None)
    ).toDF("k", "b")
    val r = df.groupBy("k").agg(
      F.expr("bool_or(b)").as("any"), F.expr("bool_and(b)").as("all"))
      .orderBy("k").collect()
    // Spark agg semantics skip nulls (reference Kleene semantics differ
    // only for the all-null group, documented delta)
    assert(r(0).getAs[Boolean]("any") == true)
    assert(r(1).getAs[Boolean]("any") == false)
  }
}
