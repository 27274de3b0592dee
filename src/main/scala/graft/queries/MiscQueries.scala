package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.T
import graft.formula.Formula
import graft.functions.ProductAgg
import graft.ops.RelOps._
import graft.functions.SpecialMath

/** Wave-4c: model matrix (RFormula), special math expressions,
  * membership predicates, set operations, string describe, product
  * aggregate — closing the remaining SURVEY §2 inventory lines.
  */
object MiscQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Formula → design matrix with treatment contrasts (reference
    // src/formula.jl:219-237). alphabetAsc level order; one-hot drops
    // the last level (here: o_orderstatus levels F,O,P → F,O encoded).
    "q62_model_matrix" -> { (s, dir) =>
      Formula.modelMatrix(
        T.load(s, dir, "orders")
          .basedOn("o_totalprice" -> "o_totalprice",
            "o_orderstatus" -> "o_orderstatus",
            "y" -> "o_totalprice / 1000.0"),
        "y ~ o_totalprice + o_orderstatus")
        .basedOn("label" -> "round(label, 6)", "f0" -> "round(f0, 2)",
          "f1" -> "f1", "f2" -> "f2")
    },

    // Formula FUNCTION TERMS + I() arithmetic (round-10 stretch task;
    // reference expands arbitrary call expressions in terms,
    // src/formula.jl:67-125): log(quantity) and discount² evaluate as
    // columns BEFORE the term DSL, alongside a categorical whose
    // treatment contrasts prove the rewritten formula still drives
    // RFormula correctly (l_returnflag levels A,N,R → A,N encoded).
    // Oracle replays the design matrix column-by-column; ln and
    // power(x,2) agree across engines at the 6-dp contract (integer
    // quantities, 2-dp discounts → exact 4-decimal squares).
    "q345_formula_terms" -> { (s, dir) =>
      Formula.modelMatrix(
        T.load(s, dir, "lineitem")
          .basedOn("l_quantity" -> "l_quantity",
            "l_discount" -> "l_discount",
            "l_returnflag" -> "l_returnflag",
            "y" -> "l_extendedprice / 1000.0"),
        "y ~ log(l_quantity) + I(l_discount^2) + l_returnflag")
        .basedOn("label" -> "round(label, 6)",
          "f0" -> "round(f0, 6)", "f1" -> "round(f1, 6)",
          "f2" -> "f2", "f3" -> "f3")
    },

    // Formula DSL round-11 stretch: MULTI-WAY cross a*b*c (reference
    // expands arbitrary-depth crosses, src/formula.jl:67-125
    // `dospecials`) and I() protecting arithmetic from the term
    // algebra — a*b*c yields all 7 terms (a, b, c, a:b, a:c, b:c,
    // a:b:c) while I(a*b) contributes exactly ONE product column.
    // All factors are exact-decimal numerics (int quantity, 2-dp
    // discount/tax), so every interaction product is a bit-identical
    // double on both engines; 6-dp rounding per the float contract.
    "q346_formula_cross" -> { (s, dir) =>
      Formula.modelMatrix(
        T.load(s, dir, "lineitem")
          .basedOn("l_quantity" -> "l_quantity",
            "l_discount" -> "l_discount", "l_tax" -> "l_tax",
            "y" -> "l_extendedprice / 1000.0"),
        "y ~ l_quantity*l_discount*l_tax + I(l_quantity*l_discount)")
        .basedOn(Seq("label" -> "round(label, 6)") ++
          (0 to 7).map(i => s"f$i" -> s"round(f$i, 6)"): _*)
    },

    // Formula CATEGORICAL INTERACTIONS (round-13): factor:numeric and
    // factor:factor terms expand as level-indicator outer products on
    // the expression fast path — the reference's expandcols
    // (src/formula.jl:205-215). RFormula parity: a factor INSIDE an
    // interaction encodes full-dummy (all levels), only standalone
    // terms drop the reference level; first factor varies slowest.
    // l_quantity*l_returnflag → quantity, rf∈{A,N}, quantity×rf∈{A,N,R};
    // l_returnflag:l_linestatus → rf×ls over {A,N,R}×{F,O}.
    "q349_formula_interact" -> { (s, dir) =>
      Formula.modelMatrix(
        T.load(s, dir, "lineitem")
          .basedOn("l_quantity" -> "l_quantity",
            "l_returnflag" -> "l_returnflag",
            "l_linestatus" -> "l_linestatus",
            "y" -> "l_extendedprice / 1000.0"),
        "y ~ l_quantity*l_returnflag + l_returnflag:l_linestatus")
        .basedOn(Seq("label" -> "round(label, 6)") ++
          (0 to 11).map(i => s"f$i" -> s"round(f$i, 6)"): _*)
    },

    // Floor-form rounding POLICY gate (round-14 verdict task 3): the
    // corpus-wide knife-edge contract — round(x, d) is expressed as
    // floor(x·10^d + 0.5)/10^d on BOTH engines — verified on itself,
    // not just through the 170 queries that use it. The grid is dense
    // in exact d-dp halves, both signs, d ∈ {0,2,3,4,6}: x = k/(2·10^d)
    // for k ∈ [-8001, 8001] (odd k → exact half at d dp, even k → an
    // exact d-dp value). Identical left-assoc IEEE expression on both
    // sides, so the dump bit-matches every round at both gate scales —
    // any future drift of the policy on either engine turns this row
    // red. FloorPolicySpec pins the SEMANTICS (half-toward-+inf; the
    // documented negative-half divergence from HALF_UP) against a
    // BigDecimal reference on the same grid.
    "q350_floor_policy" -> { (s, _) =>
      s.range(-8001L, 8002L).toDF("k")
        .select(F.col("k"), F.explode(F.array(
          F.struct(F.lit(0).as("d"), F.lit(1.0).as("p")),
          F.struct(F.lit(2).as("d"), F.lit(100.0).as("p")),
          F.struct(F.lit(3).as("d"), F.lit(1000.0).as("p")),
          F.struct(F.lit(4).as("d"), F.lit(10000.0).as("p")),
          F.struct(F.lit(6).as("d"), F.lit(1000000.0).as("p"))))
          .as("e"))
        .select(F.col("k"), F.col("e.d").as("d"),
          (F.floor(F.col("k").cast("double") / (F.lit(2.0) * F.col("e.p"))
            * F.col("e.p") + 0.5) / F.col("e.p")).as("r"))
    },

    // erf/erfc/digamma/lgamma custom expressions (SURVEY §2.9 gap
    // list); oracle mirrors the same A&S/asymptotic formulas.
    "q63_special_math" -> { (s, dir) =>
      val li = T.load(s, dir, "lineitem")
      li.select(
        F.col("l_orderkey"), F.col("l_linenumber"),
        F.round(SpecialMath.erf(F.col("l_discount") * 10 - 0.5), 6)
          .as("erf_d"),
        F.round(SpecialMath.erfc(F.col("l_tax") * 10), 6).as("erfc_t"),
        F.round(SpecialMath.digamma(F.col("l_quantity")), 6)
          .as("digamma_q"),
        F.round(SpecialMath.lgamma(F.col("l_quantity")), 6)
          .as("lgamma_q"))
    },

    // findin / isin membership predicate (reference Indexer findin,
    // src/indexing.jl:241-250).
    "q64_findin" -> { (s, dir) =>
      T.load(s, dir, "part")
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .basedOn("p_partkey" -> "p_partkey", "p_brand" -> "p_brand")
    },

    // intersect / except set ops (SURVEY §2.7: "free in Spark").
    "q65_setops" -> { (s, dir) =>
      val a = T.load(s, dir, "orders")
        .filterExpr("o_totalprice > 100000").select("o_custkey")
      val b = T.load(s, dir, "orders")
        .filterExpr("o_orderstatus = 'F'").select("o_custkey")
      a.intersect(b).withColumn("op", F.lit("intersect"))
        .vcat(a.except(b).withColumn("op", F.lit("except")))
    },

    // describe for non-numeric columns: length/NA/unique (reference
    // src/dataframe.jl:894-906 non-numeric branch).
    "q66_describe_str" -> { (s, dir) =>
      T.load(s, dir, "customer").by(Seq(),
        "n" -> "count(c_mktsegment)",
        "n_unique" -> "count(distinct c_mktsegment)",
        "n_missing" -> "count_if(c_mktsegment is null)",
        "avg_len" -> "floor((avg(length(c_name))) * 1e6 + 0.5) / 1e6")
    },

    // Backward as-of join (time-series operator Spark SQL lacks),
    // composed as union + window carry-forward; oracle = DuckDB's
    // native ASOF JOIN.
    "q73_asof_join" -> { (s, dir) =>
      val e = T.load(s, dir, "events")
      val errs = e.filterExpr("event_type = 'error'")
        .by(Seq("user_id", "ts"), "value" -> "max(value)")
      graft.ops.AsOfJoin.backward(
        e.select("event_id", "user_id", "ts"), errs,
        keyCols = Seq("user_id"), tsCol = "ts",
        valueCols = Seq("value"))
        .basedOn("event_id" -> "event_id", "user_id" -> "user_id",
          "asof_value" -> "asof_value")
    },

    // CSV ingest through the real readtable path (the reference's
    // headline baseline is readtable wall-clock): write customer as
    // CSV once per run, read it back with full inference, aggregate.
    // Round-trips through target/ (inside the repo, gitignored); the
    // oracle computes the same aggregate from the parquet source —
    // equal because shortest-repr double writing round-trips exactly.
    "q29_csv_ingest" -> { (s, dir) =>
      val out = java.nio.file.Paths.get("target", "q29_csv_ingest")
        .toAbsolutePath.toString
      graft.sources.ReadTable.writetable(
        T.load(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), out)
      graft.sources.ReadTable.readtable(s, out)
        .by(Seq("c_mktsegment"),
          "n" -> "count(*)", "bal" -> "round(sum(c_acctbal), 2)")
    },

    // Forward as-of: next error at-or-after each event — the [[q73]]
    // mirror (same union+window composition, reversed order).
    "q98_asof_fwd" -> { (s, dir) =>
      val e = T.load(s, dir, "events")
      val errs = e.filterExpr("event_type = 'error'")
        .by(Seq("user_id", "ts"), "value" -> "max(value)")
      graft.ops.AsOfJoin.forward(
        e.select("event_id", "user_id", "ts"), errs,
        keyCols = Seq("user_id"), tsCol = "ts",
        valueCols = Seq("value"))
        .basedOn("event_id" -> "event_id", "user_id" -> "user_id",
          "asof_value" -> "asof_value")
    },

    // Full cube: every subtotal combination in one pass (q72 is the
    // rollup half of the grouping-sets family).
    "q99_cube" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).as("n"),
          F.round(F.sum("o_totalprice"), 2).as("total"))
        .basedOn(
          "o_orderstatus" -> "coalesce(o_orderstatus, '<all>')",
          "o_orderpriority" -> "coalesce(o_orderpriority, '<all>')",
          "n" -> "n", "total" -> "total")
    },

    // Grouping sets / rollup (SURVEY §2.4: "Spark cube/rollup are free
    // if we want them") — subtotals + grand total in one pass.
    "q72_rollup" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).as("n"),
          F.round(F.sum("o_totalprice"), 2).as("total"))
        .basedOn(
          "o_orderstatus" -> "coalesce(o_orderstatus, '<all>')",
          "o_orderpriority" -> "coalesce(o_orderpriority, '<all>')",
          "n" -> "n", "total" -> "total")
    },

    // Median absolute deviation per group (reference mad export,
    // src/operators.jl:52): two native exact-median passes composed at
    // plan level over exact integer images (cents, then half-cents for
    // the deviations — 2·median is integer even when the median
    // interpolates between two cents). True values land on the
    // 0.0025-dollar grid, so round(·,4) is ulp-safe.
    // percentile-audit: BOUNDED — each per-group value map holds at
    // most the cent domain of o_totalprice (≤2·that for the half-cent
    // deviations), not the row count. See SCALE.md §percentile-audit.
    "q69_mad" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
        .select(F.col("o_orderstatus"),
          F.expr("cast(floor((o_totalprice * 100) * 1e0 + 0.5) / 1e0 as bigint)").as("__c"))
      val med = o.groupBy("o_orderstatus")
        .agg(F.expr("percentile(__c, 0.5D)").as("__medc"))
      o.join(F.broadcast(med), Seq("o_orderstatus"))
        .select(F.col("o_orderstatus"),
          F.expr("abs(2L * __c - cast(floor((2 * __medc) * 1e0 + 0.5) / 1e0 as bigint))")
            .as("__a2")) // half-cent units, exact longs
        .groupBy("o_orderstatus")
        .agg(F.expr("percentile(__a2, 0.5D)").as("__mad2"))
        .select(F.col("o_orderstatus"),
          F.expr("floor((__mad2 / 200) * 1e4 + 0.5) / 1e4").as("mad"))
    },

    // Covariance matrix, long form (reference cov, src/dataframe.jl:1514).
    "q70_cov" -> { (s, dir) =>
      import graft.ops.StatOps._
      T.load(s, dir, "lineitem")
        .covMatrix(Seq("l_quantity", "l_extendedprice", "l_discount"))
    },

    // rep: element replication (reference src/extras.jl:52-87) +
    // flipud-style explicit reverse ordering materialized as a rank.
    "q68_rep" -> { (s, dir) =>
      T.load(s, dir, "region")
        .select(F.col("r_regionkey"),
          graft.functions.Funcs.repTimes(F.col("r_name"), 3).as("r_name"))
    },

    // Exact product aggregate via typed Aggregator (reference prod).
    "q67_product" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .filterExpr("l_orderkey % 1000 = 1")
        .groupBy("l_returnflag")
        .agg(F.round(ProductAgg.product(
          F.col("l_discount") + F.lit(1.0)), 6).as("prod_disc"),
          F.count(F.lit(1)).as("n"))
    },

    // tail: last n rows under an explicit total ordering (reference
    // head/tail pair, src/dataframe.jl:834-837; q32 is the head half).
    "q91_tail" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .basedOn("o_orderkey" -> "o_orderkey",
          "o_totalprice" -> "o_totalprice")
        .tail(50, Ordering("o_orderkey"))
    },

    // paste with recycling (reference src/extras.jl:12-30): shorter
    // sequences repeat cyclically to the longest length. Joined to one
    // string per row for a stable hash compare.
    "q92_paste_recycle" -> { (s, dir) =>
      T.load(s, dir, "customer").select(
        F.col("c_custkey"),
        F.array_join(graft.functions.Funcs.pasteRecycle("_",
          F.split(F.col("c_name"), "#"),   // 2 elements
          F.array(F.col("c_mktsegment"))), // 1 element, recycled
          "|").as("pasted"))
    },

    // colffts (reference src/operators.jl:231-245): per-group DFT over
    // a bounded 32-point series under a total order; k = 8 coefficients.
    "q93_colfft" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy("o_orderkey")
      val series = T.load(s, dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 32)
      graft.ops.Fourier.dftByGroup(series, Seq("o_orderstatus"),
          Seq("o_orderkey"), "o_totalprice", 8)
        .basedOn("o_orderstatus" -> "o_orderstatus", "k" -> "k",
          "re" -> "floor((re) * 1e2 + 0.5) / 1e2", "im" -> "floor((im) * 1e2 + 0.5) / 1e2")
    },

    // Z-order clustering key: Morton interleave of two scan dimensions
    // (codegen'd ZValue2) — the multi-dim layout key that keeps Parquet
    // min/max pruning effective on BOTH columns at 100 TB (linear sort
    // prunes only its leading column). ZOrderSpec measures the per-file
    // range shrinkage; here the key itself is hash-gated bit-for-bit.
    "q115_zorder" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .basedOn("l_orderkey" -> "l_orderkey",
          "l_linenumber" -> "l_linenumber",
          "x" -> "l_partkey % 65536", "y" -> "l_suppkey % 65536")
        .withColumn("z", graft.plans.ZOrder.zvalue(
          F.col("x").cast("long"), F.col("y").cast("long")))
    }
  )

  /** 32-term arithmetic form of the 16+16-bit Morton interleave —
    * portable to any SQL engine (the oracle twin of ZValue2). */
  private def duckZ(x: String, y: String): String =
    (0 until 16).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  def oracleSql: Map[String, String] = Map(
    "q115_zorder" ->
      s"""SELECT l_orderkey, l_linenumber,
          CAST(l_partkey % 65536 AS BIGINT) AS x,
          CAST(l_suppkey % 65536 AS BIGINT) AS y,
          CAST(${duckZ("(l_partkey % 65536)", "(l_suppkey % 65536)")}
               AS BIGINT) AS z
          FROM lineitem""",
    "q62_model_matrix" ->
      """SELECT round(o_totalprice / 1000.0, 6) AS label,
                round(o_totalprice, 2) AS f0,
                CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                     AS DOUBLE) AS f1,
                CAST(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END
                     AS DOUBLE) AS f2
         FROM orders""",
    "q345_formula_terms" ->
      """SELECT round(l_extendedprice / 1000.0, 6) AS label,
                round(ln(l_quantity), 6) + 0 AS f0,
                round(power(l_discount, 2), 6) + 0 AS f1,
                CAST(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END
                     AS DOUBLE) AS f2,
                CAST(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END
                     AS DOUBLE) AS f3
         FROM lineitem""",
    // term order is RFormula's cross expansion (a*b)*c:
    // a, b, a:b, c, a:c, b:c, a:b:c — then the I() column
    "q346_formula_cross" ->
      """SELECT round(l_extendedprice / 1000.0, 6) AS label,
                round(l_quantity, 6) + 0 AS f0,
                round(l_discount, 6) + 0 AS f1,
                round(l_quantity * l_discount, 6) + 0 AS f2,
                round(l_tax, 6) + 0 AS f3,
                round(l_quantity * l_tax, 6) + 0 AS f4,
                round(l_discount * l_tax, 6) + 0 AS f5,
                round(l_quantity * l_discount * l_tax, 6) + 0 AS f6,
                round(l_quantity * l_discount, 6) + 0 AS f7
         FROM lineitem""",
    // term order: (quantity*rf cross) = quantity, rf, quantity:rf —
    // then rf:ls; interaction factors full-dummy, standalone dropLast
    "q349_formula_interact" ->
      """SELECT round(l_extendedprice / 1000.0, 6) AS label,
                round(l_quantity, 6) + 0 AS f0,
                CAST(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END
                     AS DOUBLE) AS f1,
                CAST(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END
                     AS DOUBLE) AS f2,
                round(l_quantity * CASE WHEN l_returnflag = 'A'
                      THEN 1 ELSE 0 END, 6) + 0 AS f3,
                round(l_quantity * CASE WHEN l_returnflag = 'N'
                      THEN 1 ELSE 0 END, 6) + 0 AS f4,
                round(l_quantity * CASE WHEN l_returnflag = 'R'
                      THEN 1 ELSE 0 END, 6) + 0 AS f5,
                CAST(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'F'
                     THEN 1 ELSE 0 END AS DOUBLE) AS f6,
                CAST(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'O'
                     THEN 1 ELSE 0 END AS DOUBLE) AS f7,
                CAST(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'F'
                     THEN 1 ELSE 0 END AS DOUBLE) AS f8,
                CAST(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O'
                     THEN 1 ELSE 0 END AS DOUBLE) AS f9,
                CAST(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
                     THEN 1 ELSE 0 END AS DOUBLE) AS f10,
                CAST(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O'
                     THEN 1 ELSE 0 END AS DOUBLE) AS f11
         FROM lineitem""",
    // same left-assoc IEEE expression as the engine side: x = k/(2·p)
    // rounds once, then ·p, +0.5, floor, /p — bit-identical by policy
    "q350_floor_policy" ->
      """SELECT k, d,
                floor(CAST(k AS DOUBLE) / (2.0 * p) * p + 0.5) / p AS r
         FROM (SELECT range AS k FROM range(-8001, 8002)),
              (VALUES (0, 1.0), (2, 100.0), (3, 1000.0),
                      (4, 10000.0), (6, 1000000.0)) AS t(d, p)""",
    "q63_special_math" ->
      s"""SELECT l_orderkey, l_linenumber,
          round(${SpecialMath.erfSql("(l_discount * 10 - 0.5)")}, 6) + 0
            AS erf_d,
          round(1.0 - ${SpecialMath.erfSql("(l_tax * 10)")}, 6) AS erfc_t,
          round(${SpecialMath.digammaSql("l_quantity")}, 6) AS digamma_q,
          round(lgamma(l_quantity), 6) AS lgamma_q
          FROM lineitem""",
    "q64_findin" ->
      """SELECT p_partkey, p_brand FROM part
         WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')""",
    "q65_setops" ->
      """SELECT o_custkey, 'intersect' AS op FROM (
           SELECT o_custkey FROM orders WHERE o_totalprice > 100000
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         UNION ALL
         SELECT o_custkey, 'except' AS op FROM (
           SELECT o_custkey FROM orders WHERE o_totalprice > 100000
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",
    "q66_describe_str" ->
      """SELECT count(c_mktsegment) AS n,
                count(DISTINCT c_mktsegment) AS n_unique,
                count(CASE WHEN c_mktsegment IS NULL THEN 1 END)
                  AS n_missing,
                floor((avg(length(c_name))) * 1e6 + 0.5) / 1e6 AS avg_len
         FROM customer""",
    "q73_asof_join" ->
      """SELECT e.event_id, e.user_id, r.value AS asof_value
         FROM events e ASOF LEFT JOIN (
           SELECT user_id, ts, max(value) AS value FROM events
           WHERE event_type = 'error' GROUP BY 1, 2
         ) r ON e.user_id = r.user_id AND e.ts >= r.ts""",
    "q72_rollup" ->
      """SELECT coalesce(o_orderstatus, '<all>') AS o_orderstatus,
                coalesce(o_orderpriority, '<all>') AS o_orderpriority,
                count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders
         GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "q29_csv_ingest" ->
      """SELECT c_mktsegment, count(*) AS n,
                round(sum(c_acctbal), 2) AS bal
         FROM customer GROUP BY 1""",
    "q98_asof_fwd" ->
      """SELECT e.event_id, e.user_id, r.value AS asof_value
         FROM events e ASOF LEFT JOIN (
           SELECT user_id, ts, max(value) AS value FROM events
           WHERE event_type = 'error' GROUP BY 1, 2
         ) r ON e.user_id = r.user_id AND e.ts <= r.ts""",
    "q99_cube" ->
      """SELECT coalesce(o_orderstatus, '<all>') AS o_orderstatus,
                coalesce(o_orderpriority, '<all>') AS o_orderpriority,
                count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "q69_mad" ->
      """WITH med AS (
           SELECT o_orderstatus,
                  quantile_cont(o_totalprice, 0.5) AS med
           FROM orders GROUP BY 1)
         SELECT o.o_orderstatus,
           floor((quantile_cont(abs(o.o_totalprice - med.med), 0.5)) * 1e4 + 0.5) / 1e4
             AS mad
         FROM orders o JOIN med USING (o_orderstatus)
         GROUP BY 1""",
    "q70_cov" ->
      """SELECT 'l_extendedprice' AS col1, 'l_quantity' AS col2,
                round(covar_samp(l_extendedprice, l_quantity), 6) + 0 AS cov
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', 'l_extendedprice',
                round(covar_samp(l_discount, l_extendedprice), 6) + 0
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', 'l_quantity',
                round(covar_samp(l_discount, l_quantity), 6) + 0
         FROM lineitem""",
    "q68_rep" ->
      """SELECT r_regionkey, r_name FROM region
         CROSS JOIN range(3)""",
    "q67_product" ->
      """SELECT l_returnflag,
                round(product(l_discount + 1.0), 6) AS prod_disc,
                count(*) AS n
         FROM lineitem WHERE l_orderkey % 1000 = 1
         GROUP BY l_returnflag""",
    "q91_tail" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey DESC LIMIT 50""",
    "q92_paste_recycle" ->
      """SELECT c_custkey,
           array_to_string(
             list_transform(
               range(greatest(len(a1), len(a2))),
               i -> a1[(i % len(a1)) + 1] || '_' || a2[(i % len(a2)) + 1]),
             '|') AS pasted
         FROM (SELECT c_custkey, string_split(c_name, '#') AS a1,
                      [c_mktsegment] AS a2
               FROM customer)""",
    "q93_colfft" ->
      """WITH series AS (
           SELECT o_orderstatus, o_totalprice AS x,
             CAST(row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY o_orderkey) - 1 AS DOUBLE) AS idx
           FROM orders
           QUALIFY idx < 32),
         sized AS (
           SELECT *, CAST(count(*) OVER (PARTITION BY o_orderstatus)
             AS DOUBLE) AS len
           FROM series),
         ks AS (SELECT CAST(unnest(range(8)) AS INT) AS k)
         SELECT o_orderstatus, k,
           floor((sum(x * cos(-2 * pi() * k * idx / len))) * 1e2 + 0.5) / 1e2 AS re,
           floor((sum(x * sin(-2 * pi() * k * idx / len))) * 1e2 + 0.5) / 1e2 AS im
         FROM sized CROSS JOIN ks GROUP BY 1, 2"""
  )
}
