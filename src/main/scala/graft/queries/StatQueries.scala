package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.T
import graft.functions.Funcs
import graft.ops.RelOps._
import graft.ops.ReshapeOps._
import graft.ops.StatOps._

/** Wave-2b: reshape (stack/unstack/pivot/xtab), describe, cor/cov,
  * quantiles, colwise, cut/paste, Kleene any/all, NA ops, scalar
  * math/string/json/date functions — SURVEY.md §2.4, §2.8, §2.9.
  */
object StatQueries extends QueryRegistry {

  private val orderStatuses = Seq("F", "O", "P")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Robust per-group outliers via median/MAD (the heavy-tail-safe
    // alternative to q82's mean/stddev z-score — one corrupted decade
    // of values moves a mean, not a median). Exact per-group medians:
    // Spark's `percentile` and DuckDB's `quantile_cont` share the
    // (1-g)·a[k] + g·a[k+1] interpolation, so both engines derive the
    // identical med/MAD and the flag threshold cannot diverge. Two
    // grouped aggs + a broadcast of the O(groups) med/MAD table; the
    // fact table never shuffles (q123's moment-broadcast shape).
    // percentile-audit: BOUNDED — both percentiles run over 2-decimal
    // money (`value`, then |value−med| which lives on the half-cent
    // grid), so each per-group value map is capped by the cent domain
    // (≤100·range+1 ≈ 5.7e4 / ≤2·that for the deviations), not the
    // row count, so the merge map stays small at any scale. See
    // SCALE.md §percentile-audit.
    "q190_mad_outliers" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select("event_id", "event_type", "value")
      val med = ev.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5D)").as("med"))
      val mad = ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.any_value(F.col("med")).as("med"),
          F.expr("percentile(abs(value - med), 0.5D)").as("mad"))
        .filter(F.col("mad") > 0)
      ev.join(F.broadcast(mad), "event_type")
        .withColumn("rz",
          (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad")))
        .filter(F.abs(F.col("rz")) > 3)
        .select(F.col("event_id"), F.col("event_type"),
          (F.floor((F.col("value")) * 1e2 + 0.5) / 1e2).as("value"),
          (F.floor((F.col("rz")) * 1e4 + 0.5) / 1e4).as("robust_z"))
    },

    // Welch's t-statistic of each source's doc length against the REST
    // of the corpus — the distribution-shift significance test beside
    // q112's KS distance. Everything derives from three integer sums
    // per source (n, Σx, Σx²) + the 1-row corpus totals (rest-of-corpus
    // moments by exact subtraction), so the plan is one partial-agg'd
    // scan + a broadcast of one row — and because the sums are exact
    // integers, the statistic is bit-deterministic across engines.
    "q123_welch_t" -> { (s, dir) =>
      val d = T.load(s, dir, "documents").select(
        F.col("source"), F.col("n_chars"))
      val per = d.groupBy("source").agg(
        F.count(F.lit(1)).as("n"),
        F.sum("n_chars").as("sm"),
        F.sum(F.col("n_chars") * F.col("n_chars")).as("sq"))
      val tot = d.agg(
        F.count(F.lit(1)).as("tn"), F.sum("n_chars").as("tsm"),
        F.sum(F.col("n_chars") * F.col("n_chars")).as("tsq"))
      per.crossJoin(tot)
        .withColumn("m1", F.col("sm").cast("double") / F.col("n"))
        .withColumn("v1",
          (F.col("sq").cast("double")
            - F.col("sm").cast("double") * F.col("sm") / F.col("n"))
            / (F.col("n") - 1))
        .withColumn("n2", F.col("tn") - F.col("n"))
        .withColumn("m2",
          (F.col("tsm") - F.col("sm")).cast("double") / F.col("n2"))
        .withColumn("v2",
          ((F.col("tsq") - F.col("sq")).cast("double")
            - (F.col("tsm") - F.col("sm")).cast("double")
              * (F.col("tsm") - F.col("sm")) / F.col("n2"))
            / (F.col("n2") - 1))
        .select(F.col("source"), F.col("n"),
          (F.floor((F.col("m1")) * 1e6 + 0.5) / 1e6).as("mean_len"),
          (F.floor(((F.col("m1") - F.col("m2"))
            / F.sqrt(F.col("v1") / F.col("n") + F.col("v2") / F.col("n2"))) * 1e6 + 0.5) / 1e6).as("t_stat"))
    },

    // Per-group winsorization summary: clip event values at the exact
    // p05/p95 of their event_type, report clip thresholds, clipped-row
    // counts and the post-clip mean. Thresholds come from exact
    // interpolated percentiles — the identical (n-1)·q linear
    // interpolation in both engines, so the strict </> comparisons
    // agree bit-for-bit; clip counts are integers. Two aggregates over
    // the same event_type key (exchange reuse), thresholds broadcast.
    // percentile-audit: BOUNDED — thresholds run over 2-decimal money,
    // so the per-group value map is capped by the cent domain
    // (≤100·range+1), not the row count. Kept native because the
    // clip thresholds feed strict </> row comparisons where a
    // migrated ulp could flip a row exactly equal to a threshold.
    // See SCALE.md §percentile-audit.
    "q138_winsorize" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("event_type"), F.col("value"))
      val th = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").as("lo"),
        F.expr("percentile(value, 0.95)").as("hi"))
      ev.join(F.broadcast(th), "event_type")
        .groupBy("event_type").agg(
          F.count(F.lit(1)).as("n"),
          (F.floor((F.min("lo")) * 1e6 + 0.5) / 1e6).as("lo"),
          (F.floor((F.min("hi")) * 1e6 + 0.5) / 1e6).as("hi"),
          F.sum(F.when(F.col("value") < F.col("lo"), 1L).otherwise(0L))
            .as("n_lo"),
          F.sum(F.when(F.col("value") > F.col("hi"), 1L).otherwise(0L))
            .as("n_hi"),
          (F.floor((F.avg(
            F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value"))))) * 1e4 + 0.5) / 1e4).as("mean_winsorized"))
    },

    // stack/melt wide→long (reference src/reshape.jl:16-27).
    "q17_stack" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .stackCols(Seq("l_quantity", "l_extendedprice", "l_discount"),
                   Seq("l_orderkey", "l_linenumber"))
    },

    // pivot_table long→wide with aggregate (reference src/reshape.jl:78-103).
    "q18_pivot_table" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .pivotTable(Seq("o_orderpriority"), "o_orderstatus", orderStatuses,
          "round(sum(o_totalprice), 2)")
    },

    // unstack with last-write-wins under explicit order (reference
    // src/reshape.jl:35-63).
    "q19_unstack" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .unstack(Seq("l_orderkey"), "l_returnflag", "l_quantity",
          Seq("A", "N", "R"), Seq("l_linenumber", "l_quantity"))
    },

    // cross-tabulation, absent combos = 0 (reference xtab exports
    // src/DataFrames.jl:162-163).
    "q20_xtab" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .join(T.load(s, dir, "customer"),
          F.col("o_custkey") === F.col("c_custkey"))
        .xtab("c_mktsegment", "o_orderstatus", orderStatuses)
    },

    // describe: multi-column summary (reference src/dataframe.jl:
    // 867-906). describeColsExact = one stats agg + iterative histogram
    // refinement for the exact quantiles (no wide shuffle, no
    // single-reducer value-map merge) — the 100 TB path at any
    // cardinality. Equality with the percentile-based describeCols is
    // asserted in OpsSpec.
    "q21_describe" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .describeColsExact(
          Seq("l_quantity", "l_extendedprice", "l_discount"))
    },

    // colwise aggregate fan-out, `col_fn` naming (reference
    // src/grouping.jl:202-245).
    "q22_colwise" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .colwise(Seq("min", "max"), Seq("l_quantity", "l_extendedprice"),
                 keys = Seq("l_returnflag"))
    },

    // correlation matrix, long form (reference cor src/dataframe.jl:1514).
    "q23_cor" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .corMatrix(Seq("l_quantity", "l_extendedprice", "l_discount"))
    },

    // grouped exact quantiles (reference colmedians + distributed
    // quantile, src/dataframe_blocks.jl:263-356): one native
    // `percentile` over the exact-cents image of o_totalprice, all three
    // quartiles in one aggregate. Integer cents interpolate exactly at
    // quarter ranks, so round(·,4) after the /100 is ulp-safe.
    // percentile-audit: BOUNDED — each per-group value map holds at
    // most the cent domain of o_totalprice, not the row count. See
    // SCALE.md §percentile-audit.
    "q24_quantiles" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.expr("percentile(cast(round(o_totalprice * 100) as bigint), " +
          "array(0.25D, 0.5D, 0.75D))").as("__q"))
        .basedOn("o_orderstatus" -> "o_orderstatus",
          "q25" -> "round(__q[0] / 100, 4)",
          "q50" -> "round(__q[1] / 100, 4)",
          "q75" -> "round(__q[2] / 100, 4)")
    },

    // cut: numeric binning to interval labels (reference cut,
    // test/extras.jl:17-33).
    "q25_cut" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .withColumn("bin", Funcs.cut(F.col("o_totalprice"),
          Seq(0, 100000, 200000, 300000, 500000)))
        .by(Seq("bin"), "n" -> "count(*)")
    },

    // paste_columns key synthesis (reference src/extras.jl:32-44).
    "q26_paste" -> { (s, dir) =>
      T.load(s, dir, "customer")
        .withColumn("key",
          Funcs.pasteColumns("_", F.col("c_mktsegment"), F.col("c_nationkey")))
        .by(Seq("key"), "n" -> "count(*)")
    },

    // Kleene any/all as grouped bool aggregates (reference
    // src/operators.jl:251-277).
    "q27_anyall" -> { (s, dir) =>
      T.load(s, dir, "orders").by(Seq("o_orderpriority"),
        "any_big" -> "bool_or(o_totalprice > 450000)",
        "all_pos" -> "bool_and(o_totalprice > 0)")
    },

    // isna / complete_cases / na.fill (reference src/dataframe.jl:
    // 1412-1421, 1485-1511): nulls produced by a left join.
    "q28_na_ops" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
      val li = T.load(s, dir, "lineitem")
        .by(Seq("l_orderkey"), "n_items" -> "count(*)")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
        .basedOn(
          "o_orderkey" -> "o_orderkey",
          "is_missing" -> "n_items IS NULL",
          "n_filled" -> "coalesce(n_items, -1)")
    },

    // Elementary math functions, column-lifted (reference
    // src/operators.jl:7-12; NOTE DuckDB ln vs Spark log naming).
    "q33_math_funcs" -> { (s, dir) =>
      T.load(s, dir, "lineitem").basedOn(
        "l_orderkey" -> "l_orderkey", "l_linenumber" -> "l_linenumber",
        "sqrt_qty" -> "round(sqrt(l_quantity), 6)",
        "ln_price" -> "round(ln(l_extendedprice), 6)",
        "log10_price" -> "round(log10(l_extendedprice), 6)",
        "exp_disc" -> "round(exp(l_discount), 6)",
        "abs_c" -> "round(abs(l_quantity - 25.0), 6)",
        "floor_q" -> "floor(l_quantity)",
        "ceil_q" -> "ceiling(l_quantity)",
        "pow_d" -> "round(power(1.0 + l_tax, 2), 6)",
        "sin_q" -> "round(sin(l_quantity), 6)")
    },

    // String function suite (reference has only paste; Spark string ops
    // are the §2.9 superset).
    "q34_string_funcs" -> { (s, dir) =>
      T.load(s, dir, "part").basedOn(
        "p_partkey" -> "p_partkey",
        "up" -> "upper(p_name)",
        "lo" -> "lower(p_brand)",
        "len" -> "length(p_name)",
        "pre" -> "substr(p_type, 1, 5)",
        "combo" -> "concat(p_brand, ':', p_type)",
        "has_std" -> "p_type LIKE '%ECO%'")
    },

    // JSON extraction from the events props column.
    "q35_json" -> { (s, dir) =>
      T.load(s, dir, "events").basedOn(
        "event_id" -> "event_id",
        "k" -> "cast(get_json_object(props, '$.k') as bigint)")
    },

    // Column L2 norms (reference colnorms, src/operators.jl:231-245 —
    // SURVEY marked these "non-relational/UDF", but sqrt(sum(x²)) is a
    // plain relational aggregate).
    "q84_colnorms" -> { (s, dir) =>
      T.load(s, dir, "lineitem").by(Seq(),
        "l_quantity_norm" -> "round(sqrt(sum(l_quantity * l_quantity)), 2)",
        "l_discount_norm" -> "round(sqrt(sum(l_discount * l_discount)), 6)")
    },

    // Date/time parts over timestamps (reference has none — SURVEY
    // §2.9 "date functions: none"; Spark superset).
    "q36_dates" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .within("o_year" -> "year(o_orderdate)",
                "o_month" -> "month(o_orderdate)")
        .by(Seq("o_year", "o_month"),
          "n_orders" -> "count(*)",
          "total" -> "round(sum(o_totalprice), 2)")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q190_mad_outliers" ->
      """WITH med AS (SELECT event_type,
               quantile_cont(value, 0.5) AS med
             FROM events GROUP BY 1),
          mad AS (SELECT e.event_type, any_value(m.med) AS med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
             FROM events e JOIN med m USING (event_type)
             GROUP BY 1 HAVING quantile_cont(abs(e.value - m.med), 0.5) > 0)
         SELECT e.event_id, e.event_type, floor((e.value) * 1e2 + 0.5) / 1e2 AS value,
                floor(((e.value - m.med) / (1.4826 * m.mad)) * 1e4 + 0.5) / 1e4 AS robust_z
         FROM events e JOIN mad m USING (event_type)
         WHERE abs((e.value - m.med) / (1.4826 * m.mad)) > 3""",
    "q138_winsorize" ->
      """WITH th AS (SELECT event_type,
                       quantile_cont(value, 0.05) AS lo,
                       quantile_cont(value, 0.95) AS hi
                     FROM events GROUP BY 1)
         SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           floor((min(lo)) * 1e6 + 0.5) / 1e6 AS lo, floor((min(hi)) * 1e6 + 0.5) / 1e6 AS hi,
           CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lo,
           CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hi,
           floor((avg(greatest(lo, least(hi, value)))) * 1e4 + 0.5) / 1e4
             AS mean_winsorized
         FROM events e JOIN th USING (event_type) GROUP BY 1""",
    "q123_welch_t" ->
      """WITH per AS (SELECT source, count(*) AS n,
            sum(n_chars) AS sm, sum(n_chars * n_chars) AS sq
          FROM documents GROUP BY 1),
          tot AS (SELECT count(*) AS tn, sum(n_chars) AS tsm,
            sum(n_chars * n_chars) AS tsq FROM documents)
          SELECT source, CAST(n AS BIGINT) AS n,
            floor((sm::DOUBLE / n) * 1e6 + 0.5) / 1e6 AS mean_len,
            floor(((sm::DOUBLE / n - (tsm - sm)::DOUBLE / (tn - n))
              / sqrt(((sq::DOUBLE - sm::DOUBLE * sm / n) / (n - 1)) / n
                + (((tsq - sq)::DOUBLE
                    - (tsm - sm)::DOUBLE * (tsm - sm) / (tn - n))
                   / (tn - n - 1)) / (tn - n))) * 1e6 + 0.5) / 1e6 AS t_stat
          FROM per CROSS JOIN tot""",
    "q17_stack" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
                l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
         FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
         FROM lineitem""",
    "q18_pivot_table" ->
      """SELECT o_orderpriority,
         round(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END), 2) AS F,
         round(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END), 2) AS O,
         round(sum(CASE WHEN o_orderstatus='P' THEN o_totalprice END), 2) AS P
         FROM orders GROUP BY o_orderpriority""",
    "q19_unstack" ->
      """WITH chosen AS (
           SELECT l_orderkey, l_returnflag, l_quantity AS v,
             row_number() OVER (PARTITION BY l_orderkey, l_returnflag
               ORDER BY l_linenumber DESC, l_quantity DESC) AS rn
           FROM lineitem)
         SELECT l_orderkey,
           max(CASE WHEN l_returnflag='A' THEN v END) AS A,
           max(CASE WHEN l_returnflag='N' THEN v END) AS N,
           max(CASE WHEN l_returnflag='R' THEN v END) AS R
         FROM chosen WHERE rn = 1 GROUP BY l_orderkey""",
    "q20_xtab" ->
      """SELECT c_mktsegment,
         count(CASE WHEN o_orderstatus='F' THEN 1 END) AS F,
         count(CASE WHEN o_orderstatus='O' THEN 1 END) AS O,
         count(CASE WHEN o_orderstatus='P' THEN 1 END) AS P
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q21_describe" ->
      Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
        s"""SELECT '$c' AS col_name, floor((min($c)) * 1e6 + 0.5) / 1e6 AS min,
            floor((quantile_cont($c, 0.25)) * 1e6 + 0.5) / 1e6 AS q25,
            floor((quantile_cont($c, 0.5)) * 1e6 + 0.5) / 1e6 AS median,
            floor((avg($c)) * 1e6 + 0.5) / 1e6 AS mean,
            floor((quantile_cont($c, 0.75)) * 1e6 + 0.5) / 1e6 AS q75,
            floor((max($c)) * 1e6 + 0.5) / 1e6 AS max,
            CAST(count($c) AS DOUBLE) AS n,
            CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS DOUBLE)
              AS n_missing
            FROM lineitem"""
      }.mkString(" UNION ALL "),
    "q22_colwise" ->
      """SELECT l_returnflag,
         min(l_quantity) AS l_quantity_min,
         max(l_quantity) AS l_quantity_max,
         min(l_extendedprice) AS l_extendedprice_min,
         max(l_extendedprice) AS l_extendedprice_max
         FROM lineitem GROUP BY l_returnflag""",
    "q23_cor" ->
      """SELECT 'l_extendedprice' AS col1, 'l_quantity' AS col2,
                round(corr(l_extendedprice, l_quantity), 6) + 0 AS corr
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', 'l_extendedprice',
                round(corr(l_discount, l_extendedprice), 6) + 0 FROM lineitem
         UNION ALL
         SELECT 'l_discount', 'l_quantity',
                round(corr(l_discount, l_quantity), 6) + 0 FROM lineitem""",
    "q24_quantiles" ->
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
         round(quantile_cont(o_totalprice, 0.5), 4) AS q50,
         round(quantile_cont(o_totalprice, 0.75), 4) AS q75
         FROM orders GROUP BY o_orderstatus""",
    "q25_cut" ->
      """SELECT CASE
           WHEN o_totalprice > 300000 AND o_totalprice <= 500000
             THEN '(300000,500000]'
           WHEN o_totalprice > 200000 AND o_totalprice <= 300000
             THEN '(200000,300000]'
           WHEN o_totalprice > 100000 AND o_totalprice <= 200000
             THEN '(100000,200000]'
           WHEN o_totalprice > 0 AND o_totalprice <= 100000
             THEN '(0,100000]'
         END AS bin, count(*) AS n
         FROM orders GROUP BY 1""",
    "q26_paste" ->
      """SELECT c_mktsegment || '_' || c_nationkey AS key, count(*) AS n
         FROM customer GROUP BY 1""",
    "q27_anyall" ->
      """SELECT o_orderpriority,
         bool_or(o_totalprice > 450000) AS any_big,
         bool_and(o_totalprice > 0) AS all_pos
         FROM orders GROUP BY o_orderpriority""",
    "q28_na_ops" ->
      """SELECT o_orderkey, n_items IS NULL AS is_missing,
                coalesce(n_items, -1) AS n_filled
         FROM orders LEFT JOIN (
           SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1
         ) li ON o_orderkey = l_orderkey""",
    "q33_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         round(sqrt(l_quantity), 6) AS sqrt_qty,
         round(ln(l_extendedprice), 6) AS ln_price,
         round(log10(l_extendedprice), 6) AS log10_price,
         round(exp(l_discount), 6) AS exp_disc,
         round(abs(l_quantity - 25.0), 6) AS abs_c,
         CAST(floor(l_quantity) AS BIGINT) AS floor_q,
         CAST(ceiling(l_quantity) AS BIGINT) AS ceil_q,
         round(pow(1.0 + l_tax, 2), 6) AS pow_d,
         round(sin(l_quantity), 6) AS sin_q
         FROM lineitem""",
    "q34_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
         length(p_name) AS len, substr(p_type, 1, 5) AS pre,
         p_brand || ':' || p_type AS combo,
         p_type LIKE '%ECO%' AS has_std
         FROM part""",
    "q35_json" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events""",
    "q84_colnorms" ->
      """SELECT round(sqrt(sum(l_quantity * l_quantity)), 2)
                  AS l_quantity_norm,
                round(sqrt(sum(l_discount * l_discount)), 6)
                  AS l_discount_norm
         FROM lineitem""",
    "q36_dates" ->
      """SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
         count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY 1, 2"""
  )
}
