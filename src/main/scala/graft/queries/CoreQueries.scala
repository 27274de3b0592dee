package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.T
import graft.ops.RelOps._

/** Wave-1 query registry: scan/filter/project, aggregation, joins, set
  * ops, top-k — the minimum end-to-end slice of SURVEY.md §7.2 and the
  * first items of the §2 inventory. Each entry has a DuckDB oracle in
  * [[oracleSql]] with IDENTICAL output column names.
  *
  * Float policy: aggregate outputs are rounded (money→2, ratios→6) on
  * BOTH sides so parallel-summation float noise cannot flip the driver's
  * canonical hash.
  */
object CoreQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: pushed date filter → partial/final hash aggregate.
    // Exercises scan, predicate pushdown, group-by, arithmetic exprs
    // (reference `by`, src/grouping.jl:248-262).
    "q01_agg_tpch1" -> { (s, dir) =>
      val li = T.load(s, dir, "lineitem")
      li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .by(
          Seq("l_returnflag", "l_linestatus"),
          "sum_qty" -> "floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2",
          "sum_base_price" -> "floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2",
          "sum_disc_price" -> "floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2",
          "sum_charge" -> "floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 1e2 + 0.5) / 1e2",
          "avg_qty" -> "floor((avg(l_quantity)) * 1e6 + 0.5) / 1e6",
          "avg_price" -> "floor((avg(l_extendedprice)) * 1e6 + 0.5) / 1e6",
          "avg_disc" -> "floor((avg(l_discount)) * 1e6 + 0.5) / 1e6",
          "count_order" -> "count(*)")
    },

    // Expression predicate + computed projection (reference
    // `df[Expr, cols]` src/dataframe.jl:401-406 + `based_on`
    // :1332-1370). Filter + projection both reach the parquet scan.
    "q02_filter_project" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .filterExpr("l_discount > 0.05 AND l_quantity < 25")
        .basedOn(
          "l_orderkey" -> "l_orderkey",
          "l_linenumber" -> "l_linenumber",
          "revenue" -> "round(l_extendedprice * (1 - l_discount), 4)")
    },

    // Inner equi-join + aggregate (reference join(kind=:inner),
    // src/merge.jl:129-165). customer is the small dim side → Catalyst
    // broadcasts it (AQE converts at runtime from observed size).
    "q03_join_inner_agg" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
      val c = T.load(s, dir, "customer")
      o.join(F.broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .by(Seq("c_mktsegment"),
          "n_orders" -> "count(*)",
          "total_price" -> "round(sum(o_totalprice), 2)")
    },

    // Left outer join, NA-filled right side (reference kind=:left,
    // src/merge.jl:144-161): orders with no lineitems keep a 0 count.
    "q04_join_left" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
      val li = T.load(s, dir, "lineitem")
        .by(Seq("l_orderkey"),
          "n_items" -> "count(*)",
          "qty" -> "round(sum(l_quantity), 2)")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
        .basedOn(
          "o_orderkey" -> "o_orderkey",
          "o_totalprice" -> "o_totalprice",
          "n_items" -> "coalesce(n_items, 0)",
          "qty" -> "coalesce(qty, 0.0)")
    },

    // Full outer join with both-side-only keys (reference kind=:outer,
    // src/merge.jl:144-163). Key columns pre-renamed to a shared name so
    // join(using) coalesces them exactly as the reference emits one key.
    "q05_join_outer" -> { (s, dir) =>
      val a = T.load(s, dir, "orders")
        .filterExpr("o_orderkey % 3 = 0")
        .basedOn("orderkey" -> "o_orderkey", "total" -> "o_totalprice")
      val b = T.load(s, dir, "lineitem")
        .filterExpr("l_orderkey % 2 = 0")
        .by(Seq("l_orderkey"), "n_items" -> "count(*)")
        .withColumnRenamed("l_orderkey", "orderkey")
      a.join(b, Seq("orderkey"), "full_outer")
    },

    // Top-k: orderBy+limit → TakeOrderedAndProject (partial per-partition
    // top-k, no global sort; reference sort+head src/dataframe.jl:834).
    "q06_topk" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .basedOn("o_orderkey" -> "o_orderkey",
                 "o_totalprice" -> "o_totalprice")
        .topK(10, Ordering("o_totalprice", desc = true),
                  Ordering("o_orderkey"))
    },

    // Distinct rows (reference `unique`, src/dataframe.jl:1472).
    "q07_distinct" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .basedOn("o_orderstatus" -> "o_orderstatus",
                 "o_orderpriority" -> "o_orderpriority")
        .distinct()
    },

    // vcat: union-by-name with NA fill for missing columns (reference
    // src/dataframe.jl:1098-1131).
    "q08_vcat" -> { (s, dir) =>
      val c = T.load(s, dir, "customer").basedOn(
        "key" -> "c_custkey", "name" -> "c_name", "bal" -> "c_acctbal",
        "seg" -> "c_mktsegment", "side" -> "'customer'")
      val sup = T.load(s, dir, "supplier").basedOn(
        "key" -> "s_suppkey", "name" -> "s_name", "bal" -> "s_acctbal",
        "side" -> "'supplier'")
      c.vcat(sup)
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q01_agg_tpch1" ->
      """SELECT l_returnflag, l_linestatus,
         floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
         floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
         floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
         floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 1e2 + 0.5) / 1e2 AS sum_charge,
         floor((avg(l_quantity)) * 1e6 + 0.5) / 1e6 AS avg_qty,
         floor((avg(l_extendedprice)) * 1e6 + 0.5) / 1e6 AS avg_price,
         floor((avg(l_discount)) * 1e6 + 0.5) / 1e6 AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice * (1 - l_discount), 4) AS revenue
         FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 25""",
    "q03_join_inner_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q04_join_left" ->
      """SELECT o_orderkey, o_totalprice,
         coalesce(n_items, 0) AS n_items, coalesce(qty, 0.0) AS qty
         FROM orders LEFT JOIN (
           SELECT l_orderkey, count(*) AS n_items,
                  round(sum(l_quantity), 2) AS qty
           FROM lineitem GROUP BY l_orderkey
         ) li ON o_orderkey = l_orderkey""",
    "q05_join_outer" ->
      """SELECT orderkey, total, n_items
         FROM (SELECT o_orderkey AS orderkey, o_totalprice AS total
               FROM orders WHERE o_orderkey % 3 = 0) a
         FULL OUTER JOIN
              (SELECT l_orderkey AS orderkey, count(*) AS n_items
               FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1) b
         USING (orderkey)""",
    "q06_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q07_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "q08_vcat" ->
      """SELECT c_custkey AS key, c_name AS name, c_acctbal AS bal,
                c_mktsegment AS seg, 'customer' AS side FROM customer
         UNION ALL
         SELECT s_suppkey, s_name, s_acctbal, CAST(NULL AS VARCHAR),
                'supplier' FROM supplier"""
  )
}
