package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.T
import graft.ops.RelOps._
import graft.ops.SeqOps._

/** Wave-2a: remaining join kinds, multi-key joins, semi/anti, sortperm,
  * window/sequence ops, hcat, dedup — SURVEY.md §2.3, §2.5, §2.6, §2.7.
  */
object RelQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Right outer join (reference kind=:right, src/merge.jl:144-161).
    "q09_join_right" -> { (s, dir) =>
      val li = T.load(s, dir, "lineitem")
        .by(Seq("l_orderkey"), "n_items" -> "count(*)")
      val o = T.load(s, dir, "orders").filterExpr("o_orderkey % 5 = 0")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "right_outer")
        .basedOn("o_orderkey" -> "o_orderkey", "n_items" -> "n_items")
    },

    // Multi-column key equi-join (reference mixed-radix key encoding,
    // src/merge.jl:75-97 — Spark joins on composite conditions natively).
    "q10_join_multikey" -> { (s, dir) =>
      val li = T.load(s, dir, "lineitem")
      val stats = li.by(Seq("l_returnflag", "l_linestatus"),
        "grp_avg_price" -> "floor((avg(l_extendedprice)) * 1e4 + 0.5) / 1e4")
      li.join(stats, Seq("l_returnflag", "l_linestatus"))
        .filterExpr("l_extendedprice > 1.8 * grp_avg_price")
        .by(Seq("l_returnflag", "l_linestatus"),
          "n_expensive" -> "count(*)", "grp_avg_price" -> "first(grp_avg_price)")
    },

    // Left-semi join: orders that have lineitems (Spark-native kind the
    // reference lacks — SURVEY §2.3 "free in Spark").
    "q11_join_semi" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
      val li = T.load(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .basedOn("o_orderkey" -> "o_orderkey",
                 "o_totalprice" -> "o_totalprice")
    },

    // Left-anti join: orders with no lineitems.
    "q12_join_anti" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
      val li = T.load(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .basedOn("o_orderkey" -> "o_orderkey",
                 "o_totalprice" -> "o_totalprice")
    },

    // sortperm materialized as a rank column (reference sortperm,
    // src/dataframe.jl:1540-1852): multi-col ordering with per-column
    // direction + deterministic tiebreak.
    "q13_sortperm" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .basedOn("o_orderkey" -> "o_orderkey",
                 "o_totalprice" -> "o_totalprice")
        .rankBy("perm", Nil,
          Ordering("o_totalprice", desc = true), Ordering("o_orderkey"))
    },

    // Running per-group cumulative sum (reference cumsum over implicit
    // order, src/operators.jl:60; partitioned → scales).
    "q14_window_cumsum" -> { (s, dir) =>
      T.load(s, dir, "orders")
        .cumsum("o_totalprice", "running_total",
          partitionBy = Seq("o_custkey"),
          orderBy = Seq("o_orderdate", "o_orderkey"))
        .basedOn("o_orderkey" -> "o_orderkey", "o_custkey" -> "o_custkey",
          "running_total" -> "round(running_total, 2)")
    },

    // diff + percent_change via lag (reference src/operators.jl:58).
    "q15_lag_diff" -> { (s, dir) =>
      // pct is an unconstrained ratio, so round(pct, 6) has exact-half
      // knife edges ((57.63-6.4)/6.4 = 8.0046875 at sf0.1): Spark's
      // round (HALF_UP on the shortest decimal repr) and DuckDB's (on
      // the binary value) disagree there. floor(x*1e6 + 0.5)/1e6 is
      // the same IEEE op sequence in both engines on the same input
      // double — bit-identical by construction (round-13 cross-scale
      // sweep). Note the floor form rounds NEGATIVE exact halves
      // toward +inf (half-down in magnitude), unlike round()'s
      // away-from-zero HALF_UP — that direction change IS the
      // cross-engine contract, applied identically on both sides.
      // dv is a 2-dp money difference, ≥5e-7 from any 6-dp
      // half, so its round() stays.
      T.load(s, dir, "events")
        .diff("value", "dv", Seq("user_id"), Seq("ts", "event_id"))
        .percentChange("value", "pct", Seq("user_id"), Seq("ts", "event_id"))
        .basedOn("event_id" -> "event_id", "user_id" -> "user_id",
          "dv" -> "round(dv, 6)",
          "pct" -> "floor(pct * 1e6 + 0.5) / 1e6")
    },

    // Ranking family over partitions (SURVEY §2.5 — "free in Spark").
    "q16_rank" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc, F.col("o_orderkey").asc)
      T.load(s, dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filterExpr("rn <= 5")
        .basedOn("o_orderpriority" -> "o_orderpriority",
          "o_orderkey" -> "o_orderkey", "o_totalprice" -> "o_totalprice",
          "rn" -> "rn")
    },

    // hcat: positional column-bind of two independently-ordered frames
    // (reference src/dataframe.jl:1006-1021) — zip realized as row-id
    // join under explicit deterministic orderings.
    "q30_hcat" -> { (s, dir) =>
      val a = T.load(s, dir, "orders")
        .basedOn("o_orderkey" -> "o_orderkey")
      val b = T.load(s, dir, "orders")
        .basedOn("price_asc" -> "o_totalprice", "okey" -> "o_orderkey")
      a.hcat(b, orderLeft = Seq("o_orderkey"),
        orderRight = Seq("price_asc", "okey"))
    },

    // First-occurrence dedup (reference drop_duplicates!,
    // src/dataframe.jl:1452-1483: keeps first in row order).
    "q31_dedup_firstrow" -> { (s, dir) =>
      T.load(s, dir, "lineitem")
        .dedupFirst(Seq("l_orderkey"),
          "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        .basedOn("l_orderkey" -> "l_orderkey",
          "l_linenumber" -> "l_linenumber", "l_partkey" -> "l_partkey")
    },

    // head under deterministic order (reference head, src/dataframe.jl:834).
    "q32_head" -> { (s, dir) =>
      T.load(s, dir, "customer")
        .sortBy(Ordering("c_custkey"))
        .limit(50)
        .basedOn("c_custkey" -> "c_custkey", "c_name" -> "c_name")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q09_join_right" ->
      """SELECT o_orderkey, n_items FROM
         (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1) li
         RIGHT JOIN (SELECT * FROM orders WHERE o_orderkey % 5 = 0) o
         ON li.l_orderkey = o.o_orderkey""",
    "q10_join_multikey" ->
      """WITH stats AS (
           SELECT l_returnflag, l_linestatus,
                  floor((avg(l_extendedprice)) * 1e4 + 0.5) / 1e4 AS grp_avg_price
           FROM lineitem GROUP BY 1, 2)
         SELECT l.l_returnflag, l.l_linestatus, count(*) AS n_expensive,
                min(s.grp_avg_price) AS grp_avg_price
         FROM lineitem l JOIN stats s
           ON l.l_returnflag = s.l_returnflag
          AND l.l_linestatus = s.l_linestatus
         WHERE l.l_extendedprice > 1.8 * s.grp_avg_price
         GROUP BY 1, 2""",
    "q11_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey)""",
    "q12_join_anti" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey)""",
    "q13_sortperm" ->
      """SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS perm
         FROM orders""",
    "q14_window_cumsum" ->
      """SELECT o_orderkey, o_custkey,
         round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_total
         FROM orders""",
    "q15_lag_diff" ->
      """SELECT event_id, user_id,
         round(value - lag(value) OVER w, 6) + 0 AS dv,
         floor((value - lag(value) OVER w) / nullif(lag(value) OVER w, 0) * 1e6 + 0.5) / 1e6 AS pct
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "q16_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) t WHERE rn <= 5""",
    "q30_hcat" ->
      """SELECT a.o_orderkey, b.price_asc, b.okey FROM
         (SELECT o_orderkey,
            row_number() OVER (ORDER BY o_orderkey) AS rid FROM orders) a
         JOIN
         (SELECT o_totalprice AS price_asc, o_orderkey AS okey,
            row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rid
          FROM orders) b
         USING (rid)""",
    "q31_dedup_firstrow" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
           SELECT l_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
           FROM lineitem) t WHERE rn = 1""",
    "q32_head" ->
      """SELECT c_custkey, c_name FROM customer
         ORDER BY c_custkey LIMIT 50"""
  )
}
