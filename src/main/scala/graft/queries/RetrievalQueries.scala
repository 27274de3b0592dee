package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.T

/** Wave-7: retrieval / recommendation / corpus-reporting operators —
  * positional phrase search over an inverted index, item-item
  * collaborative filtering, and the cumulative distinct-user curve
  * with a mergeable-HLL gate. Counts stay integer-exact until one
  * final rounded division so the DuckDB oracle hash-matches.
  */
object RetrievalQueries extends QueryRegistry {

  /** (doc_id, phrase) positional word-trigram relation — the inverted
    * index both q220 and RetrievalSpec rank over. */
  private[graft] def phraseTrigrams(docs: DataFrame): DataFrame =
    docs
      .select(F.col("doc_id"), F.expr(
        """filter(split(lower(text), '\\s+'), w -> length(w) > 0)""")
        .as("ws"))
      .filter(F.size(F.col("ws")) >= 3)
      .select(F.col("doc_id"), F.explode(F.expr(
        """transform(sequence(1, size(ws) - 2),
             i -> concat_ws(' ', element_at(ws, i),
                  element_at(ws, i + 1), element_at(ws, i + 2)))"""))
        .as("phrase"))

  /** Distributed running HLL union under a global ordering — the
    * sketch analog of [[graft.ops.RelOps.globalPrefixSum]]'s two-phase
    * scan, with the same "no single-task global window" property:
    * range-partition by the order column (partition order == global
    * order), per-partition running union via a PARTITIONED growing
    * window frame (one buffer update per row), then an exclusive
    * cross-partition prefix built from the O(P)-row per-partition
    * totals with a triangular self-join — O(P²) sketch merges where P
    * is the shuffle partition count, independent of data volume — and
    * one scalar `hll_union` to splice prefix + local state. Total
    * merge work is O(rows + P²), vs O(rows²/2) for a triangular
    * d2<=day join and a single-task funnel for a global window.
    * The input is localCheckpoint-pinned so the partition ids the
    * three consumers read are the SAME materialization (range
    * partitioning re-samples per evaluation otherwise). */
  private[graft] def runningHllUnion(ds: DataFrame, orderCol: String,
                                     skCol: String, out: String): DataFrame = {
    val ranged = ds.repartitionByRange(F.col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn("__pid", F.spark_partition_id())
      // pin: correctness — range bounds are sampled per evaluation
      .localCheckpoint()
    val w = Window.partitionBy("__pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("__lcum",
      F.hll_union_agg(F.col(skCol)).over(w))
    val totals = ranged.groupBy("__pid")
      .agg(F.hll_union_agg(F.col(skCol)).as("__ptot"))
    val boundary = totals.as("a")
      .join(totals.as("b"), F.col("b.__pid") < F.col("a.__pid"))
      .groupBy(F.col("a.__pid").as("__pid"))
      .agg(F.hll_union_agg(F.col("b.__ptot")).as("__pre"))
    local.join(F.broadcast(boundary), Seq("__pid"), "left_outer")
      .withColumn(out,
        F.when(F.col("__pre").isNull, F.col("__lcum"))
          .otherwise(F.hll_union(F.col("__pre"), F.col("__lcum"))))
      .drop("__pid", "__lcum", "__pre")
  }

  /** Item-item CF core over a basket relation (ok, pk): cosine over
    * co-occurrence counts, support >= minSupport, top-k per item on
    * the bounded TopK aggregator. Shared by q221 and RetrievalSpec. */
  private[graft] def itemCf(oi0: DataFrame, minSupport: Long,
                            k: Int): DataFrame = {
    // pinned: the basket relation feeds both sides of the pair
    // self-join AND the item-count relation joined twice below — four
    // lineage evaluations of the upstream scan+distinct without the
    // pin (r5 bench measured q221 at 12.0 s, shuf=18 for ~3 logical
    // shuffles). Bench/Verify sweep the blocks post-query.
    val oi = oi0.localCheckpoint() // pin: measured — unpinned 5.36 vs 4.59 s, local[32]
    val ci = oi.groupBy("pk").agg(F.count(F.lit(1)).as("c"))
    val pairs = oi.toDF("ok", "i").join(oi.toDF("ok", "j"), "ok")
      .filter(F.col("i") < F.col("j"))
      .groupBy("i", "j").agg(F.count(F.lit(1)).as("cij"))
      .filter(F.col("cij") >= minSupport)
    val sym = pairs.unionAll(pairs.select(F.col("j").as("i"),
      F.col("i").as("j"), F.col("cij")))
    val scored = sym
      .join(ci.toDF("i", "ci"), "i")
      .join(ci.toDF("j", "cj"), "j")
      .select(F.col("i").as("item"), F.col("j").as("rec"),
        (F.floor((F.col("cij")
          / F.sqrt((F.col("ci") * F.col("cj")).cast("double"))) * 1e6 + 0.5) / 1e6)
          .as("sim"))
    graft.similarity.TopK
      .perGroup[Long](scored, Seq("item"), "sim", "rec", k)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Phrase search over a positional token index: the (doc, position,
    // trigram-phrase) relation IS the positional inverted index — here
    // the searched phrase is derived in-plan (the corpus's most
    // frequent word trigram, lexicographic tiebreak) so the query is
    // self-contained; a production search skips that derivation and
    // probes a stored index. Scale shape: phrase counting is one
    // partial-agg'd shuffle on phrase keys, the top-1 is a
    // TakeOrdered(1) broadcast, and the probe is an equi-join — the
    // corpus text never moves, only (doc_id, phrase) pairs.
    "q220_phrase_search" -> { (s, dir) =>
      val tri = phraseTrigrams(T.load(s, dir, "documents"))
      val top = tri.groupBy("phrase").agg(F.count(F.lit(1)).as("n"))
        .orderBy(F.col("n").desc, F.col("phrase").asc).limit(1)
      tri.join(F.broadcast(top.select("phrase")), "phrase")
        .groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).as("n_hits"))
    },

    // Item-item collaborative filtering over co-purchase baskets: for
    // every part, the top-5 most-co-purchased parts by cosine over
    // basket co-occurrence counts (sim = c_ij / sqrt(c_i c_j), support
    // >= 2). Pair fan-out is per-order (bounded by lines-per-order²,
    // the q181 bound), counts partial-aggregate map-side, and the
    // per-item ranking runs on the bounded-memory TopK aggregator —
    // shuffles carry O(items × 5), never the candidate volume. All
    // counts are exact integers; c_i·c_j < 2^53 so the one cosine
    // division is bit-deterministic.
    "q221_item_cf" -> { (s, dir) =>
      itemCf(T.load(s, dir, "lineitem")
        .select(F.col("l_orderkey").as("ok"), F.col("l_partkey").as("pk"))
        .distinct(), minSupport = 2, k = 5)
    },

    // Cumulative distinct-user curve with a mergeable-sketch gate:
    // exact running distinct via first-seen-day + distributed prefix
    // sum (a user is "new" exactly once, so cumulative distinct =
    // running sum of new-user counts — no count-distinct windows), and
    // per-day HLL sketches whose CUMULATIVE union must estimate within
    // 5%+5 of the exact curve. The sketch side is the 100 TB shape:
    // the corpus collapses to ONE mergeable sketch per day in a
    // partial-agg'd shuffle, and the running curve is the LINEAR
    // two-phase prefix union ([[runningHllUnion]] — O(days + P²)
    // merges, no single-task global window), vs the O(days²/2) a
    // d2<=day triangular join costs. Oracle emits the exact curve +
    // literal TRUE (the
    // q118/q131 sketch-gate pattern: the estimate itself is
    // hash-family-dependent, the GATE is what's checked).
    "q225_cumulative_users" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.expr("cast(floor(unix_timestamp(ts) / 86400) as bigint)")
          .as("day"), F.col("user_id"))
      val days = ev.select("day").distinct()
      val newPerDay = ev.groupBy("user_id").agg(F.min("day").as("fd"))
        .groupBy(F.col("fd").as("day"))
        .agg(F.count(F.lit(1)).as("nu"))
      val joined = days.join(newPerDay, Seq("day"), "left_outer")
        .select(F.col("day"),
          F.coalesce(F.col("nu"), F.lit(0L)).as("new_users"))
      val cum = graft.ops.RelOps.globalPrefixSum(joined, "new_users",
        "pre", Seq(graft.ops.RelOps.Ordering("day")))
      val est = runningHllUnion(
        ev.groupBy(F.col("day"))
          .agg(F.hll_sketch_agg(F.col("user_id")).as("sk")),
        "day", "sk", "csk")
        .select(F.col("day"),
          F.hll_sketch_estimate(F.col("csk")).as("est"))
      cum.join(est, "day")
        .select(F.col("day"), F.col("new_users"),
          (F.col("pre") + F.col("new_users")).as("cum_users"),
          (F.abs((F.col("est") - F.col("pre") - F.col("new_users"))
              .cast("double"))
            <= F.lit(0.05) * (F.col("pre") + F.col("new_users"))
              + F.lit(5.0)).as("hll_ok"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q220_phrase_search" ->
      """WITH w AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text),
                        '\s+'), x -> len(x) > 0) AS ws
                    FROM documents),
          tri AS (SELECT doc_id,
                    concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]) AS phrase
                  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
                  WHERE len(ws) >= 3),
          top AS (SELECT phrase FROM tri GROUP BY phrase
                  ORDER BY count(*) DESC, phrase LIMIT 1)
          SELECT doc_id, phrase, CAST(count(*) AS BIGINT) AS n_hits
          FROM tri JOIN top USING (phrase)
          GROUP BY 1, 2""",
    "q221_item_cf" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
          ci AS (SELECT pk, count(*) AS c FROM oi GROUP BY 1),
          p AS (SELECT a.pk AS i, b.pk AS j, count(*) AS cij
                FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
          sym AS (SELECT i, j, cij FROM p
                  UNION ALL SELECT j, i, cij FROM p),
          sc AS (SELECT s.i AS item, s.j AS rec,
                   floor((s.cij / sqrt(CAST(ca.c * cb.c AS DOUBLE))) * 1e6 + 0.5) / 1e6
                     AS sim
                 FROM sym s
                 JOIN ci ca ON ca.pk = s.i
                 JOIN ci cb ON cb.pk = s.j)
          SELECT item, rec, sim, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY item
              ORDER BY sim DESC, rec) AS rank
            FROM sc) t
          WHERE rank <= 5""",
    "q225_cumulative_users" ->
      """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
                      AS day, user_id
                    FROM events),
          days AS (SELECT DISTINCT day FROM e),
          fs AS (SELECT user_id, min(day) AS fd FROM e GROUP BY 1),
          npd AS (SELECT fd AS day, count(*) AS n FROM fs GROUP BY 1),
          j AS (SELECT d.day, coalesce(npd.n, 0) AS new_users
                FROM days d LEFT JOIN npd USING (day)),
          c AS (SELECT day, new_users,
                  sum(new_users) OVER (ORDER BY day) AS cum_users
                FROM j)
          SELECT day, CAST(new_users AS BIGINT) AS new_users,
            CAST(cum_users AS BIGINT) AS cum_users, TRUE AS hll_ok
          FROM c"""
  )
}
