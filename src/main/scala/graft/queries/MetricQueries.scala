package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.T
import graft.plans.TextExpressions.wordTokens

/** Wave-33+ estimation / modeling operators: the closed-form
  * statistical fits an analytics team runs on top of the relational
  * core — vocabulary-richness estimators (Good-Turing / Chao1) and
  * multi-regressor OLS from exact moment sums.
  *
  * Extends the reference's whole-column reduction style
  * (/root/reference/src/dataframe.jl colsums/colmeans family) to
  * closed-form model fits: every query here is one scan into a tiny
  * moment/contingency relation plus deterministic scalar math.
  *
  * Float policy (the q304 discipline): accumulate EXACT integer /
  * DECIMAL(38) moments in the distributed pass; convert to double
  * only inside the final closed-form projection; round published
  * floats to 6 dp on both engines.
  */
object MetricQueries extends QueryRegistry {

  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Good-Turing counts-of-counts + Chao1 vocabulary richness over
    // word TRIGRAMS — the "how much n-gram vocabulary haven't we seen
    // yet" estimators run before committing an LM's n-gram table
    // (pairs with q247's Heaps curve and q295's OOV rate; unigrams are
    // degenerate on this corpus — 31 distinct words — so the trigram
    // space is where the Zipf tail lives). One row per frequency r in
    // 1..5: N_r (number of distinct trigrams occurring exactly r
    // times), the Good-Turing adjusted count r* = (r+1) N_{r+1} / N_r,
    // plus the corpus-level scalars every row repeats (1-row broadcast
    // join): observed vocab V, total occurrences N, unseen-mass
    // estimate N_1/N (Turing coverage complement) and bias-corrected
    // Chao1 richness V + N_1(N_1 - 1) / (2 (N_2 + 1)). Shape:
    // trigrams → (gram, c) → (c, N_c) — two shuffles, the second over
    // ≤ max-count rows; everything downstream is O(1).
    "q307_good_turing" -> { (s, dir) =>
      val wc = T.load(s, dir, "documents")
        .select(wordTokens(F.col("text")).as("t"))
        .select(F.explode(F.expr(graft.text.TextOps.allShinglesExpr(
          "t", 3))).as("w"))
        .groupBy("w").agg(F.count(F.lit(1)).as("c"))
      val coc = wc.groupBy("c").agg(F.count(F.lit(1)).as("n_r"))
      val totals = wc.agg(
        F.count(F.lit(1)).as("vocab"),
        F.sum("c").as("n_tokens"))
      val n1n2 = coc.agg(
        F.sum(F.when(F.col("c") === 1, F.col("n_r"))
          .otherwise(F.lit(0L))).as("n1"),
        F.sum(F.when(F.col("c") === 2, F.col("n_r"))
          .otherwise(F.lit(0L))).as("n2"))
      val nxt = coc.select(F.col("c").as("c_next"),
        F.col("n_r").as("n_r_next"))
      val out = coc.filter(F.col("c") <= 5)
        .join(F.broadcast(nxt), F.col("c") + 1 === F.col("c_next"),
          "left")
        .crossJoin(F.broadcast(totals)).crossJoin(F.broadcast(n1n2))
        .select(
          F.col("c").as("r"),
          F.col("n_r"),
          F.coalesce(F.col("n_r_next"), F.lit(0L)).as("n_r1"),
          F.expr("""floor(((c + 1) * cast(coalesce(n_r_next, 0)
            as double) / n_r) * 1e6 + 0.5) / 1e6""").as("r_star"),
          F.col("vocab"),
          F.col("n_tokens"),
          F.expr("floor((cast(n1 as double) / n_tokens) * 1e6 + 0.5) / 1e6")
            .as("unseen_mass"),
          F.expr("""floor((vocab + cast(n1 as double) * (n1 - 1)
            / (2 * (n2 + 1))) * 1e6 + 0.5) / 1e6""").as("chao1"))
        .orderBy("r")
      out
    },

    // Two-regressor OLS with intercept, fit in closed form from one
    // scan of exact moments — the bytes-per-token cost model a
    // packing/budget planner runs (q57/q304's sizing questions):
    // bytes(text) ~ b0 + b1·n_tokens + b2·n_long_tokens, so b1 is the
    // marginal cost of a token and b2 the long-word (≥6 chars)
    // surcharge (the multi-feature extension of q127's single slope;
    // fits R² ≈ 0.998 on this corpus). The normal-equation moments
    // (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y, Σx2y, Σy²) are
    // DECIMAL(38,0) sums of exact integers — no float accumulation
    // order anywhere — and the 3×3 solve is Cramer's rule on doubles
    // derived from those identical integers, so both engines compute
    // bit-identical coefficients before the shared 6-dp round. R²
    // comes from the same moment row via SSE = Σy² − b0Σy − b1Σx1y −
    // b2Σx2y (no second pass). At 100 TB this is STILL one scan + a
    // 1-row reduce: the moment vector is the only shuffled state.
    "q308_ols2" -> { (s, dir) =>
      val m = T.load(s, dir, "documents")
        .select(wordTokens(F.col("text")).as("t"), F.col("text"))
        .select(F.expr("""struct(cast(size(t) as decimal(38,0)) as x1,
                   cast(size(filter(t, x -> length(x) >= 6))
                     as decimal(38,0)) as x2)""").as("f"),
          F.expr("cast(length(text) as decimal(38,0))").as("y"))
        .select(F.col("f.x1").as("x1"), F.col("f.x2").as("x2"),
          F.col("y"))
        .agg(
          F.count(F.lit(1)).as("n"),
          F.sum("x1").as("sx1"), F.sum("x2").as("sx2"),
          F.sum("y").as("sy"),
          F.sum(F.expr("x1 * x1")).as("sx1x1"),
          F.sum(F.expr("x2 * x2")).as("sx2x2"),
          F.sum(F.expr("x1 * x2")).as("sx1x2"),
          F.sum(F.expr("x1 * y")).as("sx1y"),
          F.sum(F.expr("x2 * y")).as("sx2y"),
          F.sum(F.expr("y * y")).as("syy"))
      m.selectExpr(
          "cast(n as double) as dn",
          "cast(sx1 as double) as a1", "cast(sx2 as double) as a2",
          "cast(sy as double) as ay",
          "cast(sx1x1 as double) as a11",
          "cast(sx2x2 as double) as a22",
          "cast(sx1x2 as double) as a12",
          "cast(sx1y as double) as a1y",
          "cast(sx2y as double) as a2y",
          "cast(syy as double) as ayy", "n")
        .selectExpr("n", "dn", "ay", "a1y", "a2y", "ayy",
          // det of [[dn,a1,a2],[a1,a11,a12],[a2,a12,a22]]
          """dn * (a11 * a22 - a12 * a12)
             - a1 * (a1 * a22 - a12 * a2)
             + a2 * (a1 * a12 - a11 * a2) as det""",
          """ay * (a11 * a22 - a12 * a12)
             - a1 * (a1y * a22 - a12 * a2y)
             + a2 * (a1y * a12 - a11 * a2y) as det0""",
          """dn * (a1y * a22 - a12 * a2y)
             - ay * (a1 * a22 - a12 * a2)
             + a2 * (a1 * a2y - a1y * a2) as det1""",
          """dn * (a11 * a2y - a1y * a12)
             - a1 * (a1 * a2y - a1y * a2)
             + ay * (a1 * a12 - a11 * a2) as det2""")
        .selectExpr("n", "ay", "a1y", "a2y", "ayy", "dn",
          "det0 / det as b0", "det1 / det as b1", "det2 / det as b2")
        .selectExpr("n",
          "floor((b0) * 1e6 + 0.5) / 1e6 as b0", "floor((b1) * 1e6 + 0.5) / 1e6 as b1",
          "floor((b2) * 1e6 + 0.5) / 1e6 as b2",
          """floor((1 - (ayy - b0 * ay - b1 * a1y - b2 * a2y)
             / (ayy - ay * ay / dn)) * 1e6 + 0.5) / 1e6 as r2""")
    },

    // Fellegi-Sunter probabilistic record linkage (1969) — the
    // principled scoring layer over q185's Jaro candidates and
    // q215's sorted-neighborhood blocks: per comparison field, the
    // u-probability (chance agreement between NON-matches) is
    // estimated from the value-frequency distribution as the exact
    // integer Σ n_v(n_v−1) / N(N−1); the m-probability is the
    // standard 0.9 prior; each field's agree/disagree weight is
    // log2(m/u) / log2((1−m)/(1−u)), 6-dp rounded BEFORE any pair
    // is scored so both engines sum identical doubles. Pairs are
    // blocked on (nation, mktsegment) — O(Σ_b n_b²), never n² — and
    // the output is the top-20 scored pairs (rounded-score desc,
    // id tie-breaks: fully deterministic).
    "q309_fellegi_sunter" -> { (s, dir) =>
      val c = T.load(s, dir, "customer")
        .select(F.col("c_custkey").as("id"),
          F.col("c_nationkey").as("blk1"),
          F.col("c_mktsegment").as("blk2"),
          F.expr("cast(floor(c_acctbal / 500) as long)").as("f1"),
          F.expr("cast(floor((c_acctbal * 100) * 1e0 + 0.5) / 1e0 as long) % 97")
            .as("f2"),
          F.expr("substring(c_name, length(c_name) - 1, 2)")
            .as("f3"))
        // pin: measured — unpinned 1.83 vs 1.70 s, local[32]
        .localCheckpoint() // feeds 3 u-estimates AND the pair join
      def uW(field: String) = {
        // DECIMAL(38,0) before every product: nv*(nv-1) and N*(N-1)
        // wrap int64 above ~3e9 rows-per-value / total rows, and
        // Spark wraps silently where DuckDB raises — the q265/q272
        // exact-integer discipline applies to the u-estimates too.
        val agg = c.groupBy(field).agg(F.count(F.lit(1)).as("nv"))
          .agg(F.sum(F.expr("cast(nv as decimal(38,0)) * (nv - 1)"))
            .as("sagree"), F.sum("nv").as("nn"))
        agg.select(
          F.expr("""floor((cast(sagree as double) /
            cast(cast(nn as decimal(38,0)) * (nn - 1) as double)) * 1e6 + 0.5) / 1e6""")
            .as(s"u_$field"))
          .selectExpr(s"u_$field",
            s"floor((log2(0.9 / u_$field)) * 1e6 + 0.5) / 1e6 as wa_$field",
            s"floor((log2((1 - 0.9) / (1 - u_$field))) * 1e6 + 0.5) / 1e6 as wd_$field")
      }
      val w = uW("f1").crossJoin(F.broadcast(uW("f2")))
        .crossJoin(F.broadcast(uW("f3")))
      val a = c.select(F.col("id").as("id_a"), F.col("blk1"),
        F.col("blk2"), F.col("f1").as("a1"), F.col("f2").as("a2"),
        F.col("f3").as("a3"))
      val b = c.select(F.col("id").as("id_b"), F.col("blk1"),
        F.col("blk2"), F.col("f1").as("b1"), F.col("f2").as("b2"),
        F.col("f3").as("b3"))
      val out = a.join(b, Seq("blk1", "blk2"))
        .filter(F.col("id_a") < F.col("id_b"))
        .crossJoin(F.broadcast(w))
        .selectExpr("id_a", "id_b",
          """concat(case when a1 = b1 then '1' else '0' end,
                    case when a2 = b2 then '1' else '0' end,
                    case when a3 = b3 then '1' else '0' end)
             as pattern""",
          """floor(((case when a1 = b1 then wa_f1 else wd_f1 end)
             + (case when a2 = b2 then wa_f2 else wd_f2 end)
             + (case when a3 = b3 then wa_f3 else wd_f3 end)) * 1e6 + 0.5) / 1e6
             as score""")
        .orderBy(F.col("score").desc, F.col("id_a"), F.col("id_b"))
        .limit(20)
      out
    },

    // MRR@10 — mean reciprocal rank of the first same-label
    // neighbor, the "how fast does retrieval find something
    // relevant" twin of q298's NDCG (which measures the whole list).
    // Same deterministic harness: brute-force top-10 by 6-dp-rounded
    // cosine with id tie-breaks; per query the first relevant rank
    // (0 = miss) and its reciprocal, plus the corpus MRR repeated on
    // every row from a 1-row broadcast. Queries stay a small
    // broadcast relation; the corpus is never collected.
    "q310_mrr" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") < 20)
      val knn = graft.similarity.Knn.bruteForceKnn(
        emb, q, "vec_id", "embedding", 10)
      val ql = q.select(F.col("vec_id").as("query_id"),
        F.col("label").as("qlbl"))
      val nl = emb.select(F.col("vec_id").as("neighbor_id"),
        F.col("label").as("nlbl"))
      val firsts = knn.join(F.broadcast(ql), "query_id")
        .join(nl, "neighbor_id")
        .filter(F.col("nlbl") === F.col("qlbl"))
        .groupBy("query_id").agg(F.min("rank").as("fr"))
      val perq = ql.select("query_id")
        .join(F.broadcast(firsts), Seq("query_id"), "left")
        .select(F.col("query_id"),
          F.coalesce(F.col("fr"), F.lit(0L)).cast("long")
            .as("first_rank"),
          F.expr("""floor((case when fr is null then 0
            else 1 / cast(fr as double) end) * 1e6 + 0.5) / 1e6""").as("rr"))
      val mrr = perq.agg(
        F.expr("floor((avg(rr)) * 1e6 + 0.5) / 1e6").as("mrr"))
      perq.crossJoin(F.broadcast(mrr)).orderBy("query_id")
    },

    // 2-D skyline (Pareto frontier): the parts no other part
    // dominates on (price min, size max) — the "non-dominated
    // offerings" query every procurement / config-search pipeline
    // runs. NOT the O(n²) dominance join: prices are grouped to
    // exact integer cents (one shuffle, output bounded by the price
    // DOMAIN, not the row count), and the frontier condition
    // "best size at this price strictly exceeds every cheaper
    // price's best size" is the two-phase distributed prefix-max
    // (`globalPrefixMax`: range partition + O(P) driver offsets —
    // no global window, single=0). Survivors re-join the fact as a
    // broadcast (a skyline staircase is at most one row per distinct
    // price). Same-price rows below that price's best size are
    // dominated (strict in size); (cents,size) ties all stay —
    // dominance requires strictness in one coordinate, which the
    // strict `>` against the prefix max encodes.
    "q311_skyline" -> { (s, dir) =>
      import graft.ops.RelOps
      val p = T.load(s, dir, "part")
        .select(F.col("p_partkey"), F.col("p_size"),
          F.expr("cast(round(p_retailprice * 100, 0) as bigint)")
            .as("price_cents"))
      val best = p.groupBy("price_cents")
        .agg(F.max(F.col("p_size").cast("long")).as("best_size"))
      val sky = RelOps.globalPrefixMax(best, "best_size", "pm",
          Seq(RelOps.Ordering("price_cents")))
        .filter(F.col("pm").isNull || F.col("best_size") > F.col("pm"))
        .select(F.col("price_cents").as("sk_cents"),
          F.col("best_size").as("sk_size"))
      p.join(F.broadcast(sky),
          p("price_cents") === F.col("sk_cents") &&
            p("p_size").cast("long") === F.col("sk_size"))
        .select(p("p_partkey"), p("price_cents"), p("p_size"))
        .orderBy("p_partkey")
    },

    // Interpolated Kneser-Ney bigram smoothing (the LM-training
    // counterpart of q235's Stupid Backoff — KN is what production
    // n-gram LMs actually ship): P_kn(w2|w1) = (c(w1w2) − D)/c(w1)
    // + D·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··) with the standard
    // D = 0.75 (no max(·,0) needed — observed bigrams have c ≥ 1).
    // All four statistics are integer counts off ONE grouped bigram
    // relation (pinned: feeds the left/right/total aggregates and
    // the final join), so both engines derive identical doubles
    // before the shared 6-dp round. The unigram tables are
    // vocab-sized — joined, not broadcast (at corpus scale vocab is
    // millions of rows; AQE may still pick a broadcast when small).
    // Output: top-20 bigrams by count with MLE vs KN probability.
    "q312_kneser_ney" -> { (s, dir) =>
      val bg = T.load(s, dir, "documents")
        .select(wordTokens(F.col("text")).as("t"))
        .select(F.explode(F.expr(graft.text.TextOps.allShinglesExpr(
          "t", 2))).as("bg"))
        .select(F.expr("split(bg, ' ')[0]").as("w1"),
          F.expr("split(bg, ' ')[1]").as("w2"))
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).as("c"))
        // pin: measured — unpinned 2.19 vs 1.44 s, local[4]
        .localCheckpoint() // feeds 3 aggregates + the final join
      val left = bg.groupBy("w1").agg(F.sum("c").as("cw1"),
        F.count(F.lit(1)).as("n1fwd"))
      val right = bg.groupBy("w2").agg(F.count(F.lit(1)).as("n1bwd"))
      val tot = bg.agg(F.count(F.lit(1)).as("n1tot"))
      val out = bg.join(left, "w1").join(right, "w2")
        .crossJoin(F.broadcast(tot))
        .selectExpr("w1", "w2", "c",
          "floor((cast(c as double) / cw1) * 1e6 + 0.5) / 1e6 as p_mle",
          """floor(((c - 0.75) / cw1
             + ((0.75 * n1fwd) / cw1) * (cast(n1bwd as double) / n1tot)) * 1e6 + 0.5) / 1e6 as p_kn""")
        .orderBy(F.col("c").desc, F.col("w1"), F.col("w2"))
        .limit(20)
      out
    }
  )

  val oracleSql: Map[String, String] = Map(

    "q307_good_turing" ->
      s"""WITH tk AS MATERIALIZED (
            SELECT $duckToks t FROM documents),
          wc AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) c
            FROM (SELECT unnest(
              [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               for i in range(1, len(t) - 1)]) w FROM tk) g
            GROUP BY w),
          coc AS MATERIALIZED (
            SELECT c, CAST(count(*) AS BIGINT) n_r
            FROM wc GROUP BY c),
          tot AS (SELECT CAST(count(*) AS BIGINT) vocab,
                    CAST(sum(c) AS BIGINT) n_tokens FROM wc),
          nn AS (SELECT
             CAST(coalesce(sum(CASE WHEN c = 1 THEN n_r END), 0)
               AS BIGINT) n1,
             CAST(coalesce(sum(CASE WHEN c = 2 THEN n_r END), 0)
               AS BIGINT) n2
           FROM coc)
          SELECT coc.c AS r, coc.n_r,
            CAST(coalesce(nxt.n_r, 0) AS BIGINT) AS n_r1,
            floor(((coc.c + 1) * coalesce(nxt.n_r, 0)::DOUBLE
              / coc.n_r) * 1e6 + 0.5) / 1e6 + 0 AS r_star,
            vocab, n_tokens,
            floor((n1::DOUBLE / n_tokens) * 1e6 + 0.5) / 1e6 + 0 AS unseen_mass,
            floor((vocab + n1::DOUBLE * (n1 - 1) / (2 * (n2 + 1))) * 1e6 + 0.5) / 1e6
              + 0 AS chao1
          FROM coc
          LEFT JOIN coc nxt ON nxt.c = coc.c + 1
          CROSS JOIN tot CROSS JOIN nn
          WHERE coc.c <= 5
          ORDER BY r""",

    "q308_ols2" ->
      s"""WITH f AS (SELECT
            CAST(len($duckToks) AS HUGEINT) x1,
            CAST(len(list_filter($duckToks, x -> length(x) >= 6))
              AS HUGEINT) x2,
            CAST(length(text) AS HUGEINT) y
          FROM documents),
          m AS (SELECT
            CAST(count(*) AS BIGINT) n,
            sum(x1) sx1, sum(x2) sx2, sum(y) sy,
            sum(x1 * x1) sx1x1, sum(x2 * x2) sx2x2,
            sum(x1 * x2) sx1x2, sum(x1 * y) sx1y,
            sum(x2 * y) sx2y, sum(y * y) syy
          FROM f),
          d AS (SELECT n,
            n::DOUBLE dn, sx1::DOUBLE a1, sx2::DOUBLE a2,
            sy::DOUBLE ay, sx1x1::DOUBLE a11, sx2x2::DOUBLE a22,
            sx1x2::DOUBLE a12, sx1y::DOUBLE a1y, sx2y::DOUBLE a2y,
            syy::DOUBLE ayy
          FROM m),
          dets AS (SELECT n, dn, ay, a1y, a2y, ayy,
            dn * (a11 * a22 - a12 * a12)
              - a1 * (a1 * a22 - a12 * a2)
              + a2 * (a1 * a12 - a11 * a2) AS det,
            ay * (a11 * a22 - a12 * a12)
              - a1 * (a1y * a22 - a12 * a2y)
              + a2 * (a1y * a12 - a11 * a2y) AS det0,
            dn * (a1y * a22 - a12 * a2y)
              - ay * (a1 * a22 - a12 * a2)
              + a2 * (a1 * a2y - a1y * a2) AS det1,
            dn * (a11 * a2y - a1y * a12)
              - a1 * (a1 * a2y - a1y * a2)
              + ay * (a1 * a12 - a11 * a2) AS det2
          FROM d),
          b AS (SELECT n, ay, a1y, a2y, ayy, dn,
            det0 / det b0, det1 / det b1, det2 / det b2
          FROM dets)
          SELECT n,
            floor((b0) * 1e6 + 0.5) / 1e6 + 0 AS b0, floor((b1) * 1e6 + 0.5) / 1e6 + 0 AS b1,
            floor((b2) * 1e6 + 0.5) / 1e6 + 0 AS b2,
            floor((1 - (ayy - b0 * ay - b1 * a1y - b2 * a2y)
              / (ayy - ay * ay / dn)) * 1e6 + 0.5) / 1e6 + 0 AS r2
          FROM b""",

    "q309_fellegi_sunter" ->
      """WITH c AS MATERIALIZED (SELECT c_custkey id,
             c_nationkey blk1, c_mktsegment blk2,
             CAST(floor(c_acctbal / 500) AS BIGINT) f1,
             CAST(floor((c_acctbal * 100) * 1e0 + 0.5) / 1e0 AS BIGINT) % 97 f2,
             substr(c_name, length(c_name) - 1, 2) f3
           FROM customer),
          u1 AS (SELECT floor((sum(nv::DECIMAL(38,0) * (nv - 1))::DOUBLE
                   / (sum(nv)::DECIMAL(38,0) * (sum(nv) - 1))::DOUBLE) * 1e6 + 0.5) / 1e6 + 0 u
                 FROM (SELECT count(*) nv FROM c GROUP BY f1) t),
          u2 AS (SELECT floor((sum(nv::DECIMAL(38,0) * (nv - 1))::DOUBLE
                   / (sum(nv)::DECIMAL(38,0) * (sum(nv) - 1))::DOUBLE) * 1e6 + 0.5) / 1e6 + 0 u
                 FROM (SELECT count(*) nv FROM c GROUP BY f2) t),
          u3 AS (SELECT floor((sum(nv::DECIMAL(38,0) * (nv - 1))::DOUBLE
                   / (sum(nv)::DECIMAL(38,0) * (sum(nv) - 1))::DOUBLE) * 1e6 + 0.5) / 1e6 + 0 u
                 FROM (SELECT count(*) nv FROM c GROUP BY f3) t),
          w AS (SELECT
             floor((log2(0.9 / u1.u)) * 1e6 + 0.5) / 1e6 + 0 wa1,
             floor((log2((1 - 0.9) / (1 - u1.u))) * 1e6 + 0.5) / 1e6 + 0 wd1,
             floor((log2(0.9 / u2.u)) * 1e6 + 0.5) / 1e6 + 0 wa2,
             floor((log2((1 - 0.9) / (1 - u2.u))) * 1e6 + 0.5) / 1e6 + 0 wd2,
             floor((log2(0.9 / u3.u)) * 1e6 + 0.5) / 1e6 + 0 wa3,
             floor((log2((1 - 0.9) / (1 - u3.u))) * 1e6 + 0.5) / 1e6 + 0 wd3
           FROM u1, u2, u3)
          SELECT a.id id_a, b.id id_b,
            concat(CASE WHEN a.f1 = b.f1 THEN '1' ELSE '0' END,
                   CASE WHEN a.f2 = b.f2 THEN '1' ELSE '0' END,
                   CASE WHEN a.f3 = b.f3 THEN '1' ELSE '0' END)
              AS pattern,
            floor(((CASE WHEN a.f1 = b.f1 THEN wa1 ELSE wd1 END)
              + (CASE WHEN a.f2 = b.f2 THEN wa2 ELSE wd2 END)
              + (CASE WHEN a.f3 = b.f3 THEN wa3 ELSE wd3 END)) * 1e6 + 0.5) / 1e6
              + 0 AS score
          FROM c a JOIN c b ON a.blk1 = b.blk1 AND a.blk2 = b.blk2
            AND a.id < b.id
          CROSS JOIN w
          ORDER BY score DESC, id_a, id_b
          LIMIT 20""",

    "q310_mrr" ->
      """WITH q AS MATERIALIZED (SELECT vec_id qid, embedding,
             label qlbl FROM embeddings WHERE vec_id < 20),
          sims AS MATERIALIZED (SELECT qid,
             CASE WHEN c.label = qlbl THEN 1 ELSE 0 END relv,
             row_number() OVER (PARTITION BY qid
               ORDER BY floor((list_cosine_similarity(
                 q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6
                 DESC, c.vec_id) rnk
           FROM q JOIN embeddings c ON c.vec_id != q.qid),
          fr AS (SELECT qid, CAST(min(rnk) AS BIGINT) fr
                 FROM sims WHERE rnk <= 10 AND relv = 1 GROUP BY 1),
          perq AS (SELECT q.qid AS query_id,
             CAST(coalesce(fr.fr, 0) AS BIGINT) AS first_rank,
             floor((CASE WHEN fr.fr IS NULL THEN 0
               ELSE 1 / fr.fr::DOUBLE END) * 1e6 + 0.5) / 1e6 + 0 AS rr
           FROM q LEFT JOIN fr ON fr.qid = q.qid),
          m AS (SELECT floor((avg(rr)) * 1e6 + 0.5) / 1e6 + 0 AS mrr FROM perq)
          SELECT query_id, first_rank, rr, mrr
          FROM perq CROSS JOIN m
          ORDER BY query_id""",

    "q311_skyline" ->
      """WITH p AS MATERIALIZED (
            SELECT p_partkey, p_size,
              CAST(round(p_retailprice * 100, 0) AS BIGINT) price_cents
            FROM part)
          SELECT a.p_partkey, a.price_cents, a.p_size
          FROM p a
          WHERE NOT EXISTS (SELECT 1 FROM p b
            WHERE b.price_cents <= a.price_cents
              AND b.p_size >= a.p_size
              AND (b.price_cents < a.price_cents
                   OR b.p_size > a.p_size))
          ORDER BY p_partkey""",

    "q312_kneser_ney" ->
      s"""WITH tk AS MATERIALIZED (
            SELECT $duckToks t FROM documents),
          bgs AS MATERIALIZED (
            SELECT split_part(bg, ' ', 1) w1, split_part(bg, ' ', 2) w2,
              CAST(count(*) AS BIGINT) c
            FROM (SELECT unnest(
              [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) bg
              FROM tk) g
            GROUP BY 1, 2),
          lft AS (SELECT w1, CAST(sum(c) AS BIGINT) cw1,
                    CAST(count(*) AS BIGINT) n1fwd
                  FROM bgs GROUP BY 1),
          rgt AS (SELECT w2, CAST(count(*) AS BIGINT) n1bwd
                  FROM bgs GROUP BY 1),
          tot AS (SELECT CAST(count(*) AS BIGINT) n1tot FROM bgs)
          SELECT bgs.w1, bgs.w2, c,
            floor((c::DOUBLE / cw1) * 1e6 + 0.5) / 1e6 + 0 AS p_mle,
            floor(((c - 0.75) / cw1
              + ((0.75 * n1fwd) / cw1) * (n1bwd::DOUBLE / n1tot)) * 1e6 + 0.5) / 1e6
              + 0 AS p_kn
          FROM bgs JOIN lft USING (w1) JOIN rgt USING (w2)
          CROSS JOIN tot
          ORDER BY c DESC, w1, w2
          LIMIT 20"""
  )
}
