package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.T
import graft.dedup.Dedup
import graft.ops.RelOps
import graft.plans.TextExpressions
import graft.similarity.Knn

/** Wave-5: model-evaluation / feature-engineering operators — the ML
  * side of a training-data platform (metrics, encodings, divergences,
  * drift, attribution). Every query keeps the arithmetic exact-integer
  * for as long as possible (2-decimal money/score columns → cents) so
  * the DuckDB oracle comparison is bit-deterministic, and every global
  * ordering goes through the distributed prefix-sum (never a
  * single-task window).
  */
object MlQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ROC AUC of `value` as a score for the binary label
    // "event_type = purchase", tie-aware (Mann-Whitney U with the
    // standard half-credit for tied scores). Shape: group events by
    // exact score (2-decimal → integer cents, so score equality is
    // exact), then ONE distributed prefix sum over the distinct-score
    // table (RelOps.globalPrefixSum — range-sort + O(P) driver
    // offsets, no single-task window) gives negatives-below; the
    // numerator 2·Σ npos·cumneg + Σ npos·nneg stays all-integer, so
    // the only float op is the final division. The distinct-score
    // table is orders of magnitude smaller than the event log, and
    // every stage is partial-agg'd — the 100 TB shape.
    "q196_auc" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select((F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long").as("sc"),
          F.when(F.col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
      val g = ev.groupBy("sc").agg(
        F.sum("pos").as("npos"),
        F.sum(F.lit(1L) - F.col("pos")).as("nneg"))
      val pre = RelOps.globalPrefixSum(g, "nneg", "cumneg",
        Seq(RelOps.Ordering("sc")))
      pre.agg(
          F.sum("npos").as("np"), F.sum("nneg").as("nn"),
          F.sum(F.col("npos") * F.col("cumneg")).as("__a"),
          F.sum(F.col("npos") * F.col("nneg")).as("__b"))
        .select(F.col("np"), F.col("nn"),
          (F.floor(((F.lit(2) * F.col("__a") + F.col("__b")).cast("double")
            / (F.lit(2) * F.col("np") * F.col("nn"))) * 1e6 + 0.5) / 1e6).as("auc"))
    },

    // Score-calibration curve: 10 fixed-width score bins (bounds from
    // a broadcast 1-row max — no global ntile window), per-bin mean
    // predicted score vs observed purchase rate. Bin ids and counts
    // are pure integer arithmetic; the two ratios are the only floats.
    "q197_calibration" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select((F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long").as("sc"),
          F.when(F.col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
      val mx = ev.agg(F.max("sc").as("mxc"))
      // FLOOR division (not truncation) so the bin is defined
      // identically to DuckDB's `//` for negative score cents too;
      // |sc*10| < 2^53 so the double divide inside floor() is exact
      ev.crossJoin(F.broadcast(mx))
        .select(F.floor((F.col("sc") * 10).cast("double")
          / (F.col("mxc") + 1)).as("bin"),
          F.col("sc"), F.col("pos"))
        .groupBy("bin").agg(
          F.count(F.lit(1)).as("n"),
          (F.floor((F.sum("sc").cast("double")
            / (F.count(F.lit(1)) * 100)) * 1e6 + 0.5) / 1e6).as("mean_score"),
          (F.floor((F.sum("pos").cast("double") / F.count(F.lit(1))) * 1e6 + 0.5) / 1e6)
            .as("pos_rate"))
    },

    // Per-source Jensen-Shannon divergence of the language mix vs the
    // global corpus mix — the distribution-drift monitor a mixture
    // pipeline runs per ingest source. The (source × lang) grid is
    // built explicitly (distinct sources ⨯ broadcast global lang
    // counts) so P=0 cells contribute their exact Q·ln2 term; all
    // probabilities are count-rationals, logs happen once per bounded
    // grid cell. Grid cardinality = sources × langs — independent of
    // corpus row count.
    "q198_js_divergence" -> { (s, dir) =>
      val d = T.load(s, dir, "documents").select("source", "lang")
      val sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).as("c"))
      val st = sl.groupBy("source").agg(F.sum("c").as("ns"))
      val gl = d.groupBy("lang").agg(F.count(F.lit(1)).as("g"))
      val n = d.agg(F.count(F.lit(1)).as("nt"))
      val grid = st.crossJoin(F.broadcast(gl))
        .join(sl, Seq("source", "lang"), "left_outer")
        .crossJoin(F.broadcast(n))
        .select(F.col("source"),
          (F.coalesce(F.col("c"), F.lit(0L)).cast("double")
            / F.col("ns")).as("p"),
          (F.col("g").cast("double") / F.col("nt")).as("q"))
      grid.select(F.col("source"),
          F.when(F.col("p") > 0,
            F.col("p") * F.log(F.col("p") * 2 / (F.col("p") + F.col("q"))))
            .otherwise(0d).as("tp"),
          (F.col("q") * F.log(F.col("q") * 2 / (F.col("p") + F.col("q"))))
            .as("tq"))
        .groupBy("source")
        .agg((F.floor(((F.sum("tp") + F.sum("tq")) / 2) * 1e6 + 0.5) / 1e6).as("js"))
    },

    // χ² feature selection: token-presence vs document language, the
    // full 2×K contingency per token (present/absent × K classes),
    // expected counts from integer marginals, top 20 tokens by χ².
    // Class totals are a K-row broadcast; candidate tokens capped at
    // document frequency ≥ 5 (kills the hapax tail that dominates the
    // shuffle at scale without affecting the top of the ranking —
    // a χ²-worthy token is frequent by definition). Ordering compares
    // the ROUNDED statistic so both engines rank identically.
    "q199_chi2_tokens" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
      val toks = d.select(F.col("lang"), F.explode(F.expr(
        "array_distinct(filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''))"))
        .as("tok"))
      // ONE corpus explode → compact (tok, lang, O) relation; all χ²
      // math happens on it. Classes with O = 0 never materialize:
      // algebra collapses the absent-class contribution — both its
      // cells share numerator (O−E_p)², so the per-class term is
      // (O−E_p)²(1/E_p + 1/E_a), which at O=0 telescopes to
      // nc·r/(nt−r) — summable from the OBSERVED rows' nc alone
      // (Σ_unobserved nc = nt − Σ_observed nc). No token×class grid,
      // no second corpus pass.
      val o = toks.groupBy("tok", "lang").agg(F.count(F.lit(1)).as("o"))
      val classTot = d.groupBy("lang").agg(F.count(F.lit(1)).as("nc"))
      val nTot = d.agg(F.count(F.lit(1)).as("nt"))
      val oc = o.join(F.broadcast(classTot), "lang")
      // two-stage on the compact relation: per-token totals, then terms
      val rt = oc.groupBy("tok").agg(F.sum("o").as("r"),
          F.sum("nc").as("sobs"))
        .filter(F.col("r") >= 5)
      oc.join(rt, "tok").crossJoin(F.broadcast(nTot))
        .select(F.col("tok"), F.col("r"), F.col("sobs"), F.col("nt"),
          // observed-class term: (O−E_p)²·(1/E_p + 1/E_a); the r = nt
          // token has an empty absent row → E_a term guarded to 0
          ((F.col("o") - F.col("nc") * F.col("r").cast("double") / F.col("nt"))
            * (F.col("o") - F.col("nc") * F.col("r").cast("double") / F.col("nt"))
            * (F.lit(1d) / (F.col("nc") * F.col("r").cast("double") / F.col("nt"))
              + F.when(F.col("r") < F.col("nt"),
                  F.lit(1d) / (F.col("nc")
                    * (F.col("nt") - F.col("r")).cast("double") / F.col("nt")))
                .otherwise(0d))).as("t"))
        .groupBy("tok").agg((F.floor((F.sum("t")
          + F.when(F.first("r") < F.first("nt"),
              F.first("r").cast("double") / (F.first("nt") - F.first("r"))
                * (F.first("nt") - F.first("sobs")))
            .otherwise(0d)) * 1e6 + 0.5) / 1e6).as("chi2"))
        .orderBy(F.col("chi2").desc, F.col("tok").asc).limit(20)
    },

    // Leave-one-out target encoding of order priority against order
    // value — the leakage-safe categorical encoding (each row's own
    // target is excluded from its category mean). Exact integer cents
    // make (sum − y)/(n−1) bit-deterministic; categories are a
    // broadcast 5-row table; singleton categories yield NULL (no
    // leave-one-out mean exists), matching SQL NULL division.
    "q200_target_loo" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
        .select(F.col("o_orderkey"), F.col("o_orderpriority"),
          (F.floor((F.col("o_totalprice") * 100) * 1e0 + 0.5) / 1e0).cast("long").as("cents"))
      val cat = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).as("n"), F.sum("cents").as("sm"))
      o.join(F.broadcast(cat), "o_orderpriority")
        .select(F.col("o_orderkey"), F.col("o_orderpriority"),
          // explicit singleton guard (ANSI mode errors on /0; DuckDB
          // would too) — NULL is the defined LOO value for n = 1
          F.when(F.col("n") > 1,
            (F.floor(((F.col("sm") - F.col("cents")).cast("double")
              / (F.lit(100) * (F.col("n") - 1))) * 1e6 + 0.5) / 1e6)).as("loo_mean"))
    },

    // Hashing-trick featurization: tokens → 64 buckets through a
    // PORTABLE polynomial hash (Σ (i+1)·codepoint mod 1000003, over
    // [a-z0-9] tokens where Spark ascii == DuckDB unicode), long-form
    // output (doc_id, bucket, cnt). The vocabulary never exists as
    // state — no vocab broadcast, no OOV handling, O(1) memory per
    // executor regardless of corpus size; collisions are the accepted
    // trade of the trick.
    "q201_feature_hash" -> { (s, dir) =>
      T.load(s, dir, "documents")
        .select(F.col("doc_id"), F.explode(F.expr(
          "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"))
          .as("tok"))
        .withColumn("bucket", F.expr(
          """aggregate(sequence(1, length(tok)), 0L,
             (acc, i) -> (acc + i * ascii(substring(tok, i, 1))) % 1000003)
             % 64"""))
        .groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).as("cnt"))
    },

    // Skip-gram co-occurrence (window ≤ 2): positions explode once,
    // then an EQUI-join on (doc_id, position+δ) for δ ∈ {1,2} — pair
    // count is ≤ 2·corpus-token-count by construction (never per-doc
    // quadratic, unlike a doc_id-only blocked self-join). Top 30
    // pairs, count-desc with lexicographic tiebreak.
    "q202_skipgram" -> { (s, dir) =>
      val pos = T.load(s, dir, "documents")
        .select(F.col("doc_id"), F.posexplode(F.expr(
          "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"))
          .as(Seq("p", "tok")))
      val probe = pos.select(F.col("doc_id"), (F.col("p") + 1).as("p2"),
          F.col("tok").as("w1"))
        .union(pos.select(F.col("doc_id"), (F.col("p") + 2).as("p2"),
          F.col("tok").as("w1")))
      probe.join(pos.withColumnRenamed("tok", "w2"),
          probe("doc_id") === pos("doc_id") && probe("p2") === pos("p"))
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("w1").asc, F.col("w2").asc)
        .limit(30)
    },

    // CUSUM drift statistic per event type: range of the centered
    // prefix sum, the classic changepoint magnitude. The prefix is
    // computed over n·x_i − S (value cents scaled by the group count)
    // so every partial sum is an exact INTEGER — no float
    // accumulation order anywhere; the single division happens on the
    // final 1-row-per-type aggregate. (At 100 TB per-key row counts
    // the n·cents products approach 2⁶³ — the production variant
    // switches the prefix to double once |n·x| > 2⁵², trading exact
    // equality for the same O(1)-per-row window shape.) One shuffle:
    // the per-type ordered window.
    "q203_cusum" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("event_type"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("sec"),
          (F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long").as("c"))
      val tot = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).as("n"), F.sum("c").as("sm"))
      val w = Window.partitionBy("event_type")
        .orderBy(F.col("sec"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.join(F.broadcast(tot), "event_type")
        .withColumn("pre", F.sum(F.col("n") * F.col("c") - F.col("sm")).over(w))
        .groupBy("event_type")
        .agg((F.floor(((F.max("pre") - F.min("pre")).cast("double")
          / (F.first("n") * 100)) * 1e6 + 0.5) / 1e6).as("cusum_range"))
    },

    // SCD-2 interval reconstruction from a change log: JSON attribute
    // k per user event, consecutive duplicates collapsed (lag), then
    // version numbers + [valid_from, valid_to) intervals (lead; NULL =
    // current). The point-in-time dimension build that feeds as-of
    // enrichment. All windows per-user; JSON parsing happens once,
    // map-side, before any shuffle.
    "q204_scd2" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("sec"),
          F.get_json_object(F.col("props"), "$.k").cast("int").as("k"))
      val ow = Window.partitionBy("user_id")
        .orderBy(F.col("sec"), F.col("event_id"))
      val changes = ev
        .withColumn("pk", F.lag("k", 1).over(ow))
        .filter(F.col("pk").isNull || F.col("pk") =!= F.col("k"))
      val cw = Window.partitionBy("user_id")
        .orderBy(F.col("sec"), F.col("event_id"))
      changes
        .withColumn("version", F.row_number().over(cw))
        .withColumn("valid_to", F.lead("sec", 1).over(cw))
        .select(F.col("user_id"), F.col("version"), F.col("k"),
          F.col("sec").as("valid_from"), F.col("valid_to"))
    },

    // U-shaped (position-based 40/20/40) multi-touch attribution over
    // the touches before each user's first purchase: first and last
    // touch get 0.4, interior touches split 0.2; journeys of 1 or 2
    // touches degenerate to 1.0 / 0.5-0.5. Credits are closed-form
    // from per-user (rank, n) — no iteration; per-user windows only.
    "q205_attribution_u" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"), F.col("event_type"),
          F.unix_timestamp(F.col("ts")).as("sec"))
      val firstBuy = ev.filter(F.col("event_type") === "purchase")
        .groupBy("user_id").agg(F.min("sec").as("tp"))
      val touches = ev.join(firstBuy, "user_id")
        .filter(F.col("sec") < F.col("tp") &&
          F.col("event_type").isin("view", "click", "signup"))
      val w = Window.partitionBy("user_id")
        .orderBy(F.col("sec"), F.col("event_id"))
      val sized = touches
        .withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(
          Window.partitionBy("user_id")))
      sized.withColumn("credit",
          F.when(F.col("n") === 1, 1.0d)
            .when(F.col("n") === 2, 0.5d)
            .when(F.col("r") === 1 || F.col("r") === F.col("n"), 0.4d)
            .otherwise(F.lit(0.2d) / (F.col("n") - 2)))
        .groupBy(F.col("event_type").as("channel"))
        .agg(F.count(F.lit(1)).as("n_touches"),
          (F.floor((F.sum("credit")) * 1e6 + 0.5) / 1e6).as("credit"))
    },

    // Exact-substring duplication (Lee et al. style train-dedup
    // signal): documents sharing any identical 20-codepoint substring,
    // detected via the codegen'd O(len) Rabin-Karp rolling-hash kernel
    // + winnowing (keep hashes ≡ 0 mod 8 — content-defined, so shared
    // substrings sample identically in both docs) + a doc-frequency
    // cap (hashes in >100 docs are boilerplate, dropped before
    // pairing — the stop-shingle skew guard). Pair generation is an
    // equi-join on the 8-byte hash key: candidates only, never
    // all-pairs, ~1/8 of positions ever leave the scan.
    "q206_substring_dup" -> { (s, dir) =>
      val h = T.load(s, dir, "documents")
        .select(F.col("doc_id"),
          F.explode(TextExpressions.rollingHashes(F.col("text"), 20))
            .as("h"))
        .filter(F.col("h") % 8 === 0)
        .distinct()
      val keep = h.groupBy("h").agg(F.count(F.lit(1)).as("df"))
        .filter(F.col("df") <= 100).select("h")
      val k = h.join(keep, "h")
      k.as("a").join(k.as("b"),
          F.col("a.h") === F.col("b.h") &&
            F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").as("id1"), F.col("b.doc_id").as("id2"))
        .agg(F.count(F.lit(1)).as("n_shared"))
    },

    // Mutual-kNN graph clustering over embeddings: an edge exists iff
    // each vector is in the other's top-5 (the standard density-robust
    // semantic-cluster graph), components via the log-round star CC.
    // Ranks compare the ROUNDED similarity (6 dp) with id tiebreak so
    // both engines order identically. The kNN runs on the exact
    // branch-and-bound IVF path (Knn.exactKnnBnB): provably the same
    // top-5 as brute force — so it sits under the same hash-checked
    // oracle — but the corpus is joined on the cell key (never
    // broadcast) and rankings are bounded-memory TopK aggs, not an
    // n²-row window shuffle.
    "q207_mutual_knn" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      // n x k rows; both sides of the mutuality self-join read it —
      // pin so the BnB pipeline runs once (Bench/Verify sweep blocks)
      val knn = Knn.exactKnnBnB(emb, emb, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
      val edges = knn.as("e1").join(knn.as("e2"),
          F.col("e1.query_id") === F.col("e2.neighbor_id") &&
            F.col("e1.neighbor_id") === F.col("e2.query_id") &&
            F.col("e1.query_id") < F.col("e1.neighbor_id"))
        .select(F.col("e1.query_id").as("id1"),
          F.col("e1.neighbor_id").as("id2"))
      // star CC, not min-label: a mutual-kNN graph is chain-shaped
      // (diameter ~ cluster length), and label propagation pays one
      // round PER HOP of diameter — measured 15-30 s of round overhead
      // at sf0.1 vs log²-bounded star contraction
      val comp = Dedup.connectedComponentsStar(edges)
      emb.select(F.col("vec_id"))
        .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"),
          "left_outer")
        .select(F.col("vec_id"),
          F.coalesce(F.col("comp"), F.col("vec_id")).as("cluster"))
    },

    // Session path mining: 30-min-gap sessionization, then the ordered
    // first-3-event-type path per session (sort_array over (rank,
    // type) structs — collect_list alone is order-nondeterministic),
    // top 10 paths. The path alphabet is bounded (event types), so the
    // final count table is tiny regardless of corpus size; everything
    // before it is per-user windows.
    "q208_session_paths" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id")
        .orderBy(F.col("sec"), F.col("event_id"))
      val ev = T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"), F.col("event_type"),
          F.unix_timestamp(F.col("ts")).as("sec"))
        .withColumn("prev", F.lag("sec", 1).over(byUser))
        .withColumn("ns", (F.col("prev").isNull ||
          F.col("sec") - F.col("prev") > 1800).cast("int"))
        .withColumn("sess", F.sum("ns").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy("user_id", "sess")
        .orderBy(F.col("sec"), F.col("event_id"))
      ev.withColumn("r", F.row_number().over(bySess))
        .filter(F.col("r") <= 3)
        .groupBy("user_id", "sess")
        .agg(F.concat_ws(">", F.expr(
          "transform(array_sort(collect_list(struct(r, event_type))), x -> x.event_type)"))
          .as("path"))
        .groupBy("path").agg(F.count(F.lit(1)).as("n_sessions"))
        .orderBy(F.col("n_sessions").desc, F.col("path").asc)
        .limit(10)
    },

    // Declarative data-quality audit (Deequ-style): five rule checks
    // over the star schema — FK orphans, domain ranges, null/blank,
    // duplicate keys — each a scan-bounded aggregate, unioned into one
    // (rule, n_bad, n_total) report. The orphan check is a broadcast
    // anti-join (dimension side small); nothing materializes bad ROWS,
    // only counts — the shape that audits 100 TB without writing it.
    "q209_dq_audit" -> { (s, dir) =>
      val o = T.load(s, dir, "orders")
      val li = T.load(s, dir, "lineitem")
      val c = T.load(s, dir, "customer")
      val orphans = o.join(F.broadcast(c),
          o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).as("n_bad"))
        .crossJoin(o.agg(F.count(F.lit(1)).as("n_total")))
        .select(F.lit("fk_orphan_order").as("rule"), F.col("n_bad"),
          F.col("n_total"))
      val price = o.agg(
          F.sum(F.when(F.col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("n_bad"),
          F.count(F.lit(1)).as("n_total"))
        .select(F.lit("nonpositive_price").as("rule"), F.col("n_bad"),
          F.col("n_total"))
      val qty = li.agg(
          F.sum(F.when(F.col("l_quantity") < 1 || F.col("l_quantity") > 50,
            1L).otherwise(0L)).as("n_bad"),
          F.count(F.lit(1)).as("n_total"))
        .select(F.lit("qty_out_of_range").as("rule"), F.col("n_bad"),
          F.col("n_total"))
      val nullPrio = o.agg(
          F.sum(F.when(F.col("o_orderpriority").isNull ||
            F.col("o_orderpriority") === "", 1L).otherwise(0L)).as("n_bad"),
          F.count(F.lit(1)).as("n_total"))
        .select(F.lit("blank_priority").as("rule"), F.col("n_bad"),
          F.col("n_total"))
      val dupLine = li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).as("c"))
        .agg(F.sum(F.col("c") - 1).as("n_bad"), F.sum("c").as("n_total"))
        .select(F.lit("dup_line_key").as("rule"), F.col("n_bad"),
          F.col("n_total"))
      orphans.union(price).union(qty).union(nullPrio).union(dupLine)
    },

    // Time-weighted average event value per user (the feature-store
    // temporal aggregate: each value weighted by how long it was
    // current). Weights are integer second durations × integer cents —
    // exact sums; single-event users have no interval at all and drop
    // out, a user whose events are all simultaneous (total duration
    // 0) yields NULL rather than /0.
    "q210_time_weighted" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id")
        .orderBy(F.col("sec"), F.col("event_id"))
      T.load(s, dir, "events")
        .select(F.col("user_id"), F.col("event_id"),
          F.unix_timestamp(F.col("ts")).as("sec"),
          (F.floor((F.col("value") * 100) * 1e0 + 0.5) / 1e0).cast("long").as("c"))
        .withColumn("nxt", F.lead("sec", 1).over(byUser))
        .filter(F.col("nxt").isNotNull)
        .groupBy("user_id")
        .agg(F.sum(F.col("c") * (F.col("nxt") - F.col("sec"))).as("__n"),
          F.sum(F.col("nxt") - F.col("sec")).as("__d"))
        .select(F.col("user_id"),
          F.when(F.col("__d") > 0,
            (F.floor((F.col("__n").cast("double") / (F.col("__d") * 100)) * 1e6 + 0.5) / 1e6))
            .as("twa"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q196_auc" ->
      """WITH e AS (SELECT CAST(floor((value*100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS sc,
                      CASE WHEN event_type='purchase' THEN 1 ELSE 0 END
                        AS pos
                    FROM events),
          g AS (SELECT sc, sum(pos) AS npos, sum(1-pos) AS nneg
                FROM e GROUP BY 1),
          p AS (SELECT sc, npos, nneg,
                  coalesce(sum(nneg) OVER (ORDER BY sc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cumneg
                FROM g)
          SELECT CAST(sum(npos) AS BIGINT) AS np,
                 CAST(sum(nneg) AS BIGINT) AS nn,
                 floor((CAST(2*sum(npos*cumneg) + sum(npos*nneg)
                       AS DOUBLE)
                   / (2 * sum(npos) * sum(nneg))) * 1e6 + 0.5) / 1e6 AS auc
          FROM p""",
    "q197_calibration" ->
      """WITH e AS (SELECT CAST(floor((value*100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS sc,
                      CASE WHEN event_type='purchase' THEN 1 ELSE 0 END
                        AS pos
                    FROM events),
          m AS (SELECT max(sc) AS mxc FROM e)
          SELECT CAST((sc*10) // (mxc+1) AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 floor((CAST(sum(sc) AS DOUBLE) / (count(*)*100)) * 1e6 + 0.5) / 1e6
                   AS mean_score,
                 floor((CAST(sum(pos) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6 AS pos_rate
          FROM e CROSS JOIN m GROUP BY 1""",
    "q198_js_divergence" ->
      """WITH sl AS (SELECT source, lang, count(*) AS c
                     FROM documents GROUP BY 1,2),
          st AS (SELECT source, sum(c) AS ns FROM sl GROUP BY 1),
          gl AS (SELECT lang, count(*) AS g FROM documents GROUP BY 1),
          n AS (SELECT count(*) AS nt FROM documents),
          grid AS (
            SELECT st.source,
              CAST(coalesce(sl.c, 0) AS DOUBLE) / st.ns AS p,
              CAST(gl.g AS DOUBLE) / n.nt AS q
            FROM st CROSS JOIN gl
              LEFT JOIN sl ON sl.source = st.source AND sl.lang = gl.lang
              CROSS JOIN n)
          SELECT source,
            floor(((sum(CASE WHEN p > 0
                       THEN p * ln(p*2/(p+q)) ELSE 0 END)
                   + sum(q * ln(q*2/(p+q)))) / 2) * 1e6 + 0.5) / 1e6 AS js
          FROM grid GROUP BY 1""",
    "q199_chi2_tokens" ->
      """WITH toks AS (SELECT lang,
                unnest(list_distinct(list_filter(
                  string_split_regex(lower(text), '[^a-z0-9]+'),
                  t -> t <> ''))) AS tok
              FROM documents),
          o AS (SELECT tok, lang, count(*) AS o FROM toks GROUP BY 1,2),
          ct AS (SELECT lang, count(*) AS nc FROM documents GROUP BY 1),
          n AS (SELECT count(*) AS nt FROM documents),
          rt AS (SELECT tok, sum(o) AS r FROM o GROUP BY 1
                 HAVING sum(o) >= 5),
          grid AS (
            SELECT rt.tok, rt.r, n.nt, coalesce(o.o, 0) AS o, ct.nc
            FROM rt CROSS JOIN ct
              LEFT JOIN o ON o.tok = rt.tok AND o.lang = ct.lang
              CROSS JOIN n),
          chi AS (
            SELECT tok, floor((sum(
              (o - nc*CAST(r AS DOUBLE)/nt)
                * (o - nc*CAST(r AS DOUBLE)/nt)
                / (nc*CAST(r AS DOUBLE)/nt)
              + CASE WHEN r < nt THEN
                  ((nc-o) - nc*CAST(nt-r AS DOUBLE)/nt)
                    * ((nc-o) - nc*CAST(nt-r AS DOUBLE)/nt)
                    / (nc*CAST(nt-r AS DOUBLE)/nt)
                ELSE 0 END)) * 1e6 + 0.5) / 1e6 AS chi2
            FROM grid GROUP BY 1)
          SELECT tok, chi2 FROM chi
          ORDER BY chi2 DESC, tok ASC LIMIT 20""",
    "q200_target_loo" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
                      CAST(floor((o_totalprice*100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS cents
                    FROM orders),
          cat AS (SELECT o_orderpriority, count(*) AS n, sum(cents) AS sm
                  FROM o GROUP BY 1)
          SELECT o_orderkey, o_orderpriority,
            CASE WHEN n > 1 THEN
              floor((CAST(sm - cents AS DOUBLE) / (100*(n-1))) * 1e6 + 0.5) / 1e6
            END AS loo_mean
          FROM o JOIN cat USING (o_orderpriority)""",
    "q201_feature_hash" ->
      """WITH toks AS (SELECT doc_id,
                unnest(list_filter(
                  string_split_regex(lower(text), '[^a-z0-9]+'),
                  t -> t <> '')) AS tok
              FROM documents),
          h AS (SELECT doc_id,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(range(1, length(tok)+1),
                      i -> (i * unicode(substr(tok, i, 1)))::BIGINT)),
                    (a, x) -> (a + x) % 1000003) % 64 AS bucket
                FROM toks)
          SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM h GROUP BY 1, 2""",
    "q202_skipgram" ->
      """WITH l AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                  t -> t <> '') AS toks
              FROM documents),
          pos AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS p,
                    unnest(toks) AS tok
                  FROM l),
          pairs AS (
            SELECT a.tok AS w1, b.tok AS w2
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id
             AND (b.p = a.p + 1 OR b.p = a.p + 2))
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
          FROM pairs GROUP BY 1, 2
          ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 30""",
    "q203_cusum" ->
      """WITH e AS (SELECT event_type, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                      CAST(floor((value*100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS c
                    FROM events),
          t AS (SELECT event_type, count(*) AS n, sum(c) AS sm
                FROM e GROUP BY 1),
          p AS (SELECT e.event_type, t.n,
                  sum(t.n * e.c - t.sm) OVER (
                    PARTITION BY e.event_type
                    ORDER BY e.sec, e.event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS pre
                FROM e JOIN t USING (event_type))
          SELECT event_type,
            floor((CAST(max(pre) - min(pre) AS DOUBLE) / (any_value(n)*100)) * 1e6 + 0.5) / 1e6 AS cusum_range
          FROM p GROUP BY 1""",
    "q204_scd2" ->
      """WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                      CAST(json_extract_string(props, '$.k') AS INT) AS k
                    FROM events),
          c AS (SELECT *, lag(k) OVER (PARTITION BY user_id
                    ORDER BY sec, event_id) AS pk
                FROM e),
          ch AS (SELECT * FROM c WHERE pk IS NULL OR pk <> k)
          SELECT user_id,
            CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY sec, event_id) AS INT) AS version,
            k, sec AS valid_from,
            lead(sec) OVER (PARTITION BY user_id
              ORDER BY sec, event_id) AS valid_to
          FROM ch""",
    "q205_attribution_u" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events),
          fb AS (SELECT user_id, min(sec) AS tp FROM e
                 WHERE event_type = 'purchase' GROUP BY 1),
          t AS (SELECT e.* FROM e JOIN fb USING (user_id)
                WHERE e.sec < fb.tp
                  AND e.event_type IN ('view','click','signup')),
          s AS (SELECT event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY sec, event_id) AS r,
                  count(*) OVER (PARTITION BY user_id) AS n
                FROM t)
          SELECT event_type AS channel,
            CAST(count(*) AS BIGINT) AS n_touches,
            floor((sum(CASE WHEN n = 1 THEN 1.0
                           WHEN n = 2 THEN 0.5
                           WHEN r = 1 OR r = n THEN 0.4
                           ELSE 0.2 / (n - 2) END)) * 1e6 + 0.5) / 1e6 AS credit
          FROM s GROUP BY 1""",
    // Non-rolling re-derivation of the Rabin-Karp windows: per position
    // a 20-step fold — O(len·20) here vs the kernel's O(len), same
    // values (codepoint mod folds commute with the polynomial mod).
    "q206_substring_dup" ->
      """WITH pos AS (SELECT doc_id, text,
                unnest(range(1, length(text) - 18)) AS p
              FROM documents),
          h AS (SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(range(0, 20),
                      i -> unicode(substr(text, (p+i)::INT, 1))::BIGINT)),
                    (a, x) -> (a*31 + x) % 1000003) AS h
                FROM pos),
          k AS (SELECT doc_id, h FROM h WHERE h % 8 = 0),
          keep AS (SELECT h FROM k GROUP BY h HAVING count(*) <= 100),
          kk AS (SELECT k.doc_id, k.h FROM k JOIN keep USING (h))
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM kk a JOIN kk b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2""",
    "q207_mutual_knn" ->
      """WITH RECURSIVE sims AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              floor((list_cosine_similarity(
                q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
            FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id),
          knn AS (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims QUALIFY rank <= 5),
          mut AS (
            SELECT a.query_id AS id1, a.neighbor_id AS id2
            FROM knn a JOIN knn b
              ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
            WHERE a.query_id < a.neighbor_id),
          edges AS (SELECT id1 AS a, id2 AS b FROM mut
                    UNION SELECT id2, id1 FROM mut),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          comp AS (SELECT a AS id, least(a, min(b)) AS comp
                   FROM reach GROUP BY a)
          SELECT e.vec_id, coalesce(c.comp, e.vec_id) AS cluster
          FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id""",
    "q208_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events),
          m AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
                    ORDER BY sec, event_id) AS prev
                FROM e),
          sess AS (SELECT *, sum(CASE WHEN prev IS NULL
                        OR sec - prev > 1800 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS sess
                   FROM m),
          rk AS (SELECT *, row_number() OVER (
                    PARTITION BY user_id, sess
                    ORDER BY sec, event_id) AS r
                 FROM sess),
          paths AS (SELECT user_id, sess,
                      string_agg(event_type, '>' ORDER BY r) AS path
                    FROM rk WHERE r <= 3 GROUP BY 1, 2)
          SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
          FROM paths GROUP BY 1
          ORDER BY n_sessions DESC, path ASC LIMIT 10""",
    "q209_dq_audit" ->
      """SELECT 'fk_orphan_order' AS rule,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
             AS BIGINT) AS n_bad,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_total
         UNION ALL
         SELECT 'nonpositive_price',
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(*) AS BIGINT) FROM orders
         UNION ALL
         SELECT 'qty_out_of_range',
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM lineitem
         UNION ALL
         SELECT 'blank_priority',
           CAST(sum(CASE WHEN o_orderpriority IS NULL
                    OR o_orderpriority = '' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM orders
         UNION ALL
         SELECT 'dup_line_key', CAST(sum(c - 1) AS BIGINT),
           CAST(sum(c) AS BIGINT)
         FROM (SELECT count(*) AS c FROM lineitem
               GROUP BY l_orderkey, l_linenumber)""",
    "q210_time_weighted" ->
      """WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                      CAST(floor((value*100) * 1e0 + 0.5) / 1e0 AS BIGINT) AS c
                    FROM events),
          iv AS (SELECT user_id, c, sec,
                   lead(sec) OVER (PARTITION BY user_id
                     ORDER BY sec, event_id) AS nxt
                 FROM e),
          g AS (SELECT user_id,
                  sum(c * (nxt - sec)) AS n, sum(nxt - sec) AS d
                FROM iv WHERE nxt IS NOT NULL GROUP BY 1)
          SELECT user_id,
            CASE WHEN d > 0 THEN
              floor((CAST(n AS DOUBLE) / (d*100)) * 1e6 + 0.5) / 1e6 END AS twa
          FROM g"""
  )
}
