package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.T
import graft.dedup.Dedup
import graft.ops.RelOps
import graft.plans.TextExpressions
import graft.text.{Decontam, TextOps}

/** Wave-8: the reports a production curation pipeline ships — packing
  * efficiency of the tokenized corpus, the dedup-rate curve over
  * ingest order, and the end-to-end curation funnel with per-stage
  * attrition counts. Every stage composes library ops that are
  * individually oracle-verified upstream (q57 prefix-sum packing, q41
  * MinHash LSH, q90 curation, q128 Gopher rules, q134 overlap
  * decontam, q130 DSIR).
  */
object FunnelQueries extends QueryRegistry {

  // ---- shared DuckDB fragments (same literals as PipelineQueries /
  // CurationQueries — the cross-file single source of truth is the
  // tokenize kernel contract in TextKernels) ---------------------------

  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

  private val duckShingles3 =
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])"

  private val duckShingles5 =
    """list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       t[i+3] || ' ' || t[i+4] for i in range(1, len(t) - 3)])"""

  /** Context length for the packing-efficiency report. */
  private val Ctx = 2048

  /** Packing-efficiency core over a prepared (doc_id, source, n_tok)
    * relation: global token offsets in doc_id order (distributed
    * prefix sum — no single-task window), per-doc boundary-crossing
    * count, per-source report. Shared by q228 and FunnelSpec. */
  private[graft] def packReport(d: DataFrame, ctx: Int): DataFrame =
    RelOps.globalPrefixSum(d, "n_tok", "start_tok",
        Seq(RelOps.Ordering("doc_id")))
      // a doc crosses a boundary iff its first and last token land in
      // different contexts; greatest() keeps zero-token docs
      // (start == end) from producing a phantom -1 position
      .withColumn("spans",
        F.expr(s"""cast(floor(greatest(start_tok + n_tok - 1, start_tok)
                         / $ctx.0) as bigint)
                   - cast(floor(start_tok / $ctx.0) as bigint)"""))
      .groupBy("source")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum("n_tok").cast("long").as("n_tokens"),
        F.count(F.when(F.col("spans") > 0, 1)).as("n_crossing"),
        (F.floor((F.count(F.when(F.col("spans") > 0, 1))
          / F.count(F.lit(1)).cast("double")) * 1e6 + 0.5) / 1e6).as("crossing_frac"))

  /** Dedup-rate-by-ingest-decile core: integer-exact decile cut
    * (bucket = max/10 + 1, one scalar broadcast) joined against a
    * (doc_id) relation of ingest-time duplicates. Shared by q229 and
    * FunnelSpec. */
  private[graft] def dedupRateCurve(docs: DataFrame,
                                    dupIds: DataFrame): DataFrame = {
    val mx = docs.agg(F.max("doc_id").as("mx"))
    docs.select("doc_id", "source")
      .crossJoin(F.broadcast(mx))
      .withColumn("decile", F.expr("doc_id div (mx div 10 + 1)"))
      .join(dupIds.select(F.col("doc_id"))
        .withColumn("is_dup", F.lit(true)), Seq("doc_id"), "left_outer")
      .groupBy("source", "decile")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.count(F.col("is_dup")).as("n_dups"),
        (F.floor((F.count(F.col("is_dup"))
          / F.count(F.lit(1)).cast("double")) * 1e6 + 0.5) / 1e6).as("dup_rate"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tokenizer-aware packing-efficiency report (extends q57's
    // concatenate-and-chunk): pack the BPE-ish-tokenized corpus into
    // 2048-token contexts in doc_id order and report, per source, how
    // many documents straddle a context boundary — the attention-
    // fragmentation cost a training run pays for concat-and-chunk
    // batching. Token offsets come from the distributed prefix sum
    // (range partition + O(P) driver offsets — no single-task window,
    // the q57 shape); everything after is per-row arithmetic plus one
    // partial-agg'd groupBy on source.
    "q228_pack_report" -> { (s, dir) =>
      packReport(T.load(s, dir, "documents")
        .select(F.col("doc_id"), F.col("source"),
          F.expr(TextOps.bpeCountExpr("text")).cast("long").as("n_tok")),
        Ctx)
    },

    // Per-source dedup-RATE curve over ingest order (extends q133's
    // batch-vs-corpus shape into the report a crawl operator watches):
    // doc_id is the ingest clock; a document is a "dup at ingest" iff
    // it near-duplicates (MinHash-LSH verified, J >= 0.85) ANY earlier
    // document — i.e. it is the id2 of a pair (pairs are emitted
    // id1 < id2). Ingest deciles are integer-exact (bucket =
    // doc_id / (max/10 + 1), one scalar broadcast), so both engines
    // cut identically. A rising curve means the crawl is re-fetching
    // itself — the signal that triggers frontier re-prioritization.
    "q229_dedup_rate" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(
        docs.withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3)),
        "doc_id", "sh", 0.85)
      dedupRateCurve(docs,
        pairs.select(F.col("id2").as("doc_id")).distinct())
    },

    // End-to-end curation funnel with per-stage attrition — the
    // one-table report a real pipeline ships after every run: raw →
    // Gopher quality rules (q128's exact rule set) → exact dedup
    // (first-occurrence, among survivors) → near-dup cluster pruning
    // (MinHash-LSH + connected components over the FULL corpus, q90's
    // semantics) → benchmark decontamination (5-gram overlap >= 5% vs
    // the held-out set, and the held-out docs themselves, dropped) →
    // DSIR target-likeness gate (rounded log-weight >= 0). Output is
    // six (stage, stage_name, n_docs) rows; each count is a global
    // scalar aggregate (one partial row per task — the benign
    // `scalar` class in PLANS.md). Stage relations are semi/anti
    // joins on doc_id, so the corpus text flows only into the flag
    // relations, never through the funnel spine.
    "q230_curation_funnel" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val stop = TextOps.markers.toMap.apply("en")
      // stage 1: Gopher rules (the q128 expressions, verbatim)
      val g = docs.withColumn("t",
          TextExpressions.wordTokens(F.col("text")))
        .withColumn("n_words", F.expr("size(t)"))
        .withColumn("mean_word_len", F.expr(
          "floor((aggregate(t, 0L, (a, x) -> a + length(x)) " +
            "/ cast(size(t) as double)) * 1e6 + 0.5) / 1e6"))
        .withColumn("alpha_frac", F.expr(
          "floor((size(filter(t, x -> x rlike '[a-z]')) " +
            "/ cast(size(t) as double)) * 1e6 + 0.5) / 1e6"))
        .withColumn("stop_hits",
          F.expr(TextOps.markerScoreExpr("t", stop)).cast("long"))
        .filter(F.expr(
          "n_words BETWEEN 50 AND 100000 AND " +
            "mean_word_len BETWEEN 3 AND 10 AND " +
            "alpha_frac >= 0.8 AND stop_hits >= 2"))
        .select("doc_id", "text")
      // stage 2: exact dedup among survivors (canonical = min doc_id)
      val e = Dedup.exactDups(g, "text", "doc_id")
        .filter(!F.col("is_dup")).select("doc_id")
      // stage 3: near-dup cluster non-representatives (full corpus)
      val comps = Dedup.connectedComponents(
        Dedup.minhashNearDups(
          docs.withColumn("sh",
            TextExpressions.wordShingles(F.col("text"), 3)),
          "doc_id", "sh", 0.85).select("id1", "id2"))
      val nonReps = comps.filter(F.col("id") =!= F.col("comp"))
        .select(F.col("id").as("doc_id"))
      val s3 = e.join(nonReps, Seq("doc_id"), "left_anti")
      // stage 4: decontamination — drop the benchmark docs AND any
      // training doc with >= 5% 5-gram overlap against them
      val dirty = Decontam.overlapFraction(
        docs.withColumn("sh5",
          TextExpressions.wordShingles(F.col("text"), 5)),
        "doc_id", "sh5", F.expr("doc_id % 17 = 0"))
        .filter(F.col("overlap_frac") >= 0.05).select("doc_id")
      val s4 = s3.filter(F.expr("doc_id % 17 != 0"))
        .join(dirty, Seq("doc_id"), "left_anti")
      // stage 5: DSIR gate (q130's shared core; rounded weight >= 0 =
      // "more target-like than corpus-like")
      val dsirKeep = CurationQueries.dsirWeights(docs)
        .filter(F.col("dsir_logweight") >= 0).select("doc_id")
      val s5 = s4.join(dsirKeep, Seq("doc_id"), "left_semi")
      def cnt(df: DataFrame, stage: Int, name: String): DataFrame =
        df.agg(F.count(F.lit(1)).as("n_docs"))
          .select(F.lit(stage).as("stage"), F.lit(name).as("stage_name"),
            F.col("n_docs"))
      cnt(docs, 0, "raw")
        .unionAll(cnt(g, 1, "gopher"))
        .unionAll(cnt(e, 2, "exact_dedup"))
        .unionAll(cnt(s3, 3, "near_dedup"))
        .unionAll(cnt(s4, 4, "decontam"))
        .unionAll(cnt(s5, 5, "dsir"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q228_pack_report" ->
      """WITH d AS (SELECT doc_id, source,
               CAST(len(regexp_extract_all(text,
                 '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_tok
             FROM documents),
          p AS (SELECT *, coalesce(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS start_tok
                FROM d),
          m AS (SELECT source,  n_tok,
                  (greatest(start_tok + n_tok - 1, start_tok) // 2048)
                    - (start_tok // 2048) AS spans
                FROM p)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            CAST(count(*) FILTER (WHERE spans > 0) AS BIGINT)
              AS n_crossing,
            floor((count(*) FILTER (WHERE spans > 0)
              / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS crossing_frac
          FROM m GROUP BY 1""",
    "q229_dedup_rate" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles3 AS s FROM toks),
          jp AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                   floor((len(list_intersect(a.s, b.s)) /
                     CAST(len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s)) AS DOUBLE)) * 1e3 + 0.5) / 1e3
                     AS jac
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          dups AS (SELECT DISTINCT id2 AS doc_id FROM jp
                   WHERE jac >= 0.85),
          mx AS (SELECT max(doc_id) AS mx FROM documents),
          d AS (SELECT doc_id, source,
                  doc_id // (mx // 10 + 1) AS decile
                FROM documents CROSS JOIN mx)
          SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(*) FILTER (WHERE doc_id IN
              (SELECT doc_id FROM dups)) AS BIGINT) AS n_dups,
            floor((count(*) FILTER (WHERE doc_id IN
              (SELECT doc_id FROM dups))
              / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS dup_rate
          FROM d GROUP BY 1, 2""",
    "q230_curation_funnel" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          m AS (SELECT doc_id,
                  len(t) AS n_words,
                  floor((list_sum(list_transform(t, x -> length(x)))
                        / CAST(len(t) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mean_word_len,
                  floor((len(list_filter(t,
                          x -> regexp_matches(x, '[a-z]')))
                        / CAST(len(t) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS alpha_frac,
                  CAST(len(list_filter(t, x -> list_contains(
                    ['the', 'a', 'and', 'of', 'to'], x))) AS BIGINT)
                    AS stop_hits
                FROM toks),
          g AS (SELECT d.doc_id, d.text
                FROM documents d JOIN m USING (doc_id)
                WHERE m.n_words BETWEEN 50 AND 100000
                  AND m.mean_word_len BETWEEN 3 AND 10
                  AND m.alpha_frac >= 0.8 AND m.stop_hits >= 2),
          e AS (SELECT doc_id FROM (
                  SELECT doc_id,
                    min(doc_id) OVER (PARTITION BY text) AS keep_id
                  FROM g) t
                WHERE doc_id = keep_id),
          sh3 AS (SELECT doc_id, $duckShingles3 AS s FROM toks),
          jp AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                   floor((len(list_intersect(a.s, b.s)) /
                     CAST(len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s)) AS DOUBLE)) * 1e3 + 0.5) / 1e3
                     AS jac
                 FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id),
          pairs AS (SELECT id1, id2 FROM jp WHERE jac >= 0.85),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
          comps AS (SELECT a AS id, least(a, min(b)) AS comp
                    FROM reach GROUP BY a),
          nonreps AS (SELECT id FROM comps WHERE id != comp),
          s3 AS (SELECT doc_id FROM e
                 WHERE doc_id NOT IN (SELECT id FROM nonreps)),
          sh5 AS (SELECT doc_id, $duckShingles5 AS s FROM toks),
          bench AS (SELECT DISTINCT unnest(s) AS gg FROM sh5
                    WHERE doc_id % 17 = 0),
          tr AS (SELECT doc_id, s FROM sh5 WHERE doc_id % 17 != 0),
          h AS (SELECT doc_id, count(*) AS n_hits
                FROM (SELECT doc_id, unnest(s) AS gg FROM tr) t
                JOIN bench USING (gg) GROUP BY 1),
          dirty AS (SELECT tr.doc_id
                    FROM tr LEFT JOIN h USING (doc_id)
                    WHERE len(tr.s) > 0
                      AND floor((coalesce(h.n_hits, 0)
                            / CAST(len(tr.s) AS DOUBLE)) * 1e6 + 0.5) / 1e6 >= 0.05),
          s4 AS (SELECT doc_id FROM s3
                 WHERE doc_id % 17 != 0
                   AND doc_id NOT IN (SELECT doc_id FROM dirty)),
          dt AS (SELECT d.doc_id, d.lang, unnest(t.t) AS tok
                 FROM toks t JOIN documents d USING (doc_id)),
          tb AS (SELECT doc_id, lang,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
                 FROM dt),
          bk AS (SELECT b, count(*) AS cr,
                   count(*) FILTER (WHERE lang = 'en') AS ct
                 FROM tb GROUP BY 1),
          tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bk),
          lp AS (SELECT b,
                   ln((ct + 1)::DOUBLE / (nt + 256))
                     - ln((cr + 1)::DOUBLE / (nr + 256)) AS lw
                 FROM bk CROSS JOIN tot),
          dn AS (SELECT doc_id, b, count(*) AS n FROM tb GROUP BY 1, 2),
          dw AS (SELECT doc_id, floor((sum(n * lw)) * 1e6 + 0.5) / 1e6 AS w
                 FROM dn JOIN lp USING (b) GROUP BY 1),
          s5 AS (SELECT s4.doc_id FROM s4 JOIN dw USING (doc_id)
                 WHERE w >= 0)
          SELECT stage, stage_name, n_docs FROM (
            SELECT 0 AS stage, 'raw' AS stage_name,
              (SELECT count(*) FROM documents) AS n_docs
            UNION ALL SELECT 1, 'gopher', (SELECT count(*) FROM g)
            UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM e)
            UNION ALL SELECT 3, 'near_dedup', (SELECT count(*) FROM s3)
            UNION ALL SELECT 4, 'decontam', (SELECT count(*) FROM s4)
            UNION ALL SELECT 5, 'dsir', (SELECT count(*) FROM s5)) f"""
  )
}
