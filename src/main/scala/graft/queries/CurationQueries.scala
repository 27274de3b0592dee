package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.T
import graft.ops.RelOps
import graft.ops.RelOps._
import graft.ops.Sampling
import graft.ops.SeqOps._
import graft.plans.TextExpressions
import graft.text.{Decontam, PII, TextOps}

/** Wave-4: corpus-preparation operators — the passes between "filtered
  * corpus" and "training batches": benchmark decontamination, passage
  * dedup, PII scrubbing, deterministic corpus shuffle, temperature
  * resampling, sequence packing, sketch-based profiling, per-class
  * embedding centroids.
  *
  * Approximate operators (HLL distinct counts, approximate quantiles,
  * hash-Bernoulli realized rates) are gated with in-query tolerance
  * BOOLEANS against exact values computed in the same plan — the oracle
  * emits the exact values and literal TRUE, so a sketch drifting out of
  * tolerance fails the hash gate deterministically.
  */
object CurationQueries extends QueryRegistry {

  // ---- shared DuckDB fragments ---------------------------------------

  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

  private val duckShingles5 =
    """list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       t[i+3] || ' ' || t[i+4] for i in range(1, len(t) - 3)])"""

  /** DSIR-style importance weights (Xie et al. 2023): per-doc
    * log-likelihood ratio between a TARGET distribution (the lang='en'
    * subset) and the raw corpus over hashed unigram features. The
    * feature table is HASH-BUCKETED (256 buckets, portable md5-prefix
    * hash), so unlike a vocabulary join it is broadcastable at ANY
    * corpus size — the shuffles carry (doc_id, bucket) pairs; add-1
    * smoothing keeps unseen buckets finite. Shared by q130 and the
    * q230 curation funnel. Output: (doc_id, n_toks, dsir_logweight). */
  private[graft] def dsirWeights(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(F.col("doc_id"), F.col("lang"),
        F.explode(TextExpressions.wordTokens(F.col("text"))).as("tok"))
      .withColumn("b", F.expr(
        "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) % 256"))
    val buckets = toks.groupBy("b").agg(
      F.count(F.lit(1)).as("cr"),
      F.count(F.when(F.col("lang") === "en", 1)).as("ct"))
    val tots = buckets.agg(F.sum("cr").as("nr"), F.sum("ct").as("nt"))
    val lw = buckets.crossJoin(F.broadcast(tots))
      .select(F.col("b"),
        (F.log((F.col("ct") + 1).cast("double") / (F.col("nt") + 256))
          - F.log((F.col("cr") + 1).cast("double") / (F.col("nr") + 256)))
          .as("lw"))
    toks.groupBy("doc_id", "b").agg(F.count(F.lit(1)).as("n"))
      .join(F.broadcast(lw), "b")
      .groupBy("doc_id")
      .agg(F.sum("n").cast("long").as("n_toks"),
        F.round(F.sum(F.col("n") * F.col("lw")), 6).as("dsir_logweight"))
  }

  /** Deterministic PII injection: the synthetic corpus is digit- and
    * @-free, so both engines append the same doc_id-derived email,
    * phone and IPv4 to every document — the redaction machinery then
    * runs against guaranteed-nonzero hits. */
  private def injectSpark =
    """concat(text, ' contact u', cast(doc_id as string),
       '@example.com call 555-',
       lpad(cast(doc_id % 10000 as string), 4, '0'),
       ' ip 10.0.', cast(doc_id % 256 as string), '.',
       cast((doc_id * 7) % 256 as string))"""

  private def injectDuck =
    """concat(text, ' contact u', doc_id::VARCHAR,
       '@example.com call 555-',
       lpad((doc_id % 10000)::VARCHAR, 4, '0'),
       ' ip 10.0.', (doc_id % 256)::VARCHAR, '.',
       ((doc_id * 7) % 256)::VARCHAR)"""

  // ---- queries --------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic corpus shuffle: a reproducible pseudo-random global
    // permutation (rank by md5 of the key) — how a training pipeline
    // fixes example order without trusting partition layout. Scale
    // path: range-partitioned sort + per-partition offsets
    // (globalRowNumber), no single-task window.
    "q37_shuffle" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
        .basedOn("doc_id" -> "doc_id", "h" -> "md5(cast(doc_id as string))")
      RelOps.globalRowNumber(d, "pos",
          Seq(RelOps.Ordering("h"), RelOps.Ordering("doc_id")))
        .basedOn("doc_id" -> "doc_id", "pos" -> "pos")
    },

    // Temperature resampling (multilingual-corpus rebalancing): per-lang
    // keep rate (min_n / n)^(1/2), then deterministic hash-Bernoulli.
    // The rates are hash-checked exactly; the realized kept fraction is
    // gated within ±0.12 of the target (the hash sampler is
    // deterministic, so on a given corpus this bound either always
    // holds or always fails; CurationSpec asserts the tighter ±0.08).
    "q38_temperature_sample" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val counts = docs.groupBy("lang").agg(F.count(F.lit(1)).as("n_orig"))
      val rates = counts
        .crossJoin(counts.agg(F.min("n_orig").as("__mn"))) // 1 row
        .withColumn("rate", (F.floor((F.sqrt(F.col("__mn").cast("double") / F.col("n_orig"))) * 1e6 + 0.5) / 1e6))
      val kept = Sampling.bernoulliByRate(
          docs.join(F.broadcast(rates.select("lang", "rate")), "lang"),
          "doc_id", "rate")
        .groupBy("lang").agg(F.count(F.lit(1)).as("__kept"))
      rates.join(kept, Seq("lang"), "left_outer")
        .select(F.col("lang"), F.col("n_orig"), F.col("rate"),
          (F.abs(F.coalesce(F.col("__kept"), F.lit(0L)).cast("double")
             / F.col("n_orig") - F.col("rate")) <= 0.12).as("rate_ok"))
    },

    // Mixture scheduling: interleave sources into one training order by
    // stride scheduling — row p of source s sorts at key p / w_s, with
    // sub-linear weights w_s = sqrt(n_s) (the standard multi-source
    // mixing rule). Per-source positions are partitioned windows
    // (scale-safe); the global rank is the range-partitioned
    // globalRowNumber, not a single-task window. Key comparisons are
    // IEEE doubles computed identically on both engines; ties broken
    // totally by (source, ps).
    "q39_mixture" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val counts = docs.groupBy("source").agg(F.count(F.lit(1)).as("__n"))
      val p = docs
        .rankBy("ps", Seq("source"), RelOps.Ordering("doc_id"))
        .join(F.broadcast(counts), "source")
        .withColumn("__key",
          F.col("ps").cast("double") / F.sqrt(F.col("__n").cast("double")))
      RelOps.globalRowNumber(p, "pos",
          Seq(RelOps.Ordering("__key"), RelOps.Ordering("source"),
            RelOps.Ordering("ps")))
        .basedOn("doc_id" -> "doc_id", "source" -> "source", "pos" -> "pos")
    },

    // Vocabulary build: corpus token frequencies, top-100 by count with
    // cumulative coverage — the tokenizer-training prep table. The
    // full-vocab aggregate and the 1-row total are unbounded-safe
    // (partial agg; TakeOrderedAndProject for the top-k); the
    // rank+coverage window runs over at most k rows.
    "q49_vocab" -> { (s, dir) =>
      val ex = T.load(s, dir, "documents")
        .withColumn("__t", TextExpressions.wordTokens(F.col("text")))
        .select(F.explode(F.col("__t")).as("tok"))
      val cnt = ex.groupBy("tok").agg(F.count(F.lit(1)).as("c"))
      val tot = cnt.agg(F.sum("c").cast("double").as("__tot")) // 1 row
      val top = cnt.orderBy(F.col("c").desc, F.col("tok").asc).limit(100)
      val w = Window.orderBy(F.col("c").desc, F.col("tok").asc)
      top.crossJoin(tot)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("coverage", (F.floor((F.sum("c").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("double") / F.col("__tot")) * 1e6 + 0.5) / 1e6))
        .select("tok", "c", "rank", "coverage")
    },

    // Benchmark decontamination: training docs sharing any 5-gram with
    // the (deterministic) benchmark slice doc_id % 17 = 0.
    "q54_decontam" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 5))
      Decontam.overlap(docs, "doc_id", "sh", F.expr("doc_id % 17 = 0"))
    },

    // Benchmark-overlap FRACTION (GPT-3/PaLM contamination metric):
    // share of each training doc's 5-gram shingles found in the
    // benchmark set, classed clean/partial/dirty — separates incidental
    // idiom overlap from real leakage where q54's any-hit boolean
    // over-flags. Benchmark shingles broadcast; corpus never shuffles.
    "q134_overlap_frac" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 5))
      Decontam.overlapFraction(docs, "doc_id", "sh",
        F.expr("doc_id % 17 = 0"))
    },

    // Passage-level exact dedup + reassembly over 8-token chunks.
    "q55_passage_dedup" -> { (s, dir) =>
      Decontam.passageDedup(T.load(s, dir, "documents"),
        "doc_id", "text", 8)
    },

    // PII scrub: detect + redact emails / IPv4 / phone-shaped numbers.
    "q56_pii" -> { (s, dir) =>
      T.load(s, dir, "documents")
        .within("pii_text" -> injectSpark)
        .basedOn(
          ("doc_id" -> "doc_id") +:
            PII.flagExprs("pii_text") :+
            ("redacted" -> PII.redactExpr("pii_text")): _*)
    },

    // Sequence packing: concatenate-and-chunk batch assembly — each doc
    // gets a global token offset (distributed prefix sum), bin =
    // offset / 512. No single-task window; see RelOps.globalPrefixSum.
    "q57_pack" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
        .basedOn("doc_id" -> "doc_id",
          "n_tok" -> "cast(size(split(trim(text), ' +')) as bigint)")
      RelOps.globalPrefixSum(d, "n_tok", "start_tok",
          Seq(RelOps.Ordering("doc_id")))
        .basedOn("doc_id" -> "doc_id", "n_tok" -> "n_tok",
          "bin" -> "cast(floor(start_tok / 512.0) as bigint)",
          "off" -> "cast(start_tok % 512 as bigint)")
    },

    // Weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES keys u^(1/w)), 10 docs per source, weight = document
    // length — longer docs proportionally likelier, selection
    // reproducible AND oracle-computable because u is a Knuth hash of
    // doc_id. Completes the sampling family: uniform, stratified,
    // Bernoulli-by-rate, exactly-k, temperature, weighted.
    "q109_weighted_sample" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
        .basedOn("source" -> "source", "doc_id" -> "doc_id",
          "w" -> "cast(n_chars as double)",
          "u" -> ("(cast(((doc_id % 1000003) * 2654435761) % 1000003 as double) + 1.0)"
            + " / 1000004.0"))
      Sampling.weightedSamplePerGroup(
        d, Seq("source"), "doc_id", "w", "u", k = 10)
    },

    // Curriculum packing: shortest-document-first ordering (easy→hard)
    // packed into 512-token context bins — q57's distributed prefix
    // sum over a COMPUTED, non-unique sort key (n_tok, doc_id
    // tiebreak), i.e. range partitioning on the curriculum order, no
    // single-task window.
    "q108_curriculum" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
        .basedOn("doc_id" -> "doc_id",
          "n_tok" -> "cast(size(split(trim(text), ' +')) as bigint)")
      RelOps.globalPrefixSum(d, "n_tok", "start_tok",
          Seq(RelOps.Ordering("n_tok"), RelOps.Ordering("doc_id")))
        .basedOn("doc_id" -> "doc_id", "n_tok" -> "n_tok",
          "bin" -> "cast(floor(start_tok / 512.0) as bigint)",
          "off" -> "cast(start_tok % 512 as bigint)")
    },

    // Distribution drift per source: two-sample Kolmogorov–Smirnov
    // statistic of each source's doc-length distribution against the
    // corpus — the monitoring pass that catches a crawl whose length
    // profile shifted. Value-based ECDFs evaluated over every distinct
    // corpus value (tie-correct, both sides of the sup); see
    // StatOps.ksPerGroup for the distributed shape.
    "q112_ks_drift" -> { (s, dir) =>
      graft.ops.StatOps.ksPerGroup(
        T.load(s, dir, "documents"), "source", "n_chars")
    },

    // Sketch-based profiling with in-query accuracy gates: HLL distinct
    // users (rsd 2%, gated at ±5%) and approximate median (rank
    // accuracy 1e-4, gated at ±1% of the value range) vs their exact
    // twins — the sketches ARE the 100 TB path (mergeable partial
    // state, no exact-distinct shuffle), and the gate proves them.
    // percentile-audit: BOUNDED — the exact-percentile twin runs over
    // `value`, 2-decimal money, so the per-group value map is capped
    // by the cent DOMAIN (≤100·range+1 ≈ 5.7e4 here), not the row
    // count; it exists to validate the sketch, and the sketch is the
    // production path. See SCALE.md §percentile-audit.
    "q58_sketch" -> { (s, dir) =>
      val ev = T.load(s, dir, "events")
      // distinct counts and percentile buffers in SEPARATE aggregates:
      // one agg mixing count_distinct with typed-imperative percentiles
      // makes the distinct rewrite key every partial percentile buffer
      // by (event_type, user_id) — 100k live buffer objects + the
      // ObjectHashAggregate sort fallback (measured 9.6 s → 1.5 s).
      // rsd 0.02 (4k HLL registers): measured error ≤ 0.4% on this data
      // vs the 5% gate; rsd 0.01 quadruples sketch state for nothing
      // (its 16k-register partials alone cost ~0.6 s/query here).
      val dis = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).as("n_users"),
        F.approx_count_distinct(F.col("user_id"), 0.02).as("__acd"))
      val pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").as("__p50e"),
        F.percentile_approx(F.col("value"), F.lit(0.5), F.lit(10000))
          .as("__p50a"),
        F.min("value").as("__lo"), F.max("value").as("__hi"))
      dis.join(pct, "event_type")
        .select(F.col("event_type"), F.col("n_users"),
          (F.abs(F.col("__acd") - F.col("n_users")).cast("double")
             / F.col("n_users") <= 0.05).as("acd_ok"),
          F.round(F.col("__p50e"), 6).as("p50"),
          (F.abs(F.col("__p50a") - F.col("__p50e"))
             <= (F.col("__hi") - F.col("__lo")) * 0.01).as("p50_ok"))
    },

    // Per-class embedding centroids: element-wise mean + L2-normalized
    // unit centroid. Explode → partial-agg'd (label, pos) average → one
    // per-label window over 64 rows; shuffles carry (label, pos, sum)
    // only, never whole vectors.
    "q59_centroids" -> { (s, dir) =>
      val ex = T.load(s, dir, "embeddings")
        .select(F.col("label"),
          F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
      val c = ex.groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).as("c"))
      val w = Window.partitionBy("label")
      c.select(F.col("label"),
        (F.col("pos") + 1).cast("bigint").as("pos"),
        (F.floor((F.col("c")) * 1e6 + 0.5) / 1e6).as("centroid"),
        (F.floor((F.col("c")
          / F.sqrt(F.sum(F.col("c") * F.col("c")).over(w))) * 1e6 + 0.5) / 1e6).as("unit"))
    },

    // Bloom-filtered decontamination (broadcast 2^20-bit filter, k=5
    // probes) with in-plan gates: per-doc no-false-negative + corpus
    // FPR bound, asserted TRUE by the oracle. Exact counts come from
    // the same plan, so a bloom bug fails the hash gate.
    "q106_bloom_decontam" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 5))
      Decontam.bloomOverlap(docs, "doc_id", "sh",
        F.expr("doc_id % 17 = 0"))
    },

    // Count-Min heavy hitters: top-50 tokens by exact count, each
    // carrying two sketch gates the oracle asserts TRUE — est >= true
    // (CMS is one-sided by construction) and est <= true + 20·N/width
    // (the sizing bound; expected collision mass is N/width per cell).
    // The 4×8192 sketch (256 KB) builds in one partial-agg'd scan.
    "q107_heavy_hitters" -> { (s, dir) =>
      import graft.sketch.CountMin
      val W = 8192; val D = 4
      val ex = T.load(s, dir, "documents")
        .select(F.explode(
          TextExpressions.wordTokens(F.col("text"))).as("tok"))
      val cm = CountMin.build(
        ex.select(F.xxhash64(F.col("tok")).as("__h")), "__h", W, D)
      val cnt = ex.groupBy("tok").agg(F.count(F.lit(1)).as("c"))
      val tot = cnt.agg(F.sum("c").as("__n"))
      val top = cnt.orderBy(F.col("c").desc, F.col("tok").asc).limit(50)
      val w = Window.orderBy(F.col("c").desc, F.col("tok").asc)
      top.crossJoin(F.broadcast(cm)).crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("__est", F.expr(
          CountMin.estimateExpr("cm", "xxhash64(tok)", W, D)))
        .select(F.col("tok"), F.col("c"), F.col("rank"),
          (F.col("__est") >= F.col("c")).as("cms_ge"),
          (F.col("__est") <= F.col("c") + F.lit(20L) * F.col("__n")
            / F.lit(W.toLong)).as("cms_close"))
    },

    // Overlapping token-window chunking (window 50, stride 40) — the
    // long-document split before embedding/training. Scan-parallel
    // generator, no shuffle.
    "q100_chunk" -> { (s, dir) =>
      TextOps.chunk(T.load(s, dir, "documents"), "doc_id", "text",
        window = 50, stride = 40)
    },

    // Exactly-k-per-group eval-set carve by an explicit priority score
    // (Knuth-hash of doc_id — portable integer arithmetic, so the
    // oracle ranks identically). Runs on the bounded-memory TopK
    // aggregator: the shuffle carries O(groups × k) rows.
    "q103_eval_carve" -> { (s, dir) =>
      Sampling.fixedSizePerGroup(
        T.load(s, dir, "documents").withColumn("score",
          F.expr("cast(((doc_id % 1000003) * 2654435761) % 1000003 as double)")),
        Seq("source"), "doc_id", k = 20, scoreCol = Some("score"))
    },

    // Cross-source contamination matrix: distinct-3-gram Jaccard
    // between every source pair — the dataset-level overlap report run
    // before mixing corpora.
    "q105_source_overlap" -> { (s, dir) =>
      graft.dedup.Dedup.groupShingleOverlap(
        T.load(s, dir, "documents")
          .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3)),
        "source", "sh")
    },

    // Char-trigram conditional LM score — the KenLM-style fluency
    // filter: train MLE counts on the corpus in-plan, score each doc by
    // avg ln P(c₃ | c₁c₂) = avg(ln(c₃/(c₂+α))) over its trigram
    // positions, with α=5 additive context smoothing: an unsmoothed
    // conditional MLE assigns P=1 to SINGLETON contexts, so unique
    // gibberish would score as perfectly fluent; the α floor pushes
    // rare-context trigrams toward ln(1/α) instead (CurationSpec pins
    // the fluent-vs-noise ordering this buys).
    // Shape: one generator pass emitting 3-char payloads (the text is
    // never duplicated per position), two partial-agg count shuffles on
    // BOUNDED keys (charset³ model vocabulary — unlike a word vocab the
    // model table stays broadcastable at any corpus size; join left to
    // AQE), final regroup by doc_id. Gibberish/boilerplate scores low;
    // fluent text scores high — the standard pre-filter signal.
    "q114_ngram_lm" -> { (s, dir) =>
      // Trigrams are PACKED into longs by the native codegen'd kernel
      // (3 × 21-bit codepoints — injective for all of Unicode), so
      // every shuffle and hash-agg key is 8 bytes and the bigram
      // context key is pure arithmetic (pack >> 21 drops the last
      // char). One tight pass per document — the HOF formulation
      // (substring lambdas per position) measured 1.5-3× slower.
      // The length prefilter is on the RAW text (codepoint count — the
      // one length both engines compute identically; lowercasing can
      // change length, e.g. 'İ' → "i̇"). Inclusion past the filter is
      // driven by the kernel's n<3 → empty-array path on both sides:
      // explode drops gram-less docs here, the empty range() drops them
      // in the oracle.
      val grams = T.load(s, dir, "documents")
        .filter(F.length(F.col("text")) >= 3)
        .select(F.col("doc_id"),
          F.explode(TextExpressions.packedTrigrams(F.col("text"))).as("tri"))
      // Pre-aggregate per-(doc, trigram) multiplicities BEFORE any join:
      // the raw position relation is |corpus chars| rows and must cross
      // the wire at most once (partial agg compacts it map-side); the
      // model joins then hit the much smaller multiset, and AQE
      // broadcasts the bounded model tables so neither join reshuffles
      // it. avg over positions = Σ n·ln P / Σ n exactly.
      val g2 = grams.groupBy("doc_id", "tri")
        .agg(F.count(F.lit(1)).as("n"))
        .withColumn("big", F.expr("tri >> 21"))
      val c3 = g2.groupBy("tri").agg(F.sum("n").as("c3"))
      val c2 = g2.groupBy("big").agg(F.sum("n").as("c2"))
      g2.join(c3, "tri").join(c2, "big")
        .groupBy("doc_id")
        .agg(F.sum("n").cast("long").as("n_grams"),
          (F.floor((F.sum(F.col("n") * F.log(
              F.col("c3").cast("double") / (F.col("c2") + F.lit(5.0d))))
              / F.sum("n")) * 1e6 + 0.5) / 1e6)
            .as("lm_score"))
    },

    // Neyman-allocated stratified sample: a fixed total budget (100)
    // split across sources ∝ n_s·σ_s (the variance-optimal survey
    // allocation), then a deterministic hash-ranked carve of exactly
    // k_s docs per source. Allocation derives from the same exact
    // integer sums as q123; the rank window is per-source partitioned
    // (and at scale the rank filter gets Spark's partial
    // WindowGroupLimit only for constant k — dynamic k_s keeps the
    // plain window, one shuffle on source).
    "q126_neyman_sample" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
        .select(F.col("source"), F.col("doc_id"), F.col("n_chars"))
      // n >= 2 guard: a singleton source has (n-1) = 0, and n*sqrt(0/0)
      // = NaN would poison tw = sum(w) and thus EVERY source's
      // allocation (and DuckDB's 0/0 yields NULL, not NaN, so the
      // engines would even disagree about how it breaks).
      val per = d.groupBy("source").agg(
        F.count(F.lit(1)).as("n"), F.sum("n_chars").as("sm"),
        F.sum(F.col("n_chars") * F.col("n_chars")).as("sq"))
        .filter(F.col("n") >= 2)
        .withColumn("w", F.col("n") * F.sqrt(
          (F.col("sq").cast("double")
            - F.col("sm").cast("double") * F.col("sm") / F.col("n"))
            / (F.col("n") - 1)))
      val alloc = per.crossJoin(per.agg(F.sum("w").as("tw")))
        .select(F.col("source"), F.greatest(F.lit(1L),
          (F.floor((F.lit(100) * F.col("w") / F.col("tw")) * 1e0 + 0.5) / 1e0)
            .cast("long")).as("k"))
      val ranked = d.withColumn("r", F.row_number().over(
        Window.partitionBy("source").orderBy(
          F.expr("((doc_id % 1000003) * 2654435761) % 1000003"),
          F.col("doc_id"))))
      ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("r") <= F.col("k"))
        .select("source", "doc_id", "r", "k")
    },

    // Corpus snapshot diff — the incremental-ingestion primitive:
    // classify every doc across two crawl snapshots as added / removed
    // / changed by comparing content hashes under a full-outer join on
    // the doc key. Hashes are computed map-side, so the single keyed
    // shuffle carries (id, hash) — never document text (md5 here
    // because the oracle must compute the identical digest; a
    // production run would use 8-byte xxhash64). Snapshot B is derived
    // deterministically in-plan: docs %31 dropped, %17 edited, %13
    // cloned under new ids.
    "q120_snapshot_diff" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val a = docs.select(F.col("doc_id"), F.md5(F.col("text")).as("h_old"))
      // Clone ids live in a namespace strictly above the corpus max
      // doc_id (broadcast max + 1): a fixed +1e6 offset would collide
      // with real ids once the corpus exceeds 1e6 docs, silently
      // producing duplicate keys in the full-outer diff.
      val mx = docs.agg((F.max("doc_id") + 1L).as("__off"))
      val b = docs.filter(F.expr("doc_id % 31 != 0"))
        .select(F.col("doc_id"), F.md5(
          F.when(F.expr("doc_id % 17 = 0"),
            F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))).as("h_new"))
        .unionByName(docs.filter(F.expr("doc_id % 13 = 0"))
          .crossJoin(F.broadcast(mx))
          .select((F.col("doc_id") + F.col("__off")).as("doc_id"),
            F.md5(F.concat(F.lit("new "), F.col("text"))).as("h_new")))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          F.when(F.col("h_old").isNull, "added")
            .when(F.col("h_new").isNull, "removed")
            .when(F.col("h_old") =!= F.col("h_new"), "changed")
            .otherwise("unchanged"))
        .filter(F.col("status") =!= "unchanged")
        .select("doc_id", "status")
    },

    // Mergeable HLL sketch profile: per-source distinct-token sketches
    // (Datasketches HllSketch via hll_sketch_agg) UNIONED into a global
    // estimate — the re-aggregatable profile pattern: at 100 TB the
    // per-partition sketches are computed in one scan and any rollup
    // (per source, per lang, global) is a cheap sketch-merge, never a
    // rescan. Estimates are gated in-plan against exact distinct counts
    // at ±5% (lgK=12 → σ≈1.6%); HLL state is insert-order-invariant,
    // so the gate is deterministic.
    "q118_hll_union" -> { (s, dir) =>
      val toks = T.load(s, dir, "documents")
        .select(F.col("source"),
          F.explode(TextExpressions.wordTokens(F.col("text"))).as("tok"))
      val per = toks.groupBy("source").agg(
        F.expr("hll_sketch_agg(tok, 12)").as("sk"),
        F.count_distinct(F.col("tok")).as("n_exact"))
      val perOut = per.select(F.col("source"), F.col("n_exact"),
        (F.abs(F.expr("hll_sketch_estimate(sk)").cast("double")
          - F.col("n_exact")) <= F.col("n_exact") * 0.05).as("hll_ok"))
      val all = per.agg(
          F.expr("hll_sketch_estimate(hll_union_agg(sk))").as("__uest"))
        .crossJoin(toks.agg(F.count_distinct(F.col("tok")).as("n_exact")))
        .select(F.lit("__ALL__").as("source"), F.col("n_exact"),
          (F.abs(F.col("__uest").cast("double") - F.col("n_exact"))
            <= F.col("n_exact") * 0.05).as("hll_ok"))
      perOut.unionByName(all)
    },

    // Token-budget mixture carve: within each source, order docs by a
    // deterministic hash (unbiased) and keep while the running token
    // count stays within 20% of the source's total — how a mixture
    // spec's per-source token budgets are realized. Partitioned windows
    // only (both windows share the `source` partitioning → ONE
    // shuffle); token counts via the native codegen tokenizer.
    "q116_budget_carve" -> { (s, dir) =>
      val d = T.load(s, dir, "documents")
        .withColumn("tok",
          F.size(TextExpressions.wordTokens(F.col("text"))).cast("long"))
        .withColumn("h", F.md5(F.col("doc_id").cast("string")))
      val wRun = Window.partitionBy("source").orderBy("h", "doc_id")
      val wAll = Window.partitionBy("source")
      d.withColumn("cum", F.sum("tok").over(wRun))
        .withColumn("__tot", F.sum("tok").over(wAll))
        .filter(F.col("cum") <= F.col("__tot") * 0.2)
        .select("source", "doc_id", "tok", "cum")
    },

    // Gopher-style quality-rule bundle (Rae et al. 2021 §A1.1): word
    // count bounds, mean word length band, alphabetic-word fraction,
    // stopword floor → one keep decision per doc. All per-document
    // Column expressions — embarrassingly parallel with the scan, zero
    // shuffle; the rule set that usually runs FIRST in a curation
    // pipeline because it deletes the most bytes per cycle.
    "q128_gopher_rules" -> { (s, dir) =>
      val stop = TextOps.markers.toMap.apply("en")
      T.load(s, dir, "documents")
        .withColumn("t", TextExpressions.wordTokens(F.col("text")))
        .withColumn("n_words", F.expr("size(t)"))
        .withColumn("mean_word_len", F.expr(
          "floor((aggregate(t, 0L, (a, x) -> a + length(x)) " +
            "/ cast(size(t) as double)) * 1e6 + 0.5) / 1e6"))
        .withColumn("alpha_frac", F.expr(
          "floor((size(filter(t, x -> x rlike '[a-z]')) " +
            "/ cast(size(t) as double)) * 1e6 + 0.5) / 1e6"))
        .withColumn("stop_hits",
          F.expr(TextOps.markerScoreExpr("t", stop)).cast("long"))
        .withColumn("keep", F.expr(
          "n_words BETWEEN 50 AND 100000 AND " +
            "mean_word_len BETWEEN 3 AND 10 AND " +
            "alpha_frac >= 0.8 AND stop_hits >= 2"))
        .select("doc_id", "n_words", "mean_word_len", "alpha_frac",
          "stop_hits", "keep")
    },

    // Per-source Zipf slope: OLS of ln(freq) on ln(rank) over the top
    // 200 tokens — the distributional-health profile (natural text
    // sits near slope -1; generated/boilerplate corpora drift). Ranks
    // come from a per-source window with a constant limit, so Spark's
    // InferWindowGroupLimit bounds the shuffle to ~200 rows per source;
    // the OLS is closed-form over 200-term sums.
    "q129_zipf" -> { (s, dir) =>
      val toks = T.load(s, dir, "documents")
        .select(F.col("source"),
          F.explode(TextExpressions.wordTokens(F.col("text"))).as("tok"))
      val freq = toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).as("f"))
      val ranked = freq.withColumn("r", F.row_number().over(
        Window.partitionBy("source")
          .orderBy(F.col("f").desc, F.col("tok"))))
        .filter(F.col("r") <= 200)
      ranked.groupBy("source").agg(
          F.count(F.lit(1)).as("n_top"),
          (F.floor(((F.count(F.lit(1)) * F.sum(F.log("r") * F.log("f"))
              - F.sum(F.log("r")) * F.sum(F.log("f"))) /
            (F.count(F.lit(1)) * F.sum(F.log("r") * F.log("r"))
              - F.sum(F.log("r")) * F.sum(F.log("r")))) * 1e4 + 0.5) / 1e4)
            .as("zipf_slope"))
        // singleton-vocab guard: n_top = 1 makes the OLS denominator 0
        .filter(F.col("n_top") >= 2)
    },

    // DSIR-style importance weights — see [[dsirWeights]] (shared with
    // the q230 curation funnel).
    "q130_dsir" -> { (s, dir) =>
      dsirWeights(T.load(s, dir, "documents"))
    },

    // Mergeable quantile-sketch profile: per-source percentile_approx
    // (GK sketch, mergeable partial-agg state — the rollup never
    // rescans, like q118's HLL) gated in-plan against the exact
    // percentile at ±max(5%, 50 chars). accuracy=1000 bounds rank error
    // at n/1000, orders of magnitude inside the gate at any sf; the
    // oracle emits the exact values and literal TRUE (q118 pattern).
    // percentile-audit: BOUNDED — the exact twin runs over n_chars,
    // an integer capped by maximum document length (the corpus'
    // chunking policy, q128, enforces one), so the per-group value
    // map is O(max doc length) distinct entries at any corpus size;
    // the GK sketch is the production path. See SCALE.md
    // §percentile-audit.
    "q131_quantile_sketch" -> { (s, dir) =>
      T.load(s, dir, "documents")
        .groupBy("source").agg(
          F.count(F.lit(1)).as("n"),
          F.round(F.expr("percentile(n_chars, 0.5)"), 6).as("p50_exact"),
          F.round(F.expr("percentile(n_chars, 0.9)"), 6).as("p90_exact"),
          F.expr("percentile_approx(n_chars, 0.5, 1000)").as("__a50"),
          F.expr("percentile_approx(n_chars, 0.9, 1000)").as("__a90"),
          F.expr("percentile(n_chars, 0.5)").as("__e50"),
          F.expr("percentile(n_chars, 0.9)").as("__e90"))
        .select(F.col("source"), F.col("n"),
          F.col("p50_exact"), F.col("p90_exact"),
          (F.abs(F.col("__a50") - F.col("__e50")) <=
            F.greatest(F.col("__e50") * 0.05, F.lit(50.0)))
            .as("sketch_ok_p50"),
          (F.abs(F.col("__a90") - F.col("__e90")) <=
            F.greatest(F.col("__e90") * 0.05, F.lit(50.0)))
            .as("sketch_ok_p90"))
    },

    // Per-document lexical-diversity signals: unigram Shannon entropy
    // (ln N − (Σ c·ln c)/N over within-doc term frequencies) and
    // type-token ratio. The standard "low-entropy = boilerplate/spam"
    // quality gate alongside q97's repetition fractions. Two shuffles
    // on compact (doc_id, token) keys, both partial-agg'd map-side;
    // everything downstream of the term-frequency groupBy is
    // O(types), not O(tokens).
    "q146_token_entropy" -> { (s, dir) =>
      val tf = T.load(s, dir, "documents")
        .select(F.col("doc_id"), F.explode(F.expr(
          "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"))
          .as("tok"))
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).as("c"))
      tf.groupBy("doc_id").agg(
          F.sum("c").as("n_tok"),
          F.count(F.lit(1)).as("n_types"),
          F.sum(F.expr("c * ln(c)")).as("__sclnc"))
        .select(F.col("doc_id"), F.col("n_tok"), F.col("n_types"),
          (F.floor((F.log(F.col("n_tok"))
            - F.col("__sclnc") / F.col("n_tok")) * 1e6 + 0.5) / 1e6).as("entropy"),
          (F.floor((F.col("n_types") / F.col("n_tok")) * 1e6 + 0.5) / 1e6).as("ttr"))
    },

    // Per-doc surprisal under the corpus unigram LM (mean bits/token,
    // -Σ c·log2(cg/N) / L): the cheap "perplexity-ish" quality filter
    // run before the trigram LM (q114) is worth its cost — gibberish
    // and boilerplate land at the distribution's tails. No vocab
    // broadcast: term frequencies join corpus counts on the token key
    // (the TF-IDF shuffle shape); only the 1-row total crosses as a
    // broadcast. tf is recomputed for the unigram agg rather than
    // materialized — at cluster scale tf would persist to a bucketed
    // table, here the extra scan is cheaper than caching O(corpus).
    "q188_surprisal" -> { (s, dir) =>
      val tf = T.load(s, dir, "documents")
        .select(F.col("doc_id"), F.explode(F.expr(
          "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"))
          .as("tok"))
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).as("c"))
      val uni = tf.groupBy("tok").agg(F.sum("c").as("cg"))
      val n = uni.agg(F.sum("cg").cast("double").as("nn"))
      tf.join(uni, "tok")
        .groupBy("doc_id").agg(
          F.sum("c").as("n_tok"),
          F.sum(F.expr("c * ln(cg)")).as("__s"))
        .crossJoin(F.broadcast(n))
        .select(F.col("doc_id"), F.col("n_tok"),
          (F.floor(((F.log(F.col("nn")) * F.col("n_tok") - F.col("__s"))
            / (F.col("n_tok") * F.expr("ln(2)"))) * 1e6 + 0.5) / 1e6).as("bits_per_tok"))
    },

    // Mutual information between two categorical metadata columns
    // (lang × source) — the dataset-composition diagnostic: MI ≈ 0
    // means language mix is uniform across sources, high MI flags
    // sources that are language silos (matters for mixture design).
    // MI = Σ (c/n)·ln(c·n / (c_lang·c_source)) over the contingency
    // table: ONE shuffle on the (lang, source) cell key, then
    // cell-count-sized margins broadcast back. Everything after the
    // first groupBy is O(cells), independent of corpus size.
    "q152_mutual_info" -> { (s, dir) =>
      val joint = T.load(s, dir, "documents")
        .groupBy("lang", "source").agg(F.count(F.lit(1)).as("c"))
      val tot = joint.agg(F.sum("c").cast("double").as("n"))
      val ml = joint.groupBy("lang").agg(F.sum("c").as("cl"))
      val ms = joint.groupBy("source").agg(F.sum("c").as("cs"))
      joint.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
        .agg(F.count(F.lit(1)).as("n_cells"),
          (F.floor((F.sum((F.col("c") / F.col("n"))
            * F.log(F.col("c") * F.col("n")
              / (F.col("cl") * F.col("cs"))))) * 1e6 + 0.5) / 1e6).as("mi"))
    },

    // Dataset card: the one-row corpus profile every release ships
    // with — size, diversity, length, token mass, exact-dup rate. All
    // global aggregates run as partial-agg'd 1-row finals (the
    // `scalar=` pattern: one partial row per map task over the wire);
    // dup rate hashes text map-side so the distinct runs on 8-byte
    // keys.
    "q167_dataset_card" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val base = docs.agg(
        F.count(F.lit(1)).as("n_docs"),
        F.countDistinct(F.col("source")).as("n_sources"),
        F.countDistinct(F.col("lang")).as("n_langs"),
        (F.floor((F.avg("n_chars")) * 1e2 + 0.5) / 1e2).as("mean_chars"),
        F.countDistinct(F.md5(F.col("text"))).as("__uniq"))
      val toks = docs
        .select(F.size(TextExpressions.wordTokens(F.col("text")))
          .cast("long").as("nt"))
        .agg(F.sum("nt").as("total_tokens"))
      base.crossJoin(F.broadcast(toks))
        .select(F.col("n_docs"), F.col("n_sources"), F.col("n_langs"),
          F.col("mean_chars"), F.col("total_tokens"),
          (F.floor((F.lit(1.0) - F.col("__uniq") / F.col("n_docs")) * 1e6 + 0.5) / 1e6)
            .as("dup_frac"))
    },

    // SCD2 dimension merge (slowly-changing-dimension type 2): fold a
    // new corpus snapshot into a versioned history — unchanged rows
    // stay open, changed content closes the old version and opens a
    // new one, removals close, additions open. q120's diff machinery
    // (content hashes map-side, the full-outer join shuffles (id,
    // hash) only) extended to EMIT the versioned rows: the CASE
    // builds each doc's 1-2 history rows as an array of structs, so
    // the whole merge is one keyed join + a scan-parallel explode —
    // the incremental-ingest pattern for a 100 TB dimension update.
    "q163_scd2" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val a = docs.select(F.col("doc_id"), F.md5(F.col("text")).as("h_old"))
      val mx = docs.agg((F.max("doc_id") + 1L).as("__off"))
      val b = docs.filter(F.expr("doc_id % 31 != 0"))
        .select(F.col("doc_id"), F.md5(
          F.when(F.expr("doc_id % 17 = 0"),
            F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))).as("h_new"))
        .unionByName(docs.filter(F.expr("doc_id % 13 = 0"))
          .crossJoin(F.broadcast(mx))
          .select((F.col("doc_id") + F.col("__off")).as("doc_id"),
            F.md5(F.concat(F.lit("new "), F.col("text"))).as("h_new")))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(F.col("doc_id"), F.explode(F.expr(
          """CASE
               WHEN h_old IS NULL THEN array(
                 struct(h_new AS h, 2 AS valid_from,
                        CAST(NULL AS INT) AS valid_to, true AS is_current))
               WHEN h_new IS NULL THEN array(
                 struct(h_old AS h, 1 AS valid_from,
                        2 AS valid_to, false AS is_current))
               WHEN h_old = h_new THEN array(
                 struct(h_old AS h, 1 AS valid_from,
                        CAST(NULL AS INT) AS valid_to, true AS is_current))
               ELSE array(
                 struct(h_old AS h, 1 AS valid_from,
                        2 AS valid_to, false AS is_current),
                 struct(h_new AS h, 2 AS valid_from,
                        CAST(NULL AS INT) AS valid_to, true AS is_current))
             END""")).as("r"))
        .select(F.col("doc_id"), F.col("r.h").as("h"),
          F.col("r.valid_from").as("valid_from"),
          F.col("r.valid_to").as("valid_to"),
          F.col("r.is_current").as("is_current"))
    },

    // Collocation extraction: corpus-level bigram PMI
    // ln(p_xy / (p_x·p_y)) — the lexical-association score that
    // separates multiword expressions from chance adjacency (tokenizer
    // merge-rule mining, stop-phrase lists). The token array is bound
    // ONCE as a column that the bigram lambda reads by name;
    // unigram/bigram totals are in-plan broadcast 1-row aggregates;
    // count tables are vocabulary-bounded, corpus-size-independent
    // after their partial-agg'd groupBys.
    "q162_bigram_pmi" -> { (s, dir) =>
      val bigramsExpr =
        """transform(sequence(0, size(t) - 2),
              i -> struct(element_at(t, i + 1) AS x,
                          element_at(t, i + 2) AS y))"""
      val docs = T.load(s, dir, "documents")
        .select(TextExpressions.wordTokens(F.col("text")).as("t"))
      val uni = docs.select(F.explode(F.col("t")).as("x"))
        .groupBy("x").agg(F.count(F.lit(1)).as("cx"))
      val n1 = uni.agg(F.sum("cx").cast("double").as("n1"))
      val big = docs
        .filter(F.size(F.col("t")) >= 2)
        .select(F.explode(F.expr(bigramsExpr)).as("p"))
        .select(F.col("p.x").as("x"), F.col("p.y").as("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).as("cxy"))
      val n2 = big.agg(F.sum("cxy").cast("double").as("n2"))
      big.filter(F.col("cxy") >= 5)
        .join(uni, "x")
        .join(uni.toDF("y", "cy"), "y")
        .crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
        .select(F.col("x"), F.col("y"), F.col("cxy"),
          (F.floor((F.log(F.col("cxy") * F.col("n1") * F.col("n1")
            / (F.col("n2") * F.col("cx") * F.col("cy")))) * 1e6 + 0.5) / 1e6).as("pmi"))
        .topK(20, Ordering("pmi", desc = true), Ordering("x"),
          Ordering("y"))
    },

    // Quantile normalization across sources (the batch-effect
    // correction genomics calls quantile normalization; for corpora:
    // map every source's length distribution onto the GLOBAL one so
    // downstream length-keyed logic treats sources uniformly). Per-doc
    // source-local percent_rank (one partitioned window) is
    // re-expressed as the global distribution's interpolated quantile
    // at that rank: the global sorted positions come from
    // globalRowNumber (range-partitioned sort — never a single-task
    // window), and the interpolation endpoints arrive by TWO keyed
    // joins against the rank relation, not a per-doc array broadcast.
    "q158_quantile_norm" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .select("doc_id", "source", "n_chars")
      val ranked = RelOps.globalRowNumber(docs, "grn",
        Seq(Ordering("n_chars"), Ordering("doc_id")))
        .select(F.col("grn"), F.col("n_chars").as("v"))
      val nTot = docs.agg(F.count(F.lit(1)).as("n"))
      val pr = docs.withColumn("r", F.percent_rank().over(
        Window.partitionBy("source").orderBy("n_chars")))
      val x = pr.crossJoin(F.broadcast(nTot))
        .withColumn("pos", F.col("r") * (F.col("n") - 1))
        .withColumn("k", F.floor(F.col("pos")).cast("long"))
      x.join(ranked, x("k") + 1 === ranked("grn"))
        .withColumnRenamed("v", "v1").drop("grn")
        .join(ranked, x("k") + 2 === ranked("grn"), "left_outer")
        .withColumnRenamed("v", "v2").drop("grn")
        .select(F.col("doc_id"), F.col("n_chars"),
          F.round(F.col("v1") + (F.col("pos") - F.col("k"))
            * (F.coalesce(F.col("v2"), F.col("v1")) - F.col("v1")), 4)
            .as("qnorm"))
    },

    // Boilerplate detection (header/footer/template scrubbing): a
    // 5-gram shingle appearing in ≥ 30% of a source's documents is
    // that source's boilerplate; each doc reports how much of it is
    // template text. Shingling is scan-parallel (the q41/q54 kernel);
    // the per-(source, shingle) doc-frequency shuffle carries distinct
    // shingles only, and the per-source doc totals are a broadcast
    // O(sources) relation. The boilerplate join key is (source,
    // shingle) — the df table is corpus-frequency-bounded, never
    // per-doc.
    "q156_boilerplate" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      val sh = docs.select(F.col("doc_id"), F.col("source"),
        F.explode(TextExpressions.wordShingles(F.col("text"), 5))
          .as("sh"))
      val nd = docs.groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"))
      val dfreq = sh.groupBy("source", "sh")
        .agg(F.count(F.lit(1)).as("df"))
      val boiler = dfreq.join(F.broadcast(nd), "source")
        .filter(F.col("df") * F.lit(10) >= F.col("n_docs") * F.lit(3))
        .select("source", "sh")
      sh.join(boiler, Seq("source", "sh"), "left_semi")
        .groupBy("doc_id").agg(F.count(F.lit(1)).as("n_boiler"))
        .join(sh.groupBy("doc_id")
          .agg(F.count(F.lit(1)).as("n_shingles")), Seq("doc_id"),
          "right_outer")
        .select(F.col("doc_id"), F.col("n_shingles"),
          F.coalesce(F.col("n_boiler"), F.lit(0L)).as("n_boiler"),
          (F.floor((F.coalesce(F.col("n_boiler"), F.lit(0L))
            / F.col("n_shingles")) * 1e6 + 0.5) / 1e6).as("boiler_frac"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q146_token_entropy" ->
      """WITH toks AS (SELECT doc_id,
                unnest(list_filter(
                  string_split_regex(lower(text), '[^a-z0-9]+'),
                  t -> t <> '')) AS tok
              FROM documents),
          tf AS (SELECT doc_id, tok, count(*) AS c
                 FROM toks GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                CAST(count(*) AS BIGINT) AS n_types,
                floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 1e6 + 0.5) / 1e6 AS entropy,
                floor((count(*) * 1.0 / sum(c)) * 1e6 + 0.5) / 1e6 AS ttr
         FROM tf GROUP BY 1""",
    "q188_surprisal" ->
      """WITH toks AS (SELECT doc_id,
                unnest(list_filter(
                  string_split_regex(lower(text), '[^a-z0-9]+'),
                  t -> t <> '')) AS tok
              FROM documents),
          tf AS (SELECT doc_id, tok, count(*) AS c
                 FROM toks GROUP BY 1, 2),
          uni AS (SELECT tok, sum(c) AS cg FROM tf GROUP BY 1),
          n AS (SELECT CAST(sum(cg) AS DOUBLE) AS nn FROM uni)
         SELECT tf.doc_id, CAST(sum(tf.c) AS BIGINT) AS n_tok,
                floor(((ln(any_value(n.nn)) * sum(tf.c)
                       - sum(tf.c * ln(uni.cg)))
                      / (sum(tf.c) * ln(2))) * 1e6 + 0.5) / 1e6 AS bits_per_tok
         FROM tf JOIN uni USING (tok) CROSS JOIN n
         GROUP BY 1""",
    "q167_dataset_card" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                floor((avg(n_chars)) * 1e2 + 0.5) / 1e2 AS mean_chars,
                (SELECT CAST(sum(len(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> ''))) AS BIGINT)
                 FROM documents) AS total_tokens,
                floor((1.0 - count(DISTINCT md5(text)) * 1.0 / count(*)) * 1e6 + 0.5) / 1e6 AS dup_frac
         FROM documents""",
    "q163_scd2" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents),
          mx AS (SELECT max(doc_id) + 1 AS off FROM documents),
          b AS (SELECT doc_id,
                  md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2'
                           ELSE text END) AS h_new
                FROM documents WHERE doc_id % 31 != 0
                UNION ALL
                SELECT doc_id + off AS doc_id,
                  md5('new ' || text) AS h_new
                FROM documents CROSS JOIN mx WHERE doc_id % 13 = 0),
          j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  h_old, h_new
                FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         SELECT doc_id, h_new AS h, 2 AS valid_from,
                CAST(NULL AS INT) AS valid_to, TRUE AS is_current
         FROM j WHERE h_old IS NULL
         UNION ALL
         SELECT doc_id, h_old, 1, 2, FALSE FROM j WHERE h_new IS NULL
         UNION ALL
         SELECT doc_id, h_old, 1, CAST(NULL AS INT), TRUE
         FROM j WHERE h_old = h_new
         UNION ALL
         SELECT doc_id, h_old, 1, 2, FALSE
         FROM j WHERE h_old IS NOT NULL AND h_new IS NOT NULL
           AND h_old <> h_new
         UNION ALL
         SELECT doc_id, h_new, 2, CAST(NULL AS INT), TRUE
         FROM j WHERE h_old IS NOT NULL AND h_new IS NOT NULL
           AND h_old <> h_new""",
    "q162_bigram_pmi" ->
      """WITH toks AS (SELECT doc_id,
              list_filter(string_split_regex(lower(text),
                '[^a-z0-9]+'), x -> x <> '') AS tk
            FROM documents),
          uni AS (SELECT x, count(*) AS cx FROM
                    (SELECT unnest(tk) AS x FROM toks) GROUP BY 1),
          n1 AS (SELECT CAST(sum(cx) AS DOUBLE) AS n1 FROM uni),
          big AS (SELECT x, y, count(*) AS cxy FROM
                    (SELECT tk[i] AS x, tk[i + 1] AS y
                     FROM (SELECT tk, unnest(range(1, len(tk))) AS i
                           FROM toks WHERE len(tk) >= 2))
                  GROUP BY 1, 2),
          n2 AS (SELECT CAST(sum(cxy) AS DOUBLE) AS n2 FROM big)
         SELECT b.x AS x, b.y AS y, b.cxy AS cxy,
                floor((ln(b.cxy * n1 * n1 / (n2 * ux.cx * uy.cy))) * 1e6 + 0.5) / 1e6
                  AS pmi
         FROM big b
              JOIN uni ux ON b.x = ux.x
              JOIN (SELECT x AS y, cx AS cy FROM uni) uy ON b.y = uy.y
              CROSS JOIN n1 CROSS JOIN n2
         WHERE b.cxy >= 5
         ORDER BY pmi DESC, x, y LIMIT 20""",
    "q158_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
          nt AS (SELECT count(*) AS n FROM d),
          g AS (SELECT n_chars AS v,
                  row_number() OVER (ORDER BY n_chars, doc_id) AS grn
                FROM d),
          pr AS (SELECT doc_id, n_chars,
                   percent_rank() OVER (PARTITION BY source
                     ORDER BY n_chars) AS r
                 FROM d),
          x AS (SELECT doc_id, n_chars, r * (n - 1) AS pos,
                  CAST(floor(r * (n - 1)) AS BIGINT) AS k
                FROM pr CROSS JOIN nt)
         SELECT x.doc_id AS doc_id, x.n_chars AS n_chars,
                round(v1.v + (x.pos - x.k)
                  * (coalesce(v2.v, v1.v) - v1.v), 4) AS qnorm
         FROM x JOIN g v1 ON v1.grn = x.k + 1
                LEFT JOIN g v2 ON v2.grn = x.k + 2""",
    "q156_boilerplate" ->
      """WITH toks AS (SELECT doc_id, source,
              list_filter(string_split_regex(lower(text),
                '[^a-z0-9]+'), x -> x <> '') AS tk
            FROM documents),
          sh AS (SELECT DISTINCT doc_id, source,
                   concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                     tk[i+4]) AS sh
                 FROM (SELECT doc_id, source, tk,
                         unnest(range(1, len(tk) - 3)) AS i
                       FROM toks WHERE len(tk) >= 5)),
          nd AS (SELECT source, count(*) AS n_docs
                 FROM documents GROUP BY 1),
          dfq AS (SELECT source, sh, count(*) AS df
                  FROM sh GROUP BY 1, 2),
          boiler AS (SELECT source, sh FROM dfq JOIN nd USING (source)
                     WHERE df * 10 >= n_docs * 3),
          per AS (SELECT s.doc_id, count(*) AS n_shingles,
                    sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
                      AS n_boiler
                  FROM sh s LEFT JOIN boiler b
                    ON s.source = b.source AND s.sh = b.sh
                  GROUP BY 1)
         SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
                CAST(n_boiler AS BIGINT) AS n_boiler,
                floor((n_boiler * 1.0 / n_shingles) * 1e6 + 0.5) / 1e6 AS boiler_frac
         FROM per""",
    "q152_mutual_info" ->
      """WITH joint AS (SELECT lang, source, count(*) AS c
                        FROM documents GROUP BY 1, 2),
          tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM joint),
          ml AS (SELECT lang, sum(c) AS cl FROM joint GROUP BY 1),
          ms AS (SELECT source, sum(c) AS cs FROM joint GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_cells,
                floor((sum((c / n) * ln(c * n / (cl * cs)))) * 1e6 + 0.5) / 1e6 AS mi
         FROM joint JOIN ml USING (lang) JOIN ms USING (source)
              CROSS JOIN tot""",
    "q114_ngram_lm" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
                    WHERE length(text) >= 3),
          g AS (SELECT doc_id, substr(t, i, 3) AS tri, substr(t, i, 2) AS big
                FROM (SELECT doc_id, t,
                        unnest(range(1, length(t) - 1)) AS i FROM d)),
          c3 AS (SELECT tri, count(*) AS c3 FROM g GROUP BY 1),
          c2 AS (SELECT big, count(*) AS c2 FROM g GROUP BY 1)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
            floor((avg(ln(c3::DOUBLE / (c2 + 5.0)))) * 1e6 + 0.5) / 1e6 AS lm_score
          FROM g JOIN c3 USING (tri) JOIN c2 USING (big)
          GROUP BY 1""",
    "q126_neyman_sample" ->
      """WITH per AS (SELECT source, count(*) AS n, sum(n_chars) AS sm,
            sum(n_chars * n_chars) AS sq FROM documents GROUP BY 1),
          a AS (SELECT source,
            n * sqrt((sq::DOUBLE - sm::DOUBLE * sm / n) / (n - 1)) AS w
          FROM per WHERE n >= 2),
          tw AS (SELECT sum(w) AS tw FROM a),
          alloc AS (SELECT source,
            greatest(1, CAST(floor((100 * w / tw) * 1e0 + 0.5) / 1e0 AS BIGINT)) AS k
          FROM a CROSS JOIN tw),
          r AS (SELECT source, doc_id,
            row_number() OVER (PARTITION BY source
              ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003,
                doc_id) AS r
          FROM documents)
          SELECT source, doc_id, r, k
          FROM r JOIN alloc USING (source) WHERE r <= k""",
    "q120_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents),
          b AS (SELECT doc_id,
                  md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2'
                       ELSE text END) AS h_new
                FROM documents WHERE doc_id % 31 != 0
                UNION ALL
                SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
                  md5('new ' || text)
                FROM documents WHERE doc_id % 13 = 0)
          , j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN h_old <> h_new THEN 'changed'
                       ELSE 'unchanged' END AS status
                FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
          SELECT doc_id, status FROM j WHERE status <> 'unchanged'""",
    "q118_hll_union" ->
      s"""WITH ex AS (SELECT source, unnest($duckToks) AS tok
                      FROM documents),
          per AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT)
                    AS n_exact FROM ex GROUP BY 1),
          tot AS (SELECT '__ALL__' AS source,
                    CAST(count(DISTINCT tok) AS BIGINT) AS n_exact
                  FROM ex)
          SELECT source, n_exact, TRUE AS hll_ok FROM per
          UNION ALL
          SELECT source, n_exact, TRUE AS hll_ok FROM tot""",
    "q116_budget_carve" ->
      s"""WITH d AS (SELECT source, doc_id,
            CAST(len($duckToks) AS BIGINT) AS tok,
            md5(doc_id::VARCHAR) AS h FROM documents)
          SELECT source, doc_id, tok, CAST(cum AS BIGINT) AS cum
          FROM (SELECT source, doc_id, tok,
                  sum(tok) OVER (PARTITION BY source ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum,
                  sum(tok) OVER (PARTITION BY source) AS tot FROM d)
          WHERE cum <= tot * 0.2""",
    "q134_overlap_frac" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles5 AS s FROM toks),
          bench AS (SELECT DISTINCT unnest(s) AS g FROM sh
                    WHERE doc_id % 17 = 0),
          tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 17 != 0),
          h AS (SELECT doc_id, count(*) AS n_hits
                FROM (SELECT doc_id, unnest(s) AS g FROM tr) t
                JOIN bench USING (g) GROUP BY 1),
          m AS (SELECT tr.doc_id,
                  CAST(len(tr.s) AS BIGINT) AS n_grams,
                  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                  CASE WHEN len(tr.s) = 0 THEN 0.0
                       ELSE floor((coalesce(h.n_hits, 0)
                                  / CAST(len(tr.s) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                  END AS overlap_frac
                FROM tr LEFT JOIN h ON tr.doc_id = h.doc_id)
          SELECT doc_id, n_grams, n_hits, overlap_frac,
            CASE WHEN overlap_frac >= 0.5 THEN 'dirty'
                 WHEN overlap_frac >= 0.05 THEN 'partial'
                 ELSE 'clean' END AS severity
          FROM m""",
    "q128_gopher_rules" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          m AS (SELECT doc_id,
            len(t) AS n_words,
            floor((list_sum(list_transform(t, x -> length(x)))
                  / CAST(len(t) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mean_word_len,
            floor((len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                  / CAST(len(t) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS alpha_frac,
            CAST(len(list_filter(t, x -> list_contains(
              ['the', 'a', 'and', 'of', 'to'], x))) AS BIGINT)
              AS stop_hits
          FROM toks)
          SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
            (n_words BETWEEN 50 AND 100000 AND
             mean_word_len BETWEEN 3 AND 10 AND
             alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
          FROM m""",
    "q129_zipf" ->
      s"""WITH toks AS (SELECT source, unnest($duckToks) AS tok
                        FROM documents),
          f AS (SELECT source, tok, count(*) AS f
                FROM toks GROUP BY 1, 2),
          r AS (SELECT source, f,
                  row_number() OVER (PARTITION BY source
                    ORDER BY f DESC, tok) AS r
                FROM f)
          SELECT source, CAST(count(*) AS BIGINT) AS n_top,
            floor(((count(*) * sum(ln(r) * ln(f))
                   - sum(ln(r)) * sum(ln(f))) /
                  (count(*) * sum(ln(r) * ln(r))
                   - sum(ln(r)) * sum(ln(r)))) * 1e4 + 0.5) / 1e4 AS zipf_slope
          FROM r WHERE r <= 200
          GROUP BY 1 HAVING count(*) >= 2""",
    "q130_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest($duckToks) AS tok
                        FROM documents),
          tb AS (SELECT doc_id, lang,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
                 FROM toks),
          bk AS (SELECT b, count(*) AS cr,
                   count(*) FILTER (WHERE lang = 'en') AS ct
                 FROM tb GROUP BY 1),
          tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bk),
          lp AS (SELECT b,
                   ln((ct + 1)::DOUBLE / (nt + 256))
                     - ln((cr + 1)::DOUBLE / (nr + 256)) AS lw
                 FROM bk CROSS JOIN tot),
          dn AS (SELECT doc_id, b, count(*) AS n FROM tb GROUP BY 1, 2)
          SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_toks,
            round(sum(n * lw), 6) AS dsir_logweight
          FROM dn JOIN lp USING (b) GROUP BY 1""",
    "q131_quantile_sketch" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_exact,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_exact,
           TRUE AS sketch_ok_p50, TRUE AS sketch_ok_p90
         FROM documents GROUP BY 1""",
    "q37_shuffle" ->
      """SELECT doc_id,
           row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id)
             AS pos
         FROM documents""",
    "q38_temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n_orig
                    FROM documents GROUP BY 1),
          m AS (SELECT min(n_orig) AS mn FROM c)
          SELECT lang, CAST(n_orig AS BIGINT) AS n_orig,
            floor((sqrt(CAST(mn AS DOUBLE) / n_orig)) * 1e6 + 0.5) / 1e6 AS rate,
            TRUE AS rate_ok
          FROM c CROSS JOIN m""",
    "q39_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
          p AS (SELECT doc_id, source,
            row_number() OVER (PARTITION BY source ORDER BY doc_id) AS ps
          FROM documents)
          SELECT doc_id, source,
            row_number() OVER (
              ORDER BY ps / sqrt(n::DOUBLE), source, ps) AS pos
          FROM p JOIN c USING (source)""",
    "q49_vocab" ->
      s"""WITH ex AS (SELECT unnest($duckToks) AS tok FROM documents),
          cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt),
          rk AS (SELECT tok, c,
            row_number() OVER (ORDER BY c DESC, tok) AS rank FROM cnt)
          SELECT tok, CAST(c AS BIGINT) AS c, rank,
            floor((sum(c) OVER (ORDER BY rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t) * 1e6 + 0.5) / 1e6
              AS coverage
          FROM rk CROSS JOIN tot WHERE rank <= 100""",
    "q54_decontam" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles5 AS s FROM toks),
          bench AS (SELECT DISTINCT unnest(s) AS g FROM sh
                    WHERE doc_id % 17 = 0),
          train AS (SELECT doc_id, unnest(s) AS g FROM sh
                    WHERE doc_id % 17 != 0),
          hits AS (SELECT doc_id, count(*) AS n_hits
                   FROM train JOIN bench USING (g) GROUP BY 1)
          SELECT d.doc_id,
            CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
            coalesce(h.n_hits, 0) > 0 AS contaminated
          FROM (SELECT doc_id FROM documents WHERE doc_id % 17 != 0) d
          LEFT JOIN hits h USING (doc_id)""",
    "q55_passage_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          chunks AS (SELECT doc_id,
            [array_to_string(t[(i-1)*8+1:i*8], ' ')
             for i in range(1, cast(ceil(len(t)/8.0) as int) + 1)] AS cs
            FROM toks),
          ex AS (SELECT doc_id,
            unnest(list_zip(cs, generate_series(1, len(cs)))) AS z
            FROM chunks),
          ch AS (SELECT doc_id, z[2]::BIGINT AS idx, z[1]::VARCHAR AS chunk
                 FROM ex),
          flagged AS (SELECT doc_id, idx, chunk,
            row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1
              AS keep
            FROM ch)
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            coalesce(string_agg(CASE WHEN keep THEN chunk END, ' '
              ORDER BY idx), '') AS kept_text
          FROM flagged GROUP BY 1""",
    "q56_pii" ->
      s"""WITH p AS (SELECT doc_id, $injectDuck AS pii_text FROM documents)
          SELECT doc_id,
            len(regexp_extract_all(pii_text,
              '${PII.emailRe}')) AS n_pii_emails,
            len(regexp_extract_all(pii_text,
              '${PII.ipRe}')) AS n_pii_ips,
            len(regexp_extract_all(pii_text,
              '${PII.phoneRe}')) AS n_pii_phones,
            regexp_replace(regexp_replace(regexp_replace(pii_text,
              '${PII.emailRe}', '<EMAIL>', 'g'),
              '${PII.ipRe}', '<IP>', 'g'),
              '${PII.phoneRe}', '<PHONE>', 'g') AS redacted
          FROM p""",
    "q57_pack" ->
      """WITH d AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
              AS n_tok
          FROM documents),
          ps AS (SELECT doc_id, n_tok,
            coalesce(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS start_tok
          FROM d)
          SELECT doc_id, n_tok,
            CAST(floor(start_tok / 512.0) AS BIGINT) AS bin,
            CAST(start_tok % 512 AS BIGINT) AS off
          FROM ps""",
    "q58_sketch" ->
      """SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS acd_ok,
           round(quantile_cont(value, 0.5), 6) + 0 AS p50,
           TRUE AS p50_ok
         FROM events GROUP BY 1""",
    "q59_centroids" ->
      """WITH ex AS (SELECT label,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          c AS (SELECT label, z[2]::BIGINT AS pos, avg(z[1]::DOUBLE) AS c
                FROM ex GROUP BY 1, 2)
          SELECT label, pos,
            floor((c) * 1e6 + 0.5) / 1e6 + 0 AS centroid,
            floor((c / sqrt(sum(c*c) OVER (PARTITION BY label))) * 1e6 + 0.5) / 1e6 + 0
              AS unit
          FROM c""",
    "q112_ks_drift" ->
      """WITH d AS (SELECT source, n_chars AS x FROM documents),
          n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM d),
          ns AS (SELECT source, CAST(count(*) AS DOUBLE) AS sn
                 FROM d GROUP BY 1),
          dx AS (SELECT x, count(*) AS c FROM d GROUP BY 1),
          cx AS (SELECT x, sum(c) OVER (ORDER BY x) AS cum FROM dx),
          sx AS (SELECT source, x, count(*) AS sc FROM d GROUP BY 1, 2),
          grid AS (SELECT s.source, cx.x, cx.cum
                   FROM (SELECT DISTINCT source FROM d) s CROSS JOIN cx),
          gs AS (SELECT g.source, g.x, g.cum,
                   sum(coalesce(sx.sc, 0)) OVER (PARTITION BY g.source
                     ORDER BY g.x) AS scum
                 FROM grid g LEFT JOIN sx
                   ON sx.source = g.source AND sx.x = g.x)
         SELECT source, floor((max(abs(scum / sn - cum / nn))) * 1e6 + 0.5) / 1e6 AS ks
         FROM gs JOIN ns USING (source) CROSS JOIN n
         GROUP BY source""",
    "q109_weighted_sample" ->
      """SELECT source, doc_id, rnk FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY pow((CAST(((doc_id % 1000003) * 2654435761) % 1000003
                                  AS DOUBLE) + 1.0) / 1000004.0,
                            1.0 / n_chars) DESC, doc_id) AS rnk
           FROM documents) t
         WHERE rnk <= 10""",
    "q108_curriculum" ->
      """WITH d AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
              AS n_tok
          FROM documents),
          ps AS (SELECT doc_id, n_tok,
            coalesce(sum(n_tok) OVER (ORDER BY n_tok, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS start_tok
          FROM d)
          SELECT doc_id, n_tok,
            CAST(floor(start_tok / 512.0) AS BIGINT) AS bin,
            CAST(start_tok % 512 AS BIGINT) AS off
          FROM ps""",
    "q107_heavy_hitters" ->
      s"""WITH ex AS (SELECT unnest($duckToks) AS tok FROM documents),
          cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
          rk AS (SELECT tok, c,
            row_number() OVER (ORDER BY c DESC, tok) AS rank FROM cnt)
          SELECT tok, CAST(c AS BIGINT) AS c, rank,
            TRUE AS cms_ge, TRUE AS cms_close
          FROM rk WHERE rank <= 50""",
    "q106_bloom_decontam" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles5 AS s FROM toks),
          bench AS (SELECT DISTINCT unnest(s) AS g FROM sh
                    WHERE doc_id % 17 = 0),
          train AS (SELECT doc_id, unnest(s) AS g FROM sh
                    WHERE doc_id % 17 != 0),
          hits AS (SELECT doc_id, count(*) AS n_hits
                   FROM train JOIN bench USING (g) GROUP BY 1)
          SELECT d.doc_id,
            CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
            coalesce(h.n_hits, 0) > 0 AS contaminated,
            TRUE AS bloom_no_fn,
            TRUE AS fp_ok
          FROM (SELECT doc_id FROM documents WHERE doc_id % 17 != 0) d
          LEFT JOIN hits h USING (doc_id)""",
    "q100_chunk" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          nz AS (SELECT doc_id, t, len(t) AS sz FROM toks
                 WHERE len(t) > 0),
          c AS (SELECT doc_id, t, sz,
            unnest(generate_series(0,
              cast(ceil(greatest(0, sz - 50) / 40.0) as BIGINT))) AS ci
          FROM nz)
          SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
            CAST(least(50, sz - ci * 40) AS INT) AS n_toks,
            array_to_string(t[ci*40+1 : least(ci*40+50, sz)], ' ')
              AS chunk_text
          FROM c""",
    "q103_eval_carve" ->
      """SELECT source, doc_id, score, rnk FROM (
           SELECT source, doc_id,
             CAST(((doc_id % 1000003) * 2654435761) % 1000003 AS DOUBLE) AS score,
             row_number() OVER (PARTITION BY source
               ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003 DESC, doc_id)
               AS rnk
           FROM documents) t
         WHERE rnk <= 20""",
    "q105_source_overlap" ->
      s"""WITH toks AS (SELECT source, $duckToks AS t FROM documents),
          sh3 AS (SELECT source,
            list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           for i in range(1, len(t) - 1)]) AS s
          FROM toks),
          gs AS (SELECT DISTINCT source AS g, unnest(s) AS sh FROM sh3),
          sizes AS (SELECT g, count(*) AS n FROM gs GROUP BY 1),
          com AS (SELECT a.g AS g1, b.g AS g2, count(*) AS common
                  FROM gs a JOIN gs b ON a.sh = b.sh AND a.g < b.g
                  GROUP BY 1, 2)
          SELECT g1, g2, CAST(common AS BIGINT) AS common,
            CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
            floor((common / CAST(s1.n + s2.n - common AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS jac
          FROM com
          JOIN sizes s1 ON s1.g = com.g1
          JOIN sizes s2 ON s2.g = com.g2"""
  )
}
