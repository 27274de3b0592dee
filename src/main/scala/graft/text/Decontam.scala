package graft.text

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Cross-document hygiene passes a pretraining pipeline runs before the
  * corpus ships: benchmark decontamination (drop/flag training docs
  * that share n-grams with an eval set) and passage-level exact dedup
  * (remove boilerplate passages duplicated across documents, keeping
  * each passage's first occurrence — the FineWeb/Gopher paragraph-dedup
  * shape, on deterministic fixed-k token chunks here because the
  * synthetic corpus has no newlines).
  *
  * Both are plain Catalyst plans: explode → hash-partitioned
  * aggregation/window → reassembly. No UDFs, no driver loops.
  */
object Decontam {

  /** Benchmark n-gram overlap — the standard decontamination check
    * (count distinct shingles each training doc shares with ANY
    * benchmark doc; contaminated = at least one hit).
    *
    * Scale shape: the benchmark side is an eval set — small by
    * construction — so its distinct-shingle set is broadcast and the
    * training corpus never shuffles: one scan, partial-agg'd count per
    * doc. For an unusually large eval suite, drop the broadcast hint
    * and let AQE pick the join.
    *
    * `shCol` must hold DISTINCT shingles per doc (WordShingles does),
    * so the per-doc hit count needs no DISTINCT of its own.
    */
  def overlap(docs: DataFrame, idCol: String, shCol: String,
              benchPred: Column): DataFrame = {
    val bench = docs.filter(benchPred)
      .select(F.explode(F.col(shCol)).as("__g")).distinct()
    val train = docs.filter(!benchPred)
    val hits = train
      .select(F.col(idCol), F.explode(F.col(shCol)).as("__g"))
      .join(F.broadcast(bench), "__g")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_hits"))
    train.select(F.col(idCol))
      .join(hits, Seq(idCol), "left_outer")
      .select(F.col(idCol),
        F.coalesce(F.col("n_hits"), F.lit(0L)).as("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0L)) > 0).as("contaminated"))
  }

  /** Benchmark-overlap FRACTION — the GPT-3/PaLM-style contamination
    * metric: share of a training doc's distinct n-grams that appear in
    * ANY benchmark doc, with a severity class (clean < `partialAt` <=
    * partial < `dirtyAt` <= dirty). [[overlap]]'s boolean "any hit"
    * over-flags long documents that share one idiom with a benchmark;
    * the fraction separates incidental overlap from real leakage.
    * Same scale shape as [[overlap]]: benchmark shingles broadcast,
    * training corpus never shuffles.
    */
  def overlapFraction(docs: DataFrame, idCol: String, shCol: String,
                      benchPred: Column, partialAt: Double = 0.05,
                      dirtyAt: Double = 0.5): DataFrame = {
    val bench = docs.filter(benchPred)
      .select(F.explode(F.col(shCol)).as("__g")).distinct()
    val train = docs.filter(!benchPred)
    val hits = train
      .select(F.col(idCol), F.explode(F.col(shCol)).as("__g"))
      .join(F.broadcast(bench), "__g")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_hits"))
    train.select(F.col(idCol), F.size(F.col(shCol)).cast("long").as("n_grams"))
      .join(hits, Seq(idCol), "left_outer")
      .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0L)))
      .withColumn("overlap_frac", F.when(F.col("n_grams") === 0, 0.0)
        .otherwise(F.floor(
          F.col("n_hits") / F.col("n_grams").cast("double")
            * 1e6 + 0.5) / 1e6))
      .select(F.col(idCol), F.col("n_grams"), F.col("n_hits"),
        F.col("overlap_frac"),
        F.when(F.col("overlap_frac") >= dirtyAt, "dirty")
          .when(F.col("overlap_frac") >= partialAt, "partial")
          .otherwise("clean").as("severity"))
  }

  /** Bloom-filtered decontamination with in-plan verification gates —
    * the 100 TB path for [[overlap]]: the benchmark's shingles compress
    * to a fixed-size bloom array ([[Bloom]]) that broadcasts to every
    * executor, and the probe is a scan-parallel column expression over
    * the training corpus — no join, no shuffle of (doc, shingle) pairs.
    *
    * Bloom error is one-sided (false positives only), so the exact
    * per-doc hit counts from [[overlap]] are emitted alongside two
    * deterministic gates the oracle asserts as literal TRUE:
    *  - `bloom_no_fn`: bloom hits >= exact hits per doc (a false
    *    NEGATIVE would break decontamination; structurally impossible,
    *    and the gate proves it on real data);
    *  - `fp_ok`: corpus false-positive rate (clean docs with >= 1 bloom
    *    hit) <= `maxFpRate` — the sizing check on (numBits, numHashes).
    * A bloom/hash-family bug flips a gate to false and fails the hash
    * compare deterministically (the q58 sketch-gate pattern).
    */
  def bloomOverlap(docs: DataFrame, idCol: String, shCol: String,
                   benchPred: Column, numBits: Int = 1 << 20,
                   numHashes: Int = 5,
                   maxFpRate: Double = 0.01): DataFrame = {
    val bf = Bloom.build(docs.filter(benchPred), shCol, numBits, numHashes)
    // native codegen'd probe kernel (r16): bit-identical to the HOF
    // form `size(filter(transform(sh, s -> xxhash64(s)), h ->
    // mightContainHashExpr(...)))` — CurationSpec's "bloom kernel ==
    // the HOF probe expression, bit for bit" pins the equality;
    // the HOF form stays in [[Bloom]] as the executable spec
    val probed = docs.filter(!benchPred)
      .crossJoin(F.broadcast(bf))
      .select(F.col(idCol),
        graft.plans.BloomExpressions.bloomCountHits(
          F.col(shCol), F.col("bf"), numBits.toLong, numHashes)
          .as("n_bloom"))
    // both the output and the corpus-level fp gate consume this join;
    // without a cache the exact overlap + bloom probe execute twice
    // (measured ~2× wall). The block stays pinned for the plan's
    // lifetime — long-lived sessions calling this repeatedly should
    // sweep sparkContext.getPersistentRDDs between uses, as Bench and
    // Verify do between queries.
    val joined = overlap(docs, idCol, shCol, benchPred)
      .join(probed, Seq(idCol))
      .persist()
    // nullif guard: a fully-contaminated corpus has zero clean docs —
    // 0/0 would throw under ANSI; the FPR gate is then vacuously true
    val fp = joined.agg(
      (F.sum(F.when(!F.col("contaminated") && F.col("n_bloom") > 0, 1.0)
        .otherwise(0.0)) /
        F.nullif(F.sum(F.when(!F.col("contaminated"), 1.0).otherwise(0.0)),
          F.lit(0.0)))
        .as("__fp_rate"))
    joined.crossJoin(F.broadcast(fp))
      .select(F.col(idCol), F.col("n_hits"), F.col("contaminated"),
        (F.col("n_bloom") >= F.col("n_hits")).as("bloom_no_fn"),
        F.coalesce(F.col("__fp_rate") <= maxFpRate, F.lit(true))
          .as("fp_ok"))
  }

  /** Fixed-k token chunks of a token-array column, joined by single
    * spaces — the deterministic "paragraph" unit for [[passageDedup]].
    * `tokExpr` is bound ONCE as a lambda variable (a single-element
    * transform): without it, projection collapse would inline the
    * tokenizer into every chunk's slice and re-tokenize per chunk.
    */
  def passagesExpr(tokExpr: String, k: Int): String =
    s"""element_at(transform(array($tokExpr), t ->
          CASE WHEN size(t) < 1 THEN cast(array() as array<string>)
          ELSE transform(
            sequence(0, cast(ceil(size(t) / ${k}.0) as int) - 1),
            i -> concat_ws(' ', slice(t, i * $k + 1, $k))) END), 1)"""

  /** Passage-level exact dedup with reassembly: chunk every document
    * into k-token passages, keep only each passage's FIRST corpus-wide
    * occurrence (ordered by doc id, then position), and rebuild each
    * document from its surviving passages.
    *
    * One pipeline, two shuffles: a window partitioned BY PASSAGE (hash
    * shuffle on the passage text — per-passage state is one row_number,
    * so partitions stream), then the per-doc reassembly aggregation.
    * The passage text crosses the wire once per shuffle, which is the
    * floor for exact passage dedup + reassembly; a fingerprint-only
    * variant would still have to move the text for reassembly.
    *
    * Output: id, n_chunks, n_kept, kept_text ('' when every passage of
    * a doc appeared earlier elsewhere — true for exact-dup docs).
    */
  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    val ch = docs
      .withColumn("__t",
        graft.plans.TextExpressions.wordTokens(F.col(textCol)))
      .select(F.col(idCol),
        F.posexplode(F.expr(passagesExpr("__t", k))).as(Seq("idx", "chunk")))
    val w = Window.partitionBy("chunk")
      .orderBy(F.col(idCol).asc, F.col("idx").asc)
    ch.withColumn("__keep", F.row_number().over(w) === 1)
      .groupBy(idCol)
      .agg(
        F.count(F.lit(1)).as("n_chunks"),
        F.sum(F.when(F.col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        F.array_join(
          F.transform(
            F.array_sort(F.collect_list(
              F.when(F.col("__keep"),
                F.struct(F.col("idx"), F.col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("kept_text"))
  }
}
