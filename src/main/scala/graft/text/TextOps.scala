package graft.text

import org.apache.spark.sql.{DataFrame, functions => F}

/** Text-analysis operators for large-scale training-data pipelines:
  * n-gram counting, language-ID, quality scoring, token counting,
  * fingerprinting, over the word tokens and shingles of
  * [[graft.plans.TextExpressions]] (the one tokenizer and the one
  * distinct shingler). All pure Column expressions (codegen'd,
  * partition-local, no shuffle) — each scales linearly with the scan.
  */
object TextOps {

  /** NON-distinct word n-grams of a token-array expression —
    * repetition measurement needs the duplicates that the distinct
    * shingles of [[graft.plans.TextExpressions.wordShingles]] erase.
    * `tokExpr` is bound ONCE as a lambda variable (a single-element
    * transform): without it, projection collapse would inline a
    * tokenizer expression into every slice() and re-run it per n-gram.
    */
  def allShinglesExpr(tokExpr: String, n: Int): String =
    s"""element_at(transform(array($tokExpr), t ->
          CASE WHEN size(t) >= $n THEN
            transform(sequence(0, size(t) - $n),
              i -> concat_ws(' ', slice(t, i + 1, $n)))
          ELSE cast(array() as array<string>) END), 1)"""

  /** Gopher-style repetition signals — the quality-filter family that
    * screens boilerplate/spam out of pretraining corpora (Rae et al.
    * 2021 §A1.1): per document, the fraction of duplicate word n-grams
    * and the fraction of tokens taken by the single most frequent
    * token. The n-gram fraction is a pure column expression (scan-
    * parallel, no shuffle); the top-token fraction is one explode +
    * two partial-agg'd groupBys on (doc, token) — the tfidf shuffle
    * shape, compact keys. Output: (id, dup_ngram_frac, top_tok_frac).
    */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(F.col(idCol),
      graft.plans.TextExpressions.wordTokens(F.col(textCol)).as("__t"))
    val dup = toks
      .withColumn("__ng", F.expr(allShinglesExpr("__t", n)))
      .select(F.col(idCol),
        F.when(F.size(F.col("__ng")) === 0, 0.0)
          .otherwise(F.floor(
            (F.lit(1.0) - F.size(F.array_distinct(F.col("__ng")))
              .cast("double") / F.size(F.col("__ng")).cast("double"))
              * 1e6 + 0.5) / 1e6)
          .as("dup_ngram_frac"))
    val top = toks
      .select(F.col(idCol), F.explode(F.col("__t")).as("tok"))
      .groupBy(idCol, "tok").agg(F.count(F.lit(1)).as("c"))
      .groupBy(idCol).agg((F.floor(
        F.max("c").cast("double") / F.sum("c").cast("double")
          * 1e6 + 0.5) / 1e6)
        .as("top_tok_frac"))
    dup.join(top, Seq(idCol), "left_outer")
      .select(F.col(idCol), F.col("dup_ngram_frac"),
        F.coalesce(F.col("top_tok_frac"), F.lit(0.0)).as("top_tok_frac"))
  }

  /** Overlapping token-window chunking — how long documents are split
    * into model-context-sized pieces before embedding or training.
    * Windows of `window` tokens every `stride` tokens (overlap =
    * window - stride); the last window is short rather than dropped,
    * so every token lands in >= 1 chunk. Empty documents emit no
    * chunks.
    *
    * Scan-parallel: one projection + one generator (posexplode) per
    * document, no shuffle — chunking 100 TB costs exactly the scan.
    * Output: (idCol, chunk_idx, n_toks, chunk_text).
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String, window: Int,
            stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs
      .select(F.col(idCol),
        graft.plans.TextExpressions.wordTokens(F.col(textCol)).as("__t"))
      .filter(F.size(F.col("__t")) > 0)
      // chunk count: 1 + ceil((len - window) / stride) when len > window
      .select(F.col(idCol),
        F.posexplode(F.expr(
          s"""transform(
                sequence(0, cast(ceil(greatest(0, size(__t) - $window)
                                      / cast($stride as double)) as int)),
                i -> slice(__t, i * $stride + 1, $window))"""))
          .as(Seq("chunk_idx", "__c")))
      .select(F.col(idCol), F.col("chunk_idx"),
        F.size(F.col("__c")).as("n_toks"),
        F.concat_ws(" ", F.col("__c")).as("chunk_text"))
  }

  /** BPE-ish token count: letter runs, digit runs, individual symbols —
    * the shape of a byte-pair-style pre-tokenizer. */
  def bpeCountExpr(col: String): String =
    s"size(regexp_extract_all($col, '[a-z]+|[0-9]|[^a-z0-9 ]', 0))"

  /** Language marker words. NOTE: the synthetic corpus shares one
    * vocabulary across its `lang` labels, so these act as a
    * deterministic scoring function (verified exactly against the
    * oracle), not a real classifier — swap lists for real data.
    */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "nicht", "das"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "los", "y", "que", "de"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** Count of tokens present in a marker list. */
  def markerScoreExpr(tokCol: String, words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    s"size(filter($tokCol, t -> array_contains(array($arr), t)))"
  }

  /** Deterministic argmax over marker scores: first language (in the
    * fixed `markers` order) whose score is >= all others. The same CASE
    * chain is emitted for the oracle, so ties resolve identically.
    */
  def langIdExpr(tokCol: String): String = {
    val scores = markers.map { case (l, ws) =>
      l -> markerScoreExpr(tokCol, ws) }
    val cases = scores.map { case (l, s) =>
      val geAll = scores.filter(_._1 != l)
        .map { case (_, o) => s"($s) >= ($o)" }.mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** Portable content checksum: letter-histogram weighted by code point,
    * plus length. Order-independent but collision-resistant enough for
    * exact-dup detection demos, and expressible identically in ANSI SQL
    * (the oracle uses the same replace()-count construction). The
    * scale-path fingerprint is `xxhash64(text)` (rows-only check).
    */
  def charChecksumExpr(col: String): String = {
    val terms = ('a' to 'z').map { c =>
      s"(length($col) - length(replace($col, '$c', ''))) * ${c.toInt}"
    }.mkString(" + ")
    s"($terms + length($col) * 31)"
  }

  /** TF-IDF over a tokenized corpus: explode tokens → tf per (doc,
    * token), df per token → tfidf = tf * ln(N / df). Two shuffles
    * (doc-token, token), both on compact keys. The tf relation holds
    * exactly one row per distinct (doc, token), so document frequency
    * is a count WINDOW over its token partition (round 12) — the old
    * distinct → groupBy(tok) → join-back shape re-shuffled the
    * exploded relation for the same numbers. The corpus size N is a
    * 1-row aggregate cross-joined into the plan — one job, no
    * driver-side count() action.
    */
  def tfidf(docs: org.apache.spark.sql.DataFrame, idCol: String,
            tokCol: String): org.apache.spark.sql.DataFrame = {
    val ex = docs.select(F.col(idCol), F.explode(F.col(tokCol)).as("tok"))
    val tf = ex.groupBy(idCol, "tok")
      .agg(F.count(F.lit(1)).as("tf"))
    val nDf = docs.agg(
      F.count_distinct(F.col(idCol)).cast("double").as("__n"))
    tf.withColumn("df", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("tok")))
      .crossJoin(nDf) // 1 row → broadcast NL join, stays one job
      .withColumn("tfidf",
        F.col("tf") * F.log(F.col("__n") / F.col("df")))
      // column order matches the pre-fusion join-on-tok output
      .select("tok", idCol, "tf", "df", "tfidf")
  }

  /** BM25 relevance scores per (doc, token) — the ranking-function
    * extension of [[tfidf]]: idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*|d|/avgdl)).
    * Same two-shuffle shape; N and avgdl come from ONE 1-row aggregate
    * cross-joined into the plan (no driver .first()/.count() actions),
    * and the vocabulary join is left to AQE (no broadcast hint — a
    * web-scale vocabulary exceeds broadcast limits).
    */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
           tokCol: String, k1: Double = 1.2,
           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val withLen = docs.withColumn("__dl", F.size(F.col(tokCol)))
    val statsDf = withLen.agg(
      F.avg("__dl").as("__avgdl"),
      F.count_distinct(F.col(idCol)).cast("double").as("__n"))
    val ex = withLen.select(F.col(idCol), F.col("__dl"),
      F.explode(F.col(tokCol)).as("tok"))
    val tf = ex.groupBy(idCol, "tok")
      .agg(F.count(F.lit(1)).as("tf"), F.first("__dl").as("dl"))
    // df via a count window over tf's token partition (one row per
    // distinct (doc, token) by construction) — same round-12 fusion
    // as tfidf above
    tf.withColumn("df", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("tok")))
      .crossJoin(statsDf) // 1 row → broadcast NL join
      .withColumn("idf",
        F.log((F.col("__n") - F.col("df") + 0.5) /
          (F.col("df") + 0.5) + 1.0))
      .withColumn("bm25",
        F.col("idf") * (F.col("tf") * (k1 + 1)) /
          (F.col("tf") +
            F.lit(k1) * (F.lit(1 - b) +
              F.lit(b) * F.col("dl") / F.col("__avgdl"))))
      // column order matches the pre-fusion join-on-tok output
      .select("tok", idCol, "tf", "dl", "df", "idf", "bm25")
  }

  /** Content flags for quality filtering: email/url/digit-run counts +
    * digit character ratio — regex scans, SQL-portable. */
  def contentFlagExprs(textCol: String): Seq[(String, String)] = Seq(
    "n_emails" ->
      s"size(regexp_extract_all($textCol, '[a-z0-9.]+@[a-z0-9.]+', 0))",
    "n_urls" ->
      s"size(regexp_extract_all($textCol, 'https?://[^ ]+', 0))",
    "n_digit_runs" ->
      s"size(regexp_extract_all($textCol, '[0-9]+', 0))",
    "digit_ratio" ->
      s"""round((length($textCol) -
           length(regexp_replace($textCol, '[0-9]', ''))) /
           cast(length($textCol) as double), 6)""")

  /** Quality-score components (length, token stats, stopword ratio,
    * whitespace ratio) + a composite score in [0,1]-ish range —
    * reference-free heuristics standard in pretraining-data filtering. */
  def qualityExprs(textCol: String, tokCol: String): Seq[(String, String)] = Seq(
    "n_chars_q" -> s"length($textCol)",
    "n_tokens" -> s"size($tokCol)",
    "avg_token_len" ->
      s"round(aggregate($tokCol, 0L, (a, t) -> a + length(t)) / cast(size($tokCol) as double), 6)",
    "stopword_ratio" ->
      s"round(${markerScoreExpr(tokCol, markers.toMap.apply("en"))} / cast(size($tokCol) as double), 6)",
    "space_ratio" ->
      s"round((length($textCol) - length(replace($textCol, ' ', ''))) / cast(length($textCol) as double), 6)")
}
