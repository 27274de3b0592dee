package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.T
import graft.dedup.Dedup
import graft.multimodal.{MediaRecord, Multimodal}
import graft.ops.RelOps._
import graft.similarity.Knn
import graft.plans.TextExpressions
import graft.text.TextOps

/** Wave-3: training-data pipeline operators over `documents` and
  * `embeddings` — dedup (exact / MinHash-LSH / SimHash / exact n-gram
  * Jaccard / embedding near-dup), similarity search (brute-force +
  * IVF), text analysis (lang-id, quality, token stats, fingerprint),
  * multimodal binary plumbing.
  *
  * Oracles replicate tokenization/shingling/scoring in DuckDB list SQL
  * — including the SimHash signature bits (polyHash62 replay, q42) and
  * the IVF routing decision (rounded centroid cosine, q46), so every
  * query here is hash-checked.
  */
object PipelineQueries extends QueryRegistry {

  // ---- shared DuckDB fragments ---------------------------------------

  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

  private val duckShingles3 =
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])"

  /** Near-dup Jaccard threshold for every MinHash-LSH-backed query
    * (q41/q79/q90/q102/q122) AND its exact all-pairs oracle.
    *
    * Why 0.85 and not 0.8: the engine is probabilistic (16 bands x 4
    * rows), so a qualifying pair can miss every band. The miss
    * probability at the threshold is (1-J^4)^16: at J=0.80 that is
    * ~2.2e-4 — large enough that a regenerated corpus with a pair
    * sitting exactly at threshold could legitimately fail the
    * equality gate — while at J=0.85 it is ~7e-6, and this corpus's
    * qualifying pairs all sit at J >= 0.95 (miss ~2e-12, DedupSpec).
    * Raising the shared threshold to 0.85 keeps LSH recall
    * effectively 1 for any corpus whose near-dups are genuine
    * near-dups, instead of relying on this corpus's pair-J profile. */
  private[queries] val NearDupJ = 0.85

  /** Recursive-CTE connected components over the exact Jaccard >=
    * [[NearDupJ]] pair graph — shared ground truth for q79 and q102. */
  private[queries] lazy val duckCcClusters =
    s"""WITH RECURSIVE
        toks AS (SELECT doc_id, lang, $duckToks AS t FROM documents),
        sh AS (SELECT doc_id, $duckShingles3 AS s FROM toks),
        jp AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            floor((len(list_intersect(a.s, b.s)) /
              CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                   AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS jac
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        pairs AS (SELECT id1, id2 FROM jp WHERE jac >= $NearDupJ),
        edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        SELECT a AS id, least(a, min(b)) AS comp
        FROM reach GROUP BY a"""

  private def duckJaccardPairs(threshold: Double, sameLang: Boolean) = {
    val langCond = if (sameLang) "AND a.lang = b.lang" else ""
    s"""WITH toks AS (
          SELECT doc_id, lang, $duckToks AS t FROM documents),
        sh AS (
          SELECT doc_id, lang, $duckShingles3 AS s FROM toks),
        pairs AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            floor((len(list_intersect(a.s, b.s)) /
              CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                   AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS jac
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id $langCond)
        SELECT id1, id2, jac FROM pairs WHERE jac >= $threshold"""
  }

  private def duckMarkerScore(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(t, x -> list_contains([$arr], x)))"
  }

  private def duckLangIdCase: String = {
    val scores = TextOps.markers.map { case (l, ws) =>
      l -> duckMarkerScore(ws) }
    val cases = scores.map { case (l, sc) =>
      val geAll = scores.filter(_._1 != l)
        .map { case (_, o) => s"($sc) >= ($o)" }.mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  // ---- queries --------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: canonical representative per identical text.
    "q40_dedup_exact" -> { (s, dir) =>
      Dedup.exactDups(T.load(s, dir, "documents"), "text", "doc_id")
        .basedOn("doc_id" -> "doc_id", "keep_id" -> "keep_id",
          "is_dup" -> "is_dup")
    },

    // MinHash+LSH near-dup pairs, exact-Jaccard verified at NearDupJ.
    // Oracle is the EXACT all-pairs computation; see the NearDupJ
    // scaladoc for the band-miss analysis that sets the threshold.
    "q41_minhash_neardup" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      Dedup.minhashNearDups(docs, "doc_id", "sh", NearDupJ)
    },

    // Incremental-ingest near-dup: an incoming batch (doc_id % 5 = 0)
    // deduped AGAINST the existing corpus — band tables equi-joined
    // across sides, so the candidate cost is the batch's band matches,
    // never an existing×existing self-join. This is the daily-ingest
    // shape: at 100 TB the existing band relation is a persisted index.
    "q133_incremental_dedup" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      Dedup.minhashNearDupsAgainst(
        docs.filter(F.expr("doc_id % 5 = 0")),
        docs.filter(F.expr("doc_id % 5 != 0")),
        "doc_id", "sh", NearDupJ)
    },

    // SimHash signatures. Hash-checked: the per-token hash is the
    // oracle-reproducible 62-bit polynomial fold (TextKernels
    // .polyHash62 — plain BIGINT arithmetic), so the oracle rebuilds
    // every signature bit-for-bit: per token a codepoint fold, per bit
    // a ±1 sum, sign → bit.
    "q42_simhash" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
      Dedup.simhash64(docs, "doc_id", "toks")
    },

    // Exact n-gram Jaccard >= 0.5 via inverted shingle index, blocked
    // by lang.
    "q43_ngram_jaccard" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      Dedup.jaccardPairs(docs, "doc_id", "sh", 0.5, blockCols = Seq("lang"))
    },

    // Multimodal near-dup via perceptual fingerprint: the stub
    // kernel's 64-bit byte-average hash stands in for a real
    // image/audio pHash, and the SimHash banded-LSH machinery applies
    // unchanged to it (hamming <= 3 = pigeonhole-complete with 4
    // bands) — demonstrating that media dedup at 100 TB is the same
    // banded plan as text dedup once the kernel emits a fingerprint.
    // Hash-checked: the stub fingerprint is pure byte arithmetic, so
    // the oracle rebuilds each doc's 64 bucket-bits from
    // hex(encode(text)) and counts differing bits per pair.
    "q166_phash_dedup" -> { (s, dir) =>
      import s.implicits._
      val ph = Multimodal.fingerprints(
        Multimodal.asMedia(T.load(s, dir, "documents")).as[MediaRecord])
      Dedup.simhashNearDupsBanded(
        ph.withColumnRenamed("phash", "simhash"), "doc_id", maxDist = 3)
    },

    // MinHash estimator accuracy gate: on every verified near-dup pair,
    // the 64-hash signature agreement fraction must sit within 0.25 of
    // the exact Jaccard (4σ for k=64; σ = √(J(1−J)/64) ≤ 0.0625). The
    // q118/q131 gate pattern: the sketch quantity itself is
    // hash-family-dependent (not oracle-expressible), so the oracle
    // emits the exact pairs + literal TRUE and the hash check proves
    // the gate held. This is the estimator a 100 TB dedup TRUSTS when
    // it skips exact verification on low-stakes tiers.
    "q159_minhash_estimate" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      // the 64-way min agg over exploded shingles is the dominant cost;
      // compute it ONCE (eager checkpoint — Bench/Verify release the
      // blocks post-query) and share it across the candidate step and
      // both estimator sides, instead of letting minhashNearDups
      // rebuild its own copy
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "sh")
        .localCheckpoint() // pin: measured — unpinned 4.38 vs 3.51 s, local[32]
      val pairs = Dedup
        .verifiedJaccard(Dedup.lshCandidates(sigs, "doc_id"), docs,
          "doc_id", "sh")
        .filter(F.col("jac") >= NearDupJ)
      val s1 = sigs.toDF(sigs.columns.map(c =>
        if (c == "doc_id") "id1" else s"a_$c"): _*)
      val s2 = sigs.toDF(sigs.columns.map(c =>
        if (c == "doc_id") "id2" else s"b_$c"): _*)
      val agree = (0 until Dedup.NumHashes).map(i =>
        F.when(F.col(s"a_mh_$i") === F.col(s"b_mh_$i"), 1).otherwise(0))
        .reduce(_ + _)
      pairs.join(s1, "id1").join(s2, "id2")
        .withColumn("est", agree / F.lit(Dedup.NumHashes.toDouble))
        .select(F.col("id1"), F.col("id2"), F.col("jac"),
          (F.abs(F.col("est") - F.col("jac")) <= 0.25).as("est_ok"))
    },

    // Exact n-gram Jaccard >= 0.5, UNBLOCKED, via prefix filtering
    // (AllPairs/PPJoin): q43's semantics without the lang blocking and
    // without dfCap's one-sided undercount — rarity-ordered prefixes
    // keep stop-shingles off the index side entirely. Same DuckDB
    // all-pairs oracle family as q43.
    "q157_prefix_jaccard" -> { (s, dir) =>
      // pin the shingled projection: jaccardPairsPrefix reads it three
      // times (inverted index + both verify sides), and the per-doc
      // 3-gram shingle compute is the expensive part — unpinned, the
      // a/b verify scans each re-tokenize the corpus (the q266 lesson;
      // Bench/Verify sweep the blocks post-query)
      val docs = T.load(s, dir, "documents")
        .select(F.col("doc_id"),
          TextExpressions.wordShingles(F.col("text"), 3).as("sh"))
        .localCheckpoint() // pin: measured — unpinned 6.97 vs 6.19 s, local[32]
      Dedup.jaccardPairsPrefix(docs, "doc_id", "sh", 1, 2)
    },

    // Containment join (C(A,B) = |A∩B|/|A| >= 0.8, smaller-in-larger):
    // the subset/superset detector Jaccard structurally misses —
    // a passage absorbed into a larger doc has high containment but
    // low Jaccard. Prefix filtering with the asymmetric bound: probe
    // prefixes only (rarest shingles), full postings on the index
    // side, PPJoin positional filter on both ranks.
    "q182_containment" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .select(F.col("doc_id"),
          TextExpressions.wordShingles(F.col("text"), 3).as("sh"))
      Dedup.containmentPairsPrefix(docs, "doc_id", "sh", 4, 5)
    },

    // Embedding-cosine near-dup pairs within label blocks.
    "q44_embed_neardup" -> { (s, dir) =>
      Knn.embeddingNearDups(T.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", 0.4)
    },

    // Brute-force exact cosine top-10 for query vectors vec_id < 5.
    "q45_knn_brute" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      Knn.bruteForceKnn(emb, emb.filterExpr("vec_id < 5"),
        "vec_id", "embedding", 10)
    },

    // IVF ANN via per-label centroids, nprobe=3. Hash-checked: the
    // routing decision itself is deterministic arithmetic — centroids
    // are per-(label, dim) averages cast to FLOAT (bit-stable across
    // engines: the avg's summation-order noise is ~1e-16, far below
    // float ulp), and the probe ranking compares the 6-dp-ROUNDED
    // centroid cosine with a label tiebreak — so the oracle replays
    // the exact routing + in-cell exact top-k in SQL. q94 additionally
    // hash-verifies the full-probe limit == brute force.
    "q46_knn_ivf" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      Knn.ivfKnn(emb, emb.filterExpr("vec_id < 5"),
        "vec_id", "embedding", "label", 10, 3)
    },

    // Hard-negative mining: top-10 most-similar OTHER-label vectors
    // per query — the contrastive-training counterpart of q45.
    "q110_hard_negatives" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      Knn.hardNegatives(emb, emb.filterExpr("vec_id < 5"),
        "vec_id", "embedding", "label", 10)
    },

    // Per-label embedding z-normalization (whitening) summary.
    "q111_znorm" -> { (s, dir) =>
      Knn.zNormalizeStats(T.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
    },

    // Embedding dimension covariance matrix (whitening / PCA prep —
    // the matrix q111's per-dim stats can't give you). One posexplode
    // + a vec_id self-join fans each vector into its dim² products;
    // the shuffle key is vec_id (compact), the fan-out is dim²-bounded
    // per vector, and the final (i, j) aggregate is dim²-bounded
    // total — corpus size only enters through the partial-agg'd sums.
    "q124_embed_cov" -> { (s, dir) =>
      val ex = T.load(s, dir, "embeddings")
        .select(F.col("vec_id"),
          F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", F.col("x").cast("double"))
      val a = ex.toDF("vec_id", "i", "xi")
      val b = ex.toDF("vec_id", "j", "xj")
      val n = T.load(s, dir, "embeddings")
        .agg(F.count(F.lit(1)).as("n"))
      a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).as("sxy"),
          F.sum("xi").as("sx"), F.sum("xj").as("sy"))
        .crossJoin(n)
        .select(F.col("i"), F.col("j"),
          // + 0 folds -0.0 → 0.0 (a near-zero covariance rounds to a
          // sign-noise zero on one engine and not the other otherwise)
          ((F.floor(((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("n") - 1)) * 1e6 + 0.5) / 1e6) + F.lit(0)).as("cov"))
    },

    // Top principal component of the embedding covariance by POWER
    // ITERATION, entirely in-plan: the dim²-bounded covariance matrix
    // (q124's computation, entries rounded to 6dp so both engines
    // iterate from the IDENTICAL matrix) localCheckpoints once, then
    // three matvec+normalize rounds chain as joins — each one is
    // O(dim²) rows with the current vector broadcast, so corpus size
    // only enters the initial moment sums. Sign fixed by making the
    // max-|loading| component positive (eigenvectors are sign-
    // ambiguous). This is the whitening/PCA-projection prep step a
    // training pipeline runs before dimensionality reduction.
    "q184_pca_power" -> { (s, dir) =>
      val ex = T.load(s, dir, "embeddings")
        .select(F.col("vec_id"),
          F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", F.col("x").cast("double"))
      val a0 = ex.toDF("vec_id", "i", "xi")
      val b0 = ex.toDF("vec_id", "j", "xj")
      val n = T.load(s, dir, "embeddings")
        .agg(F.count(F.lit(1)).as("n"))
      val cov = a0.join(b0, "vec_id").groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).as("sxy"),
          F.sum("xi").as("sx"), F.sum("xj").as("sy"))
        .crossJoin(F.broadcast(n))
        .select(F.col("i"), F.col("j"),
          ((F.floor(((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("n") - 1)) * 1e6 + 0.5) / 1e6) + F.lit(0)).as("cov"))
        // pin: correctness — double sums, read by v0 and 3 iterations
        .localCheckpoint()
      def matvec(v: DataFrame): DataFrame = {
        val m = cov.join(F.broadcast(v), "j").groupBy("i")
          .agg(F.sum(F.col("cov") * F.col("v")).as("s"))
        val nm = m.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).as("nm"))
        m.crossJoin(F.broadcast(nm))
          .select(F.col("i").as("j"), (F.col("s") / F.col("nm")).as("v"))
      }
      val v0 = cov.select(F.col("i").as("j")).distinct()
        .withColumn("v", F.lit(1.0))
      val v3 = (1 to 3).foldLeft(v0)((v, _) => matvec(v))
      val sgn = v3.orderBy(F.abs(F.col("v")).desc, F.col("j")).limit(1)
        .select(F.when(F.col("v") >= 0, 1.0).otherwise(-1.0).as("sgn"))
      v3.crossJoin(F.broadcast(sgn))
        .select(F.col("j").as("pos"),
          ((F.floor((F.col("v") * F.col("sgn")) * 1e5 + 0.5) / 1e5) + F.lit(0)).as("loading"))
    },

    // Label-centroid cosine confusion matrix: pairwise similarity of
    // class centroids — the "which labels blur together" diagnostic
    // read before merging/splitting taxonomy classes. Centroid
    // components round to 6dp FIRST (both engines then run the dot
    // product over identical inputs); everything after the one grouped
    // avg is O(labels² × dim), independent of corpus size.
    "q191_centroid_confusion" -> { (s, dir) =>
      val ex = T.load(s, dir, "embeddings")
        .select(F.col("label"),
          F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", F.col("x").cast("double"))
      val cent = ex.groupBy("label", "pos")
        .agg(((F.floor((F.avg("x")) * 1e6 + 0.5) / 1e6) + F.lit(0)).as("c"))
      val nrm = cent.groupBy("label")
        .agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).as("nrm"))
      val a = cent.toDF("label_a", "pos", "ca")
      val b = cent.toDF("label_b", "pos", "cb")
      a.join(b, Seq("pos"))
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).as("dot"))
        .join(F.broadcast(nrm.toDF("label_a", "na")), "label_a")
        .join(F.broadcast(nrm.toDF("label_b", "nb")), "label_b")
        .select(F.col("label_a"), F.col("label_b"),
          ((F.floor((F.col("dot") / (F.col("na") * F.col("nb"))) * 1e6 + 0.5) / 1e6)
            + F.lit(0)).as("cos"))
    },

    // Centroid-distance outlier pruning: drop the 5% of embeddings
    // farthest from their label centroid — the noise filter run before
    // contrastive training. Pure relational array math (posexplode →
    // per-(label,dim) mean → rejoin → distance), so it shuffles compact
    // (label, pos) keys, never whole vectors; the cut is an exact
    // percent_rank per label (no approximate quantile), with distances
    // rounded BEFORE ranking so cross-engine ulp noise cannot reorder
    // the cut boundary.
    "q119_centroid_prune" -> { (s, dir) =>
      val ex = T.load(s, dir, "embeddings")
        .select(F.col("vec_id"), F.col("label"),
          F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", F.col("x").cast("double"))
      val cent = ex.groupBy("label", "pos")
        .agg(F.avg(F.col("x")).as("c"))
      val dist = ex.join(cent, Seq("label", "pos"))
        .groupBy("vec_id", "label")
        .agg(F.round(F.sqrt(F.sum(
          (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))), 6)
          .as("dist"))
      val w = Window.partitionBy("label").orderBy("dist", "vec_id")
      dist.withColumn("__pr", F.percent_rank().over(w))
        .filter(F.col("__pr") <= 0.95)
        .select("vec_id", "label", "dist")
    },

    // IVF at FULL probe must reproduce the exact top-k EXACTLY (recall
    // = 1.0 by construction): same oracle as q45, hash-checked — the
    // verification that the IVF routing/rank machinery is sound, with
    // q46 exercising the approximate path.
    "q94_ivf_fullprobe" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      Knn.ivfKnn(emb, emb.filterExpr("vec_id < 5"),
        "vec_id", "embedding", "label", 10, nprobe = 1 << 20)
    },

    // SimHash recall, hash-checked: pairs at hamming distance <= 16
    // (lang-blocked) intersected with the EXACT Jaccard >= 0.8 pair set
    // — equal to that exact set iff SimHash missed nothing. d=16 makes
    // a miss vanishingly rare for this corpus's J >= 0.95 dups
    // (P(bit flip) ≈ 0.08 → E[dist] ≈ 5), while false positives are
    // removed by the intersection, so the check is deterministic in
    // practice. The signature bits themselves are hash-checked in q42.
    "q95_simhash_verify" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val sigs = Dedup.simhash64(docs, "doc_id", "toks")
        .join(docs.select("doc_id", "lang"), "doc_id")
      val shPairs = Dedup.simhashNearDups(sigs, "doc_id", "lang", 16)
      val exact = Dedup.jaccardPairs(docs, "doc_id", "sh", 0.8,
        blockCols = Seq("lang"))
      shPairs.join(exact, Seq("id1", "id2"))
        .select("id1", "id2", "jac")
    },

    // Gopher-style repetition quality signals: duplicate-3gram fraction
    // + top-token fraction per document.
    "q97_repetition" -> { (s, dir) =>
      TextOps.repetitionSignals(T.load(s, dir, "documents"),
        "doc_id", "text", 3)
    },

    // Multimodal: binary payload + metadata projection.
    "q47_media_bytes" -> { (s, dir) =>
      Multimodal.asMedia(T.load(s, dir, "documents"))
        .basedOn("doc_id" -> "doc_id", "mime" -> "mime",
          "n_bytes" -> "n_bytes")
    },

    // Multimodal: stub decode through the typed Dataset boundary.
    // Hash-checked: the stub features are pure byte arithmetic, so the
    // oracle recomputes them in SQL over hex(encode(text)).
    "q48_decode_stub" -> { (s, dir) =>
      Multimodal.extractFeatures(s, T.load(s, dir, "documents"))
    },

    // Multimodal: stub resize (payload-in/payload-out kernel). The
    // byte math is deterministic, so an oracle checks the metadata.
    "q85_resize_stub" -> { (s, dir) =>
      import s.implicits._
      Multimodal.resizeStub(
        Multimodal.asMedia(T.load(s, dir, "documents")).as[MediaRecord],
        targetBytes = 128)
        .toDF().basedOn("doc_id" -> "doc_id", "n_bytes" -> "n_bytes")
    },

    // Multimodal: stub frame sampling — one-to-many flatMap boundary.
    // Hash-checked: the oracle mirrors the slice/checksum byte math.
    "q86_frames_stub" -> { (s, dir) =>
      import s.implicits._
      Multimodal.frameSampleStub(
        Multimodal.asMedia(T.load(s, dir, "documents")).as[MediaRecord],
        nFrames = 4)
    },

    // Leakage-free train/val/test split: near-dup CLUSTERS (not docs)
    // are the assignment unit, so a document can never share a near
    // duplicate across the split boundary — the subtle eval-leak bug
    // this op exists to kill. Cluster ids = min id per CC; singleton
    // docs are their own cluster; the 8/1/1 bucket comes from the
    // portable Knuth-hash arithmetic (oracle ranks identically).
    "q122_leakfree_split" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh", NearDupJ)
      val comp = Dedup.connectedComponents(pairs.select("id1", "id2"))
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id").join(comp, Seq("doc_id"), "left_outer")
        .withColumn("cluster", F.coalesce(F.col("comp"), F.col("doc_id")))
        .withColumn("__b", F.expr(
          "((cluster % 1000003) * 2654435761) % 1000003 % 10"))
        .select(F.col("doc_id"), F.col("cluster"),
          F.when(F.col("__b") < 8, "train")
            .when(F.col("__b") === 8, "val")
            .otherwise("test").as("split"))
    },

    // Pair graph → dup clusters (connected components, min id per
    // component); oracle = recursive-CTE reachability.
    "q79_dedup_clusters" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh", NearDupJ)
      Dedup.connectedComponents(pairs.select("id1", "id2"))
    },

    // Same dup clusters as q79 through the same CC operator (a
    // shingle-only pipeline: no token column); shares q79's
    // recursive-CTE oracle.
    "q102_cc_star" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh", NearDupJ)
      Dedup.connectedComponents(pairs.select("id1", "id2"))
    },

    // Semantic (embedding-cosine) dedup via signed-random-projection
    // LSH, demonstrated at its design point: the corpus unioned with an
    // exactly-colinear clone of itself (2×v — cosine 1.0 EXACTLY in
    // both engines, and SRP signatures are scale-invariant by
    // construction, so recall on these pairs is 1 regardless of
    // banding). The natural corpus contributes no pairs (max pairwise
    // cosine 0.51 at this SF); the oracle is the exact all-pairs
    // cosine >= 0.95 set. Like q41, the equality check leans on the
    // corpus: qualifying pairs sit at sim 1.0 where band-miss
    // probability is 0.
    "q101_srp_semantic" -> { (s, dir) =>
      val emb = T.load(s, dir, "embeddings")
      val cloned = emb.select(F.col("vec_id"), F.col("embedding"))
        .union(emb.select(F.col("vec_id") + 100000L,
          F.expr("transform(embedding, x -> x * cast(2.0 as float))")))
      graft.similarity.Srp.cosineNearDups(
        cloned, "vec_id", "embedding", dim = 64,
        threshold = 0.95, nBands = 4)
    },

    // End-to-end corpus curation: quality filter → exact-dup removal →
    // near-dup cluster pruning (keep representative) → deterministic
    // sample. The composite pipeline this engine exists for; every
    // stage is the library op verified individually above.
    "q90_curation" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
      // 1. quality gate
      val flagged = docs
        .within(TextOps.contentFlagExprs("text").map {
          case (n, e) => n -> e }: _*)
        .filterExpr("n_chars BETWEEN 150 AND 600 AND digit_ratio < 0.05")
      // 2. exact dedup (canonical = min doc_id per text)
      val exact = Dedup.exactDups(flagged, "text", "doc_id")
        .filterExpr("NOT is_dup")
      // 3. near-dup clusters over the FULL corpus; drop non-reps
      val shingled = docs
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val comps = Dedup.connectedComponents(
        Dedup.minhashNearDups(shingled, "doc_id", "sh", NearDupJ)
          .select("id1", "id2"))
      val nonReps = comps.filter(F.col("id") =!= F.col("comp"))
        .select(F.col("id").as("doc_id"))
      // 4. deterministic sample
      exact.join(nonReps, Seq("doc_id"), "left_anti")
        .filterExpr("doc_id % 2 = 0")
        .basedOn("doc_id" -> "doc_id", "lang" -> "lang")
    },

    // Int8 quantization summary: checksum of quantized codes + scale
    // per vector (portable floor(x+0.5) rounding on both sides).
    "q89_quantize" -> { (s, dir) =>
      graft.similarity.Quantize.int8(
        T.load(s, dir, "embeddings"), "embedding")
        .basedOn("vec_id" -> "vec_id",
          "qsum" -> "aggregate(qvec, 0L, (a, q) -> a + q)",
          "qmax" -> "array_max(qvec)",
          "scale" -> "round(scale, 6)")
    },

    // BM25: top-3 tokens per document by the BM25 ranking function.
    "q87_bm25" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
      val scored = TextOps.bm25(docs, "doc_id", "toks")
        .withColumn("bm25", (F.floor((F.col("bm25")) * 1e6 + 0.5) / 1e6))
      // bounded-memory top-k path (see q80)
      graft.similarity.TopK
        .perGroup[String](scored, Seq("doc_id"), "bm25", "tok", 3, "rn")
        .select("doc_id", "tok", "bm25", "rn")
    },

    // Reciprocal-rank fusion of two retrieval rankings (hybrid search:
    // BM25 ∪ TF-IDF here, lexical ∪ dense in production — the fusion
    // math is ranking-agnostic). Each ranking is truncated to its top
    // 100 via the bounded-memory TopK aggregator (O(k) per map task, no
    // global sort), ranks fuse through the standard 1/(60+r) kernel on
    // a full-outer join, and absent ranks contribute 0 — all integer
    // rank arithmetic, so the fused score is bit-deterministic.
    "q193_rrf_fusion" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
      val qt = Seq("hash", "join")
      val bm = TextOps.bm25(docs, "doc_id", "toks")
        .filter(F.col("tok").isin(qt: _*))
        .groupBy("doc_id")
        .agg((F.floor((F.sum((F.floor((F.col("bm25")) * 1e6 + 0.5) / 1e6))) * 1e6 + 0.5) / 1e6).as("s1"))
      val ti = TextOps.tfidf(docs, "doc_id", "toks")
        .filter(F.col("tok").isin(qt: _*))
        .groupBy("doc_id")
        .agg((F.floor((F.sum((F.floor((F.col("tfidf")) * 1e6 + 0.5) / 1e6))) * 1e6 + 0.5) / 1e6).as("s2"))
      val r1 = graft.similarity.TopK
        .perGroup[Long](bm, Seq(), "s1", "doc_id", 100, "r1")
        .select("doc_id", "r1")
      val r2 = graft.similarity.TopK
        .perGroup[Long](ti, Seq(), "s2", "doc_id", 100, "r2")
        .select("doc_id", "r2")
      r1.join(r2, Seq("doc_id"), "full_outer")
        .select(F.col("doc_id"), F.col("r1"), F.col("r2"),
          (F.floor((F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r1")), F.lit(0.0))
              + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r2")),
                F.lit(0.0))) * 1e6 + 0.5) / 1e6).as("rrf"))
    },

    // Content flags (emails/urls/digit runs/digit ratio) — standard
    // pretraining-quality scan.
    "q88_content_flags" -> { (s, dir) =>
      T.load(s, dir, "documents").basedOn(
        ("doc_id" -> "doc_id") +:
          TextOps.contentFlagExprs("text"): _*)
    },

    // TF-IDF: top-3 highest-scoring tokens per document.
    "q80_tfidf" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
      val scored = TextOps.tfidf(docs, "doc_id", "toks")
        .withColumn("tfidf", (F.floor((F.col("tfidf")) * 1e6 + 0.5) / 1e6))
      // bounded-memory top-k (O(docs × 3) shuffled, not O(doc-token
      // pairs)) — same (score desc, tok asc) order as a row_number
      // window; ranking on ROUNDED scores so ties match the oracle
      graft.similarity.TopK
        .perGroup[String](scored, Seq("doc_id"), "tfidf", "tok", 3, "rn")
        .select("doc_id", "tok", "tfidf", "rn")
    },

    // Language ID by deterministic marker scoring (see TextOps.markers
    // note: scoring function, not a classifier, on this synthetic corpus).
    "q50_langid" -> { (s, dir) =>
      T.load(s, dir, "documents")
        .withColumn("t", TextExpressions.wordTokens(F.col("text")))
        .withColumn("predicted", F.expr(TextOps.langIdExpr("t")))
        .by(Seq("lang", "predicted"), "n" -> "count(*)")
    },

    // Quality scoring components per document.
    "q51_quality" -> { (s, dir) =>
      val exprs = TextOps.qualityExprs("text", "t")
      T.load(s, dir, "documents")
        .withColumn("t", TextExpressions.wordTokens(F.col("text")))
        .basedOn(("doc_id" -> "doc_id") +: exprs: _*)
    },

    // Token counting: whitespace tokens + BPE-ish regex tokens.
    "q52_token_stats" -> { (s, dir) =>
      T.load(s, dir, "documents").basedOn(
        "doc_id" -> "doc_id",
        "n_ws" -> "size(split(trim(text), ' +'))",
        "n_bpe" -> TextOps.bpeCountExpr("text"))
    },

    // Portable content fingerprint (letter histogram checksum); the
    // scale-path fingerprint xxhash64(text) rides along rows-only-style
    // but is cross-checked by the dedup queries.
    "q53_fingerprint" -> { (s, dir) =>
      T.load(s, dir, "documents").basedOn(
        "doc_id" -> "doc_id",
        "fp" -> s"cast(${TextOps.charChecksumExpr("text")} as bigint)")
    },

    // Canonical-representative selection — the step after near-dup
    // clustering that dedup actually SHIPS: per duplicate cluster keep
    // exactly one document (longest wins, doc-id tiebreak) and report
    // cluster size. Composition of the q41 pair pipeline + q79 CC; the
    // argmax is a partial-agg'd struct-min, so the shuffle carries one
    // row per cluster, never the membership lists.
    "q222_canonical_pick" -> { (s, dir) =>
      val docs = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh", NearDupJ)
      canonicalPick(
        Dedup.connectedComponents(pairs.select("id1", "id2")),
        T.load(s, dir, "documents")
          .select(F.col("doc_id").as("id"), F.col("n_chars")))
    },

    // N-gram novelty per document — the pretraining-mix freshness
    // signal: what fraction of a doc's distinct 3-gram shingles first
    // appear in THIS doc (first occurrence = min doc_id, the ingest
    // order)? Boilerplate-heavy docs score near 0, genuinely new
    // content near 1. Shuffles carry 8-byte shingle hashes (the q182
    // compact-key precedent), one groupBy-min + one join back — no
    // all-pairs anything.
    "q224_ngram_novelty" -> { (s, dir) =>
      val sh = T.load(s, dir, "documents")
        .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))
        .select(F.col("doc_id"), F.explode(F.col("sh")).as("s"))
        .select(F.col("doc_id"), F.xxhash64(F.col("s")).as("h"))
      val first = sh.groupBy("h").agg(F.min("doc_id").as("fd"))
      sh.join(first, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).as("n_shingles"),
          F.sum(F.when(F.col("fd") === F.col("doc_id"), 1L)
            .otherwise(0L)).as("n_novel"))
        .withColumn("novelty", (F.floor((F.col("n_novel").cast("double") / F.col("n_shingles")) * 1e6 + 0.5) / 1e6))
    }
  )

  /** Canonical-representative argmax over cluster labels (id, comp)
    * joined with a quality column (id, n_chars): longest doc wins,
    * id tiebreak — a partial-agg'd struct-min, one output row per
    * cluster. Shared by q222 and RetrievalSpec. */
  private[graft] def canonicalPick(labels: DataFrame,
                                   chars: DataFrame): DataFrame =
    labels.join(chars, "id")
      .groupBy(F.col("comp").as("cluster"))
      .agg(F.count(F.lit(1)).as("n_members"),
        F.min(F.struct((-F.col("n_chars")).as("nc"),
          F.col("id").as("d"))).as("m"))
      .select(F.col("cluster"), F.col("n_members"),
        F.col("m.d").as("kept_doc"), (-F.col("m.nc")).as("kept_chars"))

  def oracleSql: Map[String, String] = Map(
    "q124_embed_cov" ->
      """WITH ex AS (SELECT vec_id,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e2 AS (SELECT vec_id, z[2]::BIGINT - 1 AS pos,
                   z[1]::DOUBLE AS x FROM ex),
          n AS (SELECT count(*) AS n FROM embeddings)
          SELECT a.pos AS i, b.pos AS j,
            floor(((sum(a.x * b.x) - sum(a.x) * sum(b.x) / any_value(n.n))
              / (any_value(n.n) - 1)) * 1e6 + 0.5) / 1e6 + 0 AS cov
          FROM e2 a JOIN e2 b USING (vec_id) CROSS JOIN n
          GROUP BY 1, 2""",
    "q184_pca_power" ->
      """WITH ex AS (SELECT vec_id,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e2 AS (SELECT vec_id, z[2]::BIGINT - 1 AS pos,
                   z[1]::DOUBLE AS x FROM ex),
          n AS (SELECT count(*) AS n FROM embeddings),
          a AS (SELECT a.pos AS i, b.pos AS j,
              floor(((sum(a.x * b.x) - sum(a.x) * sum(b.x) / any_value(n.n))
                / (any_value(n.n) - 1)) * 1e6 + 0.5) / 1e6 + 0 AS cov
            FROM e2 a JOIN e2 b USING (vec_id) CROSS JOIN n
            GROUP BY 1, 2),
          v0 AS (SELECT DISTINCT i AS j, 1.0 AS v FROM a),
          m1 AS (SELECT a.i, sum(a.cov * v0.v) AS s
                 FROM a JOIN v0 ON a.j = v0.j GROUP BY 1),
          v1 AS (SELECT i AS j, s / sqrt((SELECT sum(s*s) FROM m1)) AS v
                 FROM m1),
          m2 AS (SELECT a.i, sum(a.cov * v1.v) AS s
                 FROM a JOIN v1 ON a.j = v1.j GROUP BY 1),
          v2 AS (SELECT i AS j, s / sqrt((SELECT sum(s*s) FROM m2)) AS v
                 FROM m2),
          m3 AS (SELECT a.i, sum(a.cov * v2.v) AS s
                 FROM a JOIN v2 ON a.j = v2.j GROUP BY 1),
          v3 AS (SELECT i AS j, s / sqrt((SELECT sum(s*s) FROM m3)) AS v
                 FROM m3),
          sg AS (SELECT CASE WHEN v >= 0 THEN 1.0 ELSE -1.0 END AS sgn
                 FROM v3 ORDER BY abs(v) DESC, j LIMIT 1)
          SELECT v3.j AS pos, floor((v3.v * sg.sgn) * 1e5 + 0.5) / 1e5 + 0 AS loading
          FROM v3 CROSS JOIN sg""",
    "q191_centroid_confusion" ->
      """WITH ex AS (SELECT label,
              unnest(list_zip(embedding::DOUBLE[],
                generate_series(1, len(embedding)))) AS z
            FROM embeddings),
          e2 AS (SELECT label, z[2]::BIGINT - 1 AS pos, z[1]::DOUBLE AS x
                 FROM ex),
          cent AS (SELECT label, pos, floor((avg(x)) * 1e6 + 0.5) / 1e6 + 0 AS c
                   FROM e2 GROUP BY 1, 2),
          nrm AS (SELECT label, sqrt(sum(c * c)) AS nrm
                  FROM cent GROUP BY 1),
          p AS (SELECT a.label AS label_a, b.label AS label_b,
                  sum(a.c * b.c) AS dot
                FROM cent a JOIN cent b USING (pos)
                WHERE a.label < b.label GROUP BY 1, 2)
         SELECT label_a, label_b,
                floor((dot / (na.nrm * nb.nrm)) * 1e6 + 0.5) / 1e6 + 0 AS cos
         FROM p JOIN nrm na ON na.label = p.label_a
                JOIN nrm nb ON nb.label = p.label_b""",
    "q119_centroid_prune" ->
      """WITH ex AS (SELECT vec_id, label,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e2 AS (SELECT vec_id, label, z[2]::BIGINT AS pos,
                   z[1]::DOUBLE AS x FROM ex),
          c AS (SELECT label, pos, avg(x) AS c FROM e2 GROUP BY 1, 2),
          d AS (SELECT vec_id, label,
                  round(sqrt(sum((x - c) * (x - c))), 6) AS dist
                FROM e2 JOIN c USING (label, pos) GROUP BY 1, 2),
          r AS (SELECT vec_id, label, dist,
                  percent_rank() OVER (PARTITION BY label
                    ORDER BY dist, vec_id) AS pr FROM d)
          SELECT vec_id, label, dist FROM r WHERE pr <= 0.95""",
    "q40_dedup_exact" ->
      """SELECT doc_id,
           min(doc_id) OVER (PARTITION BY text) AS keep_id,
           doc_id != min(doc_id) OVER (PARTITION BY text) AS is_dup
         FROM documents""",
    // NOTE the oracle is the EXACT all-pairs Jaccard set; the engine is
    // probabilistic. NearDupJ = 0.85 keeps the band-miss probability at
    // the threshold ~7e-6 (vs ~2e-4 at 0.80), so the equality gate
    // cannot realistically flake even on a regenerated corpus with
    // near-threshold pairs; see the NearDupJ scaladoc.
    "q41_minhash_neardup" -> duckJaccardPairs(NearDupJ, sameLang = false),
    // exact cross-side pair set: incoming (id1) × existing (id2) only
    "q133_incremental_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles3 AS s FROM toks),
          pairs AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              floor((len(list_intersect(a.s, b.s)) /
                CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                     AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS jac
            FROM sh a JOIN sh b
              ON a.doc_id % 5 = 0 AND b.doc_id % 5 != 0)
          SELECT id1, id2, jac FROM pairs WHERE jac >= $NearDupJ""",
    "q43_ngram_jaccard" -> duckJaccardPairs(0.5, sameLang = true),
    "q157_prefix_jaccard" -> duckJaccardPairs(0.5, sameLang = false),
    "q182_containment" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (
            SELECT doc_id, $duckShingles3 AS s FROM toks
            WHERE len(t) >= 3),
          pairs AS (
            SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
              floor((len(list_intersect(a.s, b.s)) /
                CAST(len(a.s) AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS cont
            FROM sh a JOIN sh b
              ON ((len(a.s) < len(b.s)) OR
                  (len(a.s) = len(b.s) AND a.doc_id < b.doc_id)))
          SELECT inner_id, outer_id, cont FROM pairs WHERE cont >= 0.8""",
    "q166_phash_dedup" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                      octet_length(encode(text)) AS n
                    FROM documents),
          by AS (SELECT doc_id, i % 64 AS k,
                   (16*(strpos('0123456789ABCDEF',
                               substr(h, 2*i+1, 1))-1)
                    + (strpos('0123456789ABCDEF',
                              substr(h, 2*i+2, 1))-1))::BIGINT AS v
                 FROM (SELECT doc_id, h, n, unnest(range(0, n)) AS i
                       FROM b)),
          bk AS (SELECT doc_id, k, sum(v) AS sk, count(*) AS ck
                 FROM by GROUP BY 1, 2),
          tot AS (SELECT doc_id, sum(v) AS tv, count(*) AS tn
                  FROM by GROUP BY 1),
          grid AS (SELECT doc_id, unnest(range(0, 64)) AS k FROM b),
          bits AS (SELECT g.doc_id, g.k,
                     CASE WHEN coalesce(bk.sk, 0) * tot.tn
                            > tot.tv * coalesce(bk.ck, 0)
                          THEN 1 ELSE 0 END AS bit
                   FROM grid g
                   JOIN tot ON g.doc_id = tot.doc_id
                   LEFT JOIN bk ON g.doc_id = bk.doc_id AND g.k = bk.k),
          ham AS (SELECT a.doc_id AS id1, c.doc_id AS id2,
                    sum(CASE WHEN a.bit <> c.bit THEN 1 ELSE 0 END)
                      AS dist
                  FROM bits a JOIN bits c
                    ON a.k = c.k AND a.doc_id < c.doc_id
                  GROUP BY 1, 2)
         SELECT id1, id2, CAST(dist AS INT) AS dist
         FROM ham WHERE dist <= 3""",
    "q159_minhash_estimate" -> s"""
      WITH toks AS (
        SELECT doc_id, $duckToks AS t FROM documents),
      sh AS (
        SELECT doc_id, $duckShingles3 AS s FROM toks),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          floor((len(list_intersect(a.s, b.s)) /
            CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                 AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT id1, id2, jac, TRUE AS est_ok
      FROM pairs WHERE jac >= $NearDupJ""",
    "q44_embed_neardup" ->
      """SELECT id1, id2, sim FROM (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
             floor((list_cosine_similarity(
               a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id) t
         WHERE sim >= 0.4""",
    "q45_knn_brute" ->
      """WITH sims AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor((list_cosine_similarity(
               q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 5)
         SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY sim DESC, neighbor_id) AS rank
         FROM sims QUALIFY rank <= 10""",
    "q110_hard_negatives" ->
      """WITH sims AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor((list_cosine_similarity(
               q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
           FROM embeddings q JOIN embeddings c ON c.label != q.label
           WHERE q.vec_id < 5)
         SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY sim DESC, neighbor_id) AS rank
         FROM sims QUALIFY rank <= 10""",
    "q111_znorm" ->
      """WITH ex AS (SELECT vec_id, label,
            unnest(list_zip(embedding::DOUBLE[],
              generate_series(1, len(embedding)))) AS z
          FROM embeddings),
          e AS (SELECT vec_id, label, z[2]::BIGINT AS pos,
                  z[1]::DOUBLE AS x FROM ex),
          st AS (SELECT label, pos, avg(x) AS mu,
                   nullif(stddev_samp(x), 0) AS sd FROM e GROUP BY 1, 2),
          zz AS (SELECT vec_id, (x - mu) / sd AS zv
                 FROM e JOIN st USING (label, pos))
         SELECT vec_id, floor((sum(zv)) * 1e4 + 0.5) / 1e4 + 0 AS z_sum,
           floor((min(zv)) * 1e4 + 0.5) / 1e4 + 0 AS z_min,
           floor((max(zv)) * 1e4 + 0.5) / 1e4 + 0 AS z_max
         FROM zz GROUP BY 1""",
    // q46: replay of the IVF routing in SQL — float-cast per-label
    // centroids, 6-dp-rounded probe cosine (label tiebreak), top-3
    // cells, then the exact in-cell top-10.
    "q46_knn_ivf" ->
      """WITH ex AS (SELECT label, unnest(list_zip(embedding::DOUBLE[],
                      generate_series(1, len(embedding)))) AS z
                    FROM embeddings),
          e AS (SELECT label, z[2]::BIGINT AS pos, z[1]::DOUBLE AS x
                FROM ex),
          cent AS (SELECT label, pos, avg(x) AS cv FROM e GROUP BY 1, 2),
          cf AS (SELECT label,
                   list_transform(list(cv ORDER BY pos),
                     v -> CAST(CAST(v AS REAL) AS DOUBLE)) AS c
                 FROM cent GROUP BY 1),
          probes AS (
            SELECT query_id, label FROM (
              SELECT q.vec_id AS query_id, cf.label,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY floor((list_cosine_similarity(
                    q.embedding::DOUBLE[], cf.c)) * 1e6 + 0.5) / 1e6 DESC, cf.label)
                  AS crank
              FROM embeddings q, cf WHERE q.vec_id < 5) t
            WHERE crank <= 3),
          sims AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              floor((list_cosine_similarity(
                q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
            FROM embeddings q
            JOIN probes p ON p.query_id = q.vec_id
            JOIN embeddings c ON c.label = p.label AND c.vec_id != q.vec_id
            WHERE q.vec_id < 5)
          SELECT query_id, neighbor_id, sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rank
          FROM sims QUALIFY rank <= 10""",
    // q94: IVF at full probe == the exact top-k — oracle is q45's
    // exact-kNN SQL verbatim.
    "q94_ivf_fullprobe" ->
      """WITH sims AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor((list_cosine_similarity(
               q.embedding::DOUBLE[], c.embedding::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS sim
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 5)
         SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY sim DESC, neighbor_id) AS rank
         FROM sims QUALIFY rank <= 10""",
    // q42: bit-exact signature replay — polyHash62 per token (two
    // 31-bit BIGINT folds packed), ±1 bit sums, sign → bit. Bits 62-63
    // are constant 0 on the engine side, so the oracle sums bits 0-61.
    "q42_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
          th AS (SELECT doc_id,
                   (list_reduce(list_prepend(0::BIGINT, cps),
                      (a, x) -> (a * 31 + x) % 2147483647) << 31)
                   | list_reduce(list_prepend(0::BIGINT, cps),
                      (a, x) -> (a * 131 + x) % 2147483629) AS h
                 FROM (SELECT doc_id,
                         list_transform(range(1, length(tok) + 1),
                           i -> unicode(substr(tok, i::INT, 1))::BIGINT)
                           AS cps
                       FROM tok)),
          bits AS (SELECT doc_id, j,
                     sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)
                       AS s
                   FROM th, (SELECT unnest(range(0, 62)) AS j) u
                   GROUP BY 1, 2)
          SELECT doc_id,
            CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END)
              AS BIGINT) AS simhash
          FROM bits GROUP BY 1""",
    // q95: SimHash(d<=16) ∩ exact(J>=0.8) == exact set iff SimHash
    // recall is 1 on this corpus (see the query comment).
    "q95_simhash_verify" -> duckJaccardPairs(0.8, sameLang = true),
    "q97_repetition" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS t FROM documents),
          ng AS (
            SELECT doc_id,
              [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               for i in range(1, len(t) - 1)] AS g
            FROM toks),
          dup AS (
            SELECT doc_id,
              CASE WHEN len(g) = 0 THEN 0.0
                   ELSE floor((1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                              / CAST(len(g) AS DOUBLE)) * 1e6 + 0.5) / 1e6
              END AS dup_ngram_frac
            FROM ng),
          cnt AS (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
            GROUP BY 1, 2),
          top AS (
            SELECT doc_id,
              floor((CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                AS top_tok_frac
            FROM cnt GROUP BY 1)
          SELECT d.doc_id, d.dup_ngram_frac,
            coalesce(t.top_tok_frac, 0.0) AS top_tok_frac
          FROM dup d LEFT JOIN top t USING (doc_id)""",
    "q47_media_bytes" ->
      """SELECT doc_id, 'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         FROM documents""",
    "q85_resize_stub" ->
      """SELECT doc_id,
           CAST(least(octet_length(encode(text)), 128) AS BIGINT)
             AS n_bytes
         FROM documents""",
    // Stub-kernel features are pure byte arithmetic (fold (a*31+b) mod
    // 1e9+7 over the UTF-8 payload), so the oracle recomputes them in
    // SQL: bytes come from hex(encode(text)) two-nibble slices (DuckDB
    // 1.0 has no get_byte), the fold is list_reduce with a prepended 0
    // accumulator (mirrors Scala foldLeft(0L)).
    "q48_decode_stub" ->
      """WITH b AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS n
           FROM documents),
         f AS (
           SELECT doc_id, n::BIGINT AS n_bytes,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(range(0, n),
                   i -> (16*(strpos('0123456789ABCDEF',
                                    substr(h, 2*i+1, 1))-1)
                         + (strpos('0123456789ABCDEF',
                                   substr(h, 2*i+2, 1))-1))::BIGINT)),
               (a, x) -> (a*31 + x) % 1000000007) AS checksum
           FROM b)
         SELECT doc_id, n_bytes, checksum,
           (64 + checksum % 512)::INT AS width,
           (64 + (checksum // 512) % 512)::INT AS height
         FROM f""",
    // Frame slicing mirrors StubMediaKernel.sampleFrames: frame f of
    // min(4, n) starts at (f*n)//4 with length min(start+max(1,n//4),n)
    // minus start; checksum folds the slice bytes like q48.
    "q86_frames_stub" ->
      """WITH b AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS n
           FROM documents),
         fr AS (
           SELECT doc_id, h, n, unnest(range(0, least(4, n))) AS f
           FROM b),
         s AS (
           SELECT doc_id, f, h,
             (f * n) // 4 AS st,
             least((f*n)//4 + greatest(1, n//4), n) - (f*n)//4 AS sl
           FROM fr)
         SELECT doc_id, f::INT AS frame_idx, sl::INT AS frame_bytes,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(range(0, sl),
               i -> (16*(strpos('0123456789ABCDEF',
                                substr(h, 2*(st+i)+1, 1))-1)
                     + (strpos('0123456789ABCDEF',
                               substr(h, 2*(st+i)+2, 1))-1))::BIGINT)),
             (a,x) -> (a*31+x) % 1000000007) AS checksum
         FROM s""",
    "q79_dedup_clusters" -> duckCcClusters,
    "q224_ngram_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, unnest($duckShingles3) AS s FROM toks),
          f AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY 1)
          SELECT sh.doc_id,
            CAST(count(*) AS BIGINT) AS n_shingles,
            CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel,
            floor((CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6 AS novelty
          FROM sh JOIN f USING (s)
          GROUP BY 1""",
    "q222_canonical_pick" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, lang, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles3 AS s FROM toks),
          jp AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              floor((len(list_intersect(a.s, b.s)) /
                CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                     AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS jac
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          pairs AS (SELECT id1, id2 FROM jp WHERE jac >= $NearDupJ),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          comp AS (SELECT a AS id, least(a, min(b)) AS comp
                   FROM reach GROUP BY a),
          j AS (SELECT c.comp AS cluster, c.id, d.n_chars
                FROM comp c JOIN documents d ON d.doc_id = c.id),
          r AS (SELECT *,
                  row_number() OVER (PARTITION BY cluster
                    ORDER BY n_chars DESC, id) AS rn,
                  count(*) OVER (PARTITION BY cluster) AS n_members
                FROM j)
          SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
            id AS kept_doc, n_chars AS kept_chars
          FROM r WHERE rn = 1""",
    "q122_leakfree_split" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, lang, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles3 AS s FROM toks),
          jp AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              floor((len(list_intersect(a.s, b.s)) /
                CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                     AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS jac
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          pairs AS (SELECT id1, id2 FROM jp WHERE jac >= $NearDupJ),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          comp AS (SELECT a AS id, least(a, min(b)) AS comp
                   FROM reach GROUP BY a),
          lab AS (SELECT d.doc_id,
                    coalesce(c.comp, d.doc_id) AS cluster
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
          SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
            CASE WHEN ((cluster % 1000003) * 2654435761)
                      % 1000003 % 10 < 8 THEN 'train'
                 WHEN ((cluster % 1000003) * 2654435761)
                      % 1000003 % 10 = 8 THEN 'val'
                 ELSE 'test' END AS split
          FROM lab""",
    // same ground truth as q79 — the star algorithm must produce
    // identical labels
    "q102_cc_star" -> duckCcClusters,
    "q101_srp_semantic" ->
      """WITH u AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           UNION ALL
           SELECT vec_id + 100000,
             list_transform(embedding::DOUBLE[], x -> x * 2.0)
           FROM embeddings)
         SELECT id1, id2, sim FROM (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
             floor((list_cosine_similarity(a.v, b.v)) * 1e6 + 0.5) / 1e6 AS sim
           FROM u a JOIN u b ON a.vec_id < b.vec_id) t
         WHERE sim >= 0.95""",
    "q90_curation" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          sh AS (SELECT doc_id, $duckShingles3 AS s FROM toks),
          jp AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              floor((len(list_intersect(a.s, b.s)) /
                CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                     AS DOUBLE)) * 1e3 + 0.5) / 1e3 AS jac
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          pairs AS (SELECT id1, id2 FROM jp WHERE jac >= $NearDupJ),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          comps AS (SELECT a AS id, least(a, min(b)) AS comp
                    FROM reach GROUP BY a),
          nonreps AS (SELECT id FROM comps WHERE id != comp),
          flagged AS (
            SELECT doc_id, lang, text FROM documents
            WHERE n_chars BETWEEN 150 AND 600
              AND floor(((length(text) -
                    length(regexp_replace(text, '[0-9]', '', 'g'))) /
                    CAST(length(text) AS DOUBLE)) * 1e6 + 0.5) / 1e6 < 0.05),
          exact AS (
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                min(doc_id) OVER (PARTITION BY text) AS keep_id
              FROM flagged) t
            WHERE doc_id = keep_id)
          SELECT doc_id, lang FROM exact
          WHERE doc_id NOT IN (SELECT id FROM nonreps)
            AND doc_id % 2 = 0""",
    "q89_quantize" ->
      """WITH q AS (
           SELECT vec_id,
             list_max(list_transform(embedding::DOUBLE[],
               x -> abs(x))) AS maxabs,
             embedding::DOUBLE[] AS e
           FROM embeddings),
         qq AS (
           SELECT vec_id,
             list_transform(e, x ->
               CASE WHEN maxabs = 0.0 THEN 0
                    ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS INT)
               END) AS qvec,
             maxabs / 127.0 AS scale
           FROM q)
         SELECT vec_id,
           CAST(list_sum(qvec) AS BIGINT) AS qsum,
           list_max(qvec) AS qmax,
           round(scale, 6) AS scale
         FROM qq""",
    "q87_bm25" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          wl AS (SELECT doc_id, t, len(t) AS dl FROM toks),
          stats AS (SELECT avg(dl) AS avgdl,
                           CAST(count(*) AS DOUBLE) AS n FROM wl),
          ex AS (SELECT doc_id, dl, unnest(t) AS tok FROM wl),
          tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
                 FROM ex GROUP BY 1, 2),
          dft AS (SELECT tok, count(*) AS df FROM
                    (SELECT DISTINCT doc_id, tok FROM ex) GROUP BY 1),
          scored AS (
            SELECT doc_id, tok,
              floor((ln((stats.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))) * 1e6 + 0.5) / 1e6 AS bm25
            FROM tf JOIN dft USING (tok) CROSS JOIN stats)
          SELECT doc_id, tok, bm25, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY bm25 DESC, tok) AS rn
            FROM scored) t
          WHERE rn <= 3""",
    "q193_rrf_fusion" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          wl AS (SELECT doc_id, t, len(t) AS dl FROM toks),
          stats AS (SELECT avg(dl) AS avgdl,
                           CAST(count(*) AS DOUBLE) AS n FROM wl),
          nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
                 FROM documents),
          ex AS (SELECT doc_id, dl, unnest(t) AS tok FROM wl),
          tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
                 FROM ex GROUP BY 1, 2),
          dft AS (SELECT tok, count(*) AS df FROM
                    (SELECT DISTINCT doc_id, tok FROM ex) GROUP BY 1),
          s1 AS (SELECT doc_id, floor((sum(floor((ln((stats.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6 AS s1
                 FROM tf JOIN dft USING (tok) CROSS JOIN stats
                 WHERE tok IN ('hash', 'join') GROUP BY 1),
          s2 AS (SELECT doc_id, floor((sum(floor((tf.tf * ln(nn.n / dft.df)) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6 AS s2
                 FROM tf JOIN dft USING (tok) CROSS JOIN nn
                 WHERE tok IN ('hash', 'join') GROUP BY 1),
          r1 AS (SELECT doc_id, row_number() OVER
                   (ORDER BY s1 DESC, doc_id) AS r1
                 FROM s1 QUALIFY r1 <= 100),
          r2 AS (SELECT doc_id, row_number() OVER
                   (ORDER BY s2 DESC, doc_id) AS r2
                 FROM s2 QUALIFY r2 <= 100)
          SELECT doc_id, r1, r2,
            floor((coalesce(1.0 / (60 + r1), 0)
                  + coalesce(1.0 / (60 + r2), 0)) * 1e6 + 0.5) / 1e6 AS rrf
          FROM r1 FULL OUTER JOIN r2 USING (doc_id)""",
    "q88_content_flags" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+'))
             AS n_emails,
           len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls,
           len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
           floor(((length(text) -
             length(regexp_replace(text, '[0-9]', '', 'g'))) /
             CAST(length(text) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS digit_ratio
         FROM documents""",
    "q80_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
          tf AS (SELECT doc_id, tok, count(*) AS tf FROM ex GROUP BY 1, 2),
          dft AS (SELECT tok, count(*) AS df FROM
                    (SELECT DISTINCT doc_id, tok FROM ex) GROUP BY 1),
          nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
                 FROM documents),
          scored AS (
            SELECT doc_id, tok,
              floor((tf * ln(nn.n / dft.df)) * 1e6 + 0.5) / 1e6 AS tfidf
            FROM tf JOIN dft USING (tok) CROSS JOIN nn)
          SELECT doc_id, tok, tfidf, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, tok) AS rn
            FROM scored) t
          WHERE rn <= 3""",
    "q50_langid" ->
      s"""WITH toks AS (SELECT lang, $duckToks AS t FROM documents)
          SELECT lang, $duckLangIdCase AS predicted, count(*) AS n
          FROM toks GROUP BY 1, 2""",
    "q51_quality" ->
      s"""WITH toks AS (SELECT doc_id, text, $duckToks AS t FROM documents)
          SELECT doc_id,
            length(text) AS n_chars_q,
            len(t) AS n_tokens,
            floor((list_sum(list_transform(t, x -> length(x)))
                  / CAST(len(t) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS avg_token_len,
            floor((${duckMarkerScore(TextOps.markers.toMap.apply("en"))}
                  / CAST(len(t) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS stopword_ratio,
            floor(((length(text) - length(replace(text, ' ', '')))
                  / CAST(length(text) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS space_ratio
          FROM toks""",
    "q52_token_stats" ->
      """SELECT doc_id,
           len(regexp_split_to_array(trim(text), ' +')) AS n_ws,
           len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_bpe
         FROM documents""",
    "q53_fingerprint" ->
      s"""SELECT doc_id,
          CAST(${TextOps.charChecksumExpr("text")} AS BIGINT) AS fp
          FROM documents"""
  )
}
