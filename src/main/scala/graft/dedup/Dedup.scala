package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, GraftReleaseBridge,
  functions => F}
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, exact n-gram Jaccard. All are
  * shuffle-on-compact-keys plans (doc ids + 64-bit hashes), never on
  * document text — the property that keeps them viable at 100 TB.
  */
object Dedup {

  /** Exact dedup: canonical representative = min(idCol) per exact key
    * (one hash shuffle on the key; with a text key, pre-hash to
    * xxhash64 so the shuffle carries 8-byte keys — collisions are
    * 2^-64-rare and only merge *identical-hash* groups).
    */
  def exactDups(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(F.col(keyCol))
    df.withColumn("keep_id", F.min(F.col(idCol)).over(w))
      .withColumn("is_dup", F.col(idCol) =!= F.col("keep_id"))
  }

  // ---- MinHash + banded LSH ------------------------------------------

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Independent hash family h_i = xxhash64(h XOR c_i): xor+rehash of
    * the base 64-bit shingle hash. Overflow-free (ANSI-mode safe, unlike
    * the classic affine (a*h+b) family) and each c_i is a fixed
    * golden-ratio multiple, so the family is deterministic. */
  private def permExpr(i: Int): String = {
    val c = i * 0x9E3779B97F4A7C15L // wraps at compile time: constant
    s"xxhash64(h ^ ${c}L)"
  }

  /** MinHash signatures from a distinct-shingle array column:
    * explode → xxhash64 → one groupBy(doc) computing all 64 mins
    * (partial aggregation map-side; shuffle rows are (id, 64×8B)).
    */
  def minhashSignatures(df: DataFrame, idCol: String,
                        shCol: String): DataFrame = {
    val ex = df.select(F.col(idCol), F.explode(F.col(shCol)).as("sh"))
      .withColumn("h", F.xxhash64(F.col("sh")))
    val mins = (0 until NumHashes).map(i =>
      F.min(F.expr(permExpr(i))).as(s"mh_$i"))
    ex.groupBy(F.col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** (id, band, bandHash) rows of a signature frame — the LSH index
    * relation both the self-join candidates ([[lshCandidates]]) and the
    * incremental batch-vs-corpus join ([[minhashNearDupsAgainst]])
    * build on. At 100 TB this IS the materialized dedup index: persist
    * it partitioned by (band, bh) and every new batch joins against it
    * without touching the corpus text. */
  def bandHashes(sigs: DataFrame, idCol: String): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand)
        .map(r => s"mh_${b * RowsPerBand + r}").mkString(", ")
      s"struct($b as band, xxhash64($cols) as bh)"
    }.mkString(", ")
    sigs
      .select(F.col(idCol),
        F.explode(F.expr(s"array($bandStructs)")).as("band"))
  }

  /** Banded LSH candidate pairs: hash each band of the signature,
    * group docs by (band, bandHash), emit intra-bucket pairs (id1<id2).
    * Bucket lists are bounded in practice; enormous buckets mean
    * near-identical boilerplate docs — exactly what dedup must find.
    */
  def lshCandidates(sigs: DataFrame, idCol: String): DataFrame = {
    bandHashes(sigs, idCol)
      .groupBy(F.col("band.band"), F.col("band.bh"))
      .agg(F.sort_array(F.collect_list(F.col(idCol))).as("ids"))
      .filter(F.size(F.col("ids")) > 1)
      .select(F.explode(F.expr(
        """flatten(transform(ids, (x, i) ->
             transform(slice(ids, i + 2, size(ids)), y ->
               struct(x as id1, y as id2))))""")).as("p"))
      .select(F.col("p.id1"), F.col("p.id2"))
      .distinct()
  }

  /** Exact Jaccard on candidate pairs: join the shingle sets back and
    * compute |∩|/|∪| — candidates only, so the expensive set math runs
    * on O(duplicates), not O(n²). */
  def verifiedJaccard(cands: DataFrame, docs: DataFrame, idCol: String,
                      shCol: String): DataFrame = {
    val a = docs.select(F.col(idCol).as("id1"), F.col(shCol).as("sh1"))
    val b = docs.select(F.col(idCol).as("id2"), F.col(shCol).as("sh2"))
    cands.join(a, "id1").join(b, "id2")
      .withColumn("jac",
        F.expr("""size(array_intersect(sh1, sh2)) /
                  cast(size(array_union(sh1, sh2)) as double)"""))
      .select(F.col("id1"), F.col("id2"),
        (F.floor(F.col("jac") * 1e3 + 0.5) / 1e3).as("jac"))
  }

  /** MinHash near-dup pipeline: signatures → LSH buckets → exact verify
    * → threshold. Detection probability for J≥0.8 with 16 bands × 4
    * rows is 1-(1-0.8^4)^16 ≈ 0.9998; exact-verify removes all false
    * positives, so output = true pairs modulo that tiny miss rate.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, shCol: String,
                      threshold: Double): DataFrame = {
    // NOTE: persisting the shingled projection was measured and does
    // NOT help here — Spark's exchange reuse already avoids duplicate
    // shingle computation across the signature build and verify join.
    val sigs = minhashSignatures(docs, idCol, shCol)
    val cands = lshCandidates(sigs, idCol)
    verifiedJaccard(cands, docs, idCol, shCol)
      .filter(F.col("jac") >= threshold)
  }

  /** Incremental-ingest near-dup: pairs between an INCOMING batch
    * (id1) and an EXISTING corpus (id2) only — never existing×existing.
    * The candidate step is a plain equi-join of the two sides' band
    * relations on (band, bandHash), so daily ingest pays for the
    * batch's band matches, not a corpus self-join; at scale the
    * existing side's [[bandHashes]] is a persisted index the batch
    * joins against (partition by (band, bh) → co-located probe).
    * Same 16×4 banding and exact-Jaccard verify as [[minhashNearDups]].
    */
  def minhashNearDupsAgainst(incoming: DataFrame, existing: DataFrame,
                             idCol: String, shCol: String,
                             threshold: Double): DataFrame = {
    def side(df: DataFrame, as: String) =
      bandHashes(minhashSignatures(df, idCol, shCol), idCol)
        .select(F.col(idCol).as(as), F.col("band.band").as("band"),
          F.col("band.bh").as("bh"))
    val cands = side(incoming, "id1")
      .join(side(existing, "id2"), Seq("band", "bh"))
      .select("id1", "id2").distinct()
    val a = incoming.select(F.col(idCol).as("id1"), F.col(shCol).as("sh1"))
    val b = existing.select(F.col(idCol).as("id2"), F.col(shCol).as("sh2"))
    cands.join(a, "id1").join(b, "id2")
      .withColumn("jac",
        F.expr("""size(array_intersect(sh1, sh2)) /
                  cast(size(array_union(sh1, sh2)) as double)"""))
      .select(F.col("id1"), F.col("id2"),
        (F.floor(F.col("jac") * 1e3 + 0.5) / 1e3).as("jac"))
      .filter(F.col("jac") >= threshold)
  }

  // ---- Exact n-gram Jaccard via inverted index ------------------------

  /** All pairs with Jaccard >= threshold, computed EXACTLY via an
    * inverted shingle index: explode → self-join on shingle → count
    * common per pair → |∪| = |A|+|B|-common. The join key is an 8-byte
    * shingle hash.
    *
    * Scale note: ultra-common "stop shingles" make the self-join emit
    * Σdf² candidate rows — the one blow-up in this plan. `dfCap` drops
    * shingles whose document frequency exceeds the cap BEFORE the join
    * (one extra count-over-window on the same key the join shuffles
    * on). The trade is explicit and one-sided: dropped shingles shrink
    * `common` only, so `jac` is UNDERCOUNTED — pairs can fall below the
    * threshold, never rise above it; with the cap above the corpus's
    * max df the output is bit-identical (asserted in PipelineSpec).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, shCol: String,
                   threshold: Double,
                   blockCols: Seq[String] = Nil,
                   dfCap: Option[Long] = None): DataFrame = {
    val base = docs
      .select(F.col(idCol) +: F.col(shCol) +: blockCols.map(F.col): _*)
      .withColumn("sz", F.size(F.col(shCol)))
    val ex0 = base.select(
      (F.col(idCol) +: F.col("sz") +: blockCols.map(F.col)) :+
        F.explode(F.col(shCol)).as("shv"): _*)
      .withColumn("shh", F.xxhash64(F.col("shv"))).drop("shv")
    val ex = dfCap match {
      case Some(cap) =>
        val w = Window.partitionBy((Seq("shh") ++ blockCols).map(F.col): _*)
        ex0.withColumn("__df", F.count(F.lit(1)).over(w))
          .filter(F.col("__df") <= cap).drop("__df")
      case None => ex0
    }
    val joinCond = (Seq("shh") ++ blockCols).map(c =>
      F.col(s"a.$c") === F.col(s"b.$c")).reduce(_ && _) &&
      F.col(s"a.$idCol") < F.col(s"b.$idCol")
    ex.as("a").join(ex.as("b"), joinCond)
      .groupBy(F.col(s"a.$idCol").as("id1"), F.col(s"b.$idCol").as("id2"),
        F.col("a.sz").as("sz1"), F.col("b.sz").as("sz2"))
      .agg(F.count(F.lit(1)).as("common"))
      .withColumn("jac", F.floor(
        F.col("common") / (F.col("sz1") + F.col("sz2") - F.col("common"))
          * 1e3 + 0.5) / 1e3)
      .filter(F.col("jac") >= threshold)
      .select("id1", "id2", "jac")
  }

  /** All pairs with Jaccard >= tauNum/tauDen, computed EXACTLY via
    * PREFIX FILTERING (the AllPairs/PPJoin family: Chaudhuri et al.
    * ICDE'06, Bayardo et al. WWW'07). Same output contract as
    * [[jaccardPairs]], different — and strictly better at scale —
    * candidate generation:
    *
    * Every doc's shingles are ranked by GLOBAL RARITY (ascending df,
    * hash tiebreak). For J(A,B) >= τ the intersection has o >=
    * ⌈τ·max(|A|,|B|)⌉ elements; take t = the FIRST common shingle in
    * the global order. All o common shingles sit at t's rank or later
    * in BOTH docs, so rank(t in A) <= |A| − o + 1 <= |A| − ⌈τ·|A|⌉ + 1
    * = p_A (and symmetrically for B): every qualifying pair collides
    * inside the two PREFIXES, and the candidate join is prefix ×
    * prefix — Σ_t df_prefix(t)² volume, with stop-shingles (large df,
    * so far beyond any prefix) never entering the index at all. Two
    * further prunes run inside the join: the length filter
    * min·den >= max·num, and PPJoin's positional filter — at the
    * colliding ranks (i, j) the overlap can be at most
    * min(|A|−i, |B|−j)+1, which must reach the pair's overlap bound
    * ⌈τ/(1+τ)·(|A|+|B|)⌉ (valid for t = the first common shingle,
    * where it prunes nothing real; it only kills collisions that
    * cannot be a first common shingle of a qualifying pair). Unlike
    * `dfCap` this loses NOTHING — no one-sided undercount — which is
    * why it is the default scale path for unblocked corpora.
    *
    * The threshold is a RATIONAL (num/den): prefix lengths and overlap
    * bounds need exact integer ceilings — ceil(0.8·10) through doubles
    * is ceil(8.000…2) = 9, silently shortening the prefix below
    * completeness.
    */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, shCol: String,
                         tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold $tauNum/$tauDen outside (0, 1]")
    // The OUTPUT contract filters on the 3-dp-ROUNDED jac >= τ, so a
    // pair with true jac in [τ − 0.0005, τ) must still reach the
    // verify stage (it rounds UP to τ). Candidate pruning therefore
    // runs at the widened rational τ' = τ − 1/2000 =
    // (2000·num − den) / (2000·den); the exact-τ bounds would prune
    // exactly those knife-edge pairs and diverge from the all-pairs
    // oracle on unlucky data. Intermediates are cast to BIGINT — the
    // widened numerators (e.g. 1998/4000 for τ = 1/2) push sz·num
    // past int32 for million-shingle docs.
    val pNum = 2000L * tauNum - tauDen
    val pDen = 2000L * tauDen
    require(pNum > 0, s"threshold $tauNum/$tauDen too small to widen")
    val base = docs.select(F.col(idCol).as("id"), F.col(shCol).as("sh"))
      .withColumn("sz", F.size(F.col("sh")))
      .filter(F.col("sz") > 0)
    val ex = base.select(F.col("id"), F.col("sz"),
        F.explode(F.col("sh")).as("shv"))
      .withColumn("shh", F.xxhash64(F.col("shv"))).drop("shv")
    // document frequency via a count window over the shh partition —
    // ONE shuffle of the exploded relation where the groupBy(shh) +
    // join-back form shuffled it twice (round 12; identical df values,
    // identical ranks, so downstream prefixes and pairs are unchanged)
    val ranked = ex
      .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shh")))
      .withColumn("rn", F.row_number().over(
        Window.partitionBy("id").orderBy("df", "shh")))
    val prefix = ranked.filter(F.col("rn") <= F.col("sz")
      - F.expr(s"(cast(sz as bigint) * $pNum + ${pDen - 1}) div $pDen")
      + 1)
    val cands = prefix
      .select(F.col("id").as("ida"), F.col("sz").as("sza"),
        F.col("rn").as("rna"), F.col("shh"))
      .join(prefix.select(F.col("id").as("idb"), F.col("sz").as("szb"),
        F.col("rn").as("rnb"), F.col("shh")), "shh")
      .filter(F.col("ida") < F.col("idb"))
      .filter(F.least(F.col("sza"), F.col("szb")).cast("long") * pDen >=
        F.greatest(F.col("sza"), F.col("szb")).cast("long") * pNum)
      // positional filter: remaining capacity at the colliding ranks
      // must reach the pair overlap bound ⌈τ'/(1+τ')·(szA+szB)⌉
      .filter(
        F.least(F.col("sza") - F.col("rna"), F.col("szb") - F.col("rnb"))
          + 1 >=
        F.expr(s"""(($pNum * cast(sza + szb as bigint))
                    + ${pNum + pDen} - 1) div ${pNum + pDen}"""))
      .select(F.col("ida").as("id1"), F.col("idb").as("id2"))
      .distinct()
    val a = base.select(F.col("id").as("id1"), F.col("sh").as("sh1"))
    val b = base.select(F.col("id").as("id2"), F.col("sh").as("sh2"))
    cands.join(a, "id1").join(b, "id2")
      .withColumn("jac", F.floor(
        F.expr("""size(array_intersect(sh1, sh2)) /
                  cast(size(array_union(sh1, sh2)) as double)""")
          * 1e3 + 0.5) / 1e3)
      .filter(F.col("jac") >= F.lit(tauNum.toDouble / tauDen))
      .select("id1", "id2", "jac")
  }

  /** Containment join: pairs where C(A,B) = |A∩B| / |A| >= τ with
    * |A| <= |B| — the SUBSET/SUPERSET near-dup detector (a passage or
    * doc wholly absorbed into a larger one), which Jaccard misses
    * because the size-ratio filter kills small-in-big pairs by
    * construction.
    *
    * Candidate generation is AllPairs-style prefix filtering adapted
    * to the asymmetric threshold: the overlap bound o >= ⌈τ·|A|⌉
    * depends on the SMALLER side only, so A (probe) contributes its
    * rarity-ordered prefix of |A| − ⌈τ·|A|⌉ + 1 shingles while B
    * (index) must carry full rarity-ranked postings — B's prefix
    * cannot be bounded without knowing its partner's size. The volume
    * guard is the rarity order itself: candidates = Σ_{probe-prefix
    * shingles} df, and probe prefixes hold each doc's RAREST shingles,
    * so stop-shingles never probe. PPJoin's positional filter applies
    * on both ranks: at colliding ranks (i, j) the extendable overlap
    * min(|A|−i, |B|−j)+1 must reach ⌈τ·|A|⌉.
    *
    * Output: (inner_id, outer_id, cont) — inner contained in outer; pairs
    * with |A| = |B| emit once with inner = smaller id. Threshold is a
    * rational num/den for exact integer ceilings (see
    * [[jaccardPairsPrefix]]).
    */
  def containmentPairsPrefix(docs: DataFrame, idCol: String,
                             shCol: String, tauNum: Int,
                             tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold $tauNum/$tauDen outside (0, 1]")
    val base = docs.select(F.col(idCol).as("id"), F.col(shCol).as("sh"))
      .withColumn("sz", F.size(F.col("sh")))
      .filter(F.col("sz") > 0)
    // Same knife-edge widening as [[jaccardPairsPrefix]]: the output
    // filter is on 3-dp-rounded cont, so pruning runs at
    // τ' = τ − 1/2000 to keep pairs that round UP to τ.
    val pNum = 2000L * tauNum - tauDen
    val pDen = 2000L * tauDen
    require(pNum > 0, s"threshold $tauNum/$tauDen too small to widen")
    val ex = base.select(F.col("id"), F.col("sz"),
        F.explode(F.col("sh")).as("shv"))
      .withColumn("shh", F.xxhash64(F.col("shv"))).drop("shv")
    // document frequency via a count window over the shh partition —
    // ONE shuffle of the exploded relation where the groupBy(shh) +
    // join-back form shuffled it twice (round 12; identical df values,
    // identical ranks, so downstream prefixes and pairs are unchanged)
    val ranked = ex
      .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shh")))
      .withColumn("rn", F.row_number().over(
        Window.partitionBy("id").orderBy("df", "shh")))
    // probe side: prefix only; index side: full postings (rank kept
    // for the positional filter)
    val probe = ranked.filter(F.col("rn") <= F.col("sz")
      - F.expr(s"(cast(sz as bigint) * $pNum + ${pDen - 1}) div $pDen")
      + 1)
    val cands = probe
      .select(F.col("id").as("ida"), F.col("sz").as("sza"),
        F.col("rn").as("rna"), F.col("shh"))
      .join(ranked.select(F.col("id").as("idb"), F.col("sz").as("szb"),
        F.col("rn").as("rnb"), F.col("shh")), "shh")
      .filter(F.col("sza") < F.col("szb") ||
        (F.col("sza") === F.col("szb") && F.col("ida") < F.col("idb")))
      .filter(
        F.least(F.col("sza") - F.col("rna"), F.col("szb") - F.col("rnb"))
          + 1 >=
        F.expr(s"(cast(sza as bigint) * $pNum + ${pDen - 1}) div $pDen"))
      .select(F.col("ida").as("inner_id"), F.col("idb").as("outer_id"))
      .distinct()
    val a = base.select(F.col("id").as("inner_id"), F.col("sh").as("sh1"))
    val b = base.select(F.col("id").as("outer_id"), F.col("sh").as("sh2"))
    cands.join(a, "inner_id").join(b, "outer_id")
      .withColumn("cont", F.floor(
        F.expr("""size(array_intersect(sh1, sh2)) /
                  cast(size(sh1) as double)""")
          * 1e3 + 0.5) / 1e3)
      .filter(F.col("cont") >= F.lit(tauNum.toDouble / tauDen))
      .select("inner_id", "outer_id", "cont")
  }

  /** Cross-group contamination matrix: Jaccard overlap of the distinct
    * shingle sets of each pair of groups (sources, datasets, splits) —
    * the corpus-level dedup report run before mixing datasets, where
    * document-level dedup would miss systematic boilerplate shared
    * between two crawls.
    *
    * Plan: explode to (group, shingle-hash) distinct — the only big
    * shuffle, on compact keys — then a self-equi-join on the shingle
    * hash restricted to g1 < g2 and one groupBy on the group PAIR.
    * Output is O(groups²) rows, tiny by construction. Ultra-common
    * shingles fan the self-join out by df² like [[jaccardPairs]] — at
    * corpus scale pass the same style of df cap upstream if needed.
    * Output: (g1, g2, common, n1, n2, jac).
    */
  def groupShingleOverlap(docs: DataFrame, groupCol: String,
                          shCol: String): DataFrame = {
    val gs = docs
      .select(F.col(groupCol).as("g"), F.explode(F.col(shCol)).as("sh"))
      .distinct()
    val sizes = gs.groupBy("g").agg(F.count(F.lit(1)).as("n"))
    val common = gs.select(F.col("g").as("g1"), F.col("sh"))
      .join(gs.select(F.col("g").as("g2"), F.col("sh")), Seq("sh"))
      .filter(F.col("g1") < F.col("g2"))
      .groupBy("g1", "g2").agg(F.count(F.lit(1)).as("common"))
    common
      .join(sizes.select(F.col("g").as("g1"), F.col("n").as("n1")), "g1")
      .join(sizes.select(F.col("g").as("g2"), F.col("n").as("n2")), "g2")
      .select(F.col("g1"), F.col("g2"), F.col("common"),
        F.col("n1"), F.col("n2"),
        (F.floor(F.col("common").cast("double") /
          (F.col("n1") + F.col("n2") - F.col("common"))
          * 1e6 + 0.5) / 1e6).as("jac"))
  }

  // ---- Connected components (pair graph → dup clusters) --------------

  /** Driver-endgame bound for [[connectedComponents]]: once the
    * (contracted) edge set is at most this many rows, finish with one
    * BOUNDED collect + union-find instead of more distributed rounds.
    * Every distributed CC round costs 3-5 shuffle stages of pure fixed
    * overhead regardless of data volume — measured ~0.4 s/round at
    * sf0.1 on a 3,800-edge mutual-kNN graph that union-find labels in
    * microseconds. 64k (lo, hi) pairs ≈ 1 MB on the driver, the same
    * bounded-collect budget as [[graft.ops.Quantiles]]' endgame
    * (DefaultCollectLimit) and the q242/q249 precedents. At 100 TB the
    * star loop contracts the graph ~geometrically, so the endgame
    * replaces only the LAST O(log) rounds — the distributed path is
    * unchanged above the bound. */
  val CcEndgameMaxEdges = 65536L

  /** Connected components over an undirected pair graph — dedup ships
    * CLUSTERS (keep one doc per component), not raw pairs.
    *
    * Input: pairs (id1, id2). Output: (id, comp) for every id in
    * `pairs`, where comp = min id reachable. Deterministic.
    *
    *  1. One pass normalizes the pairs to distinct (lo, hi) edges.
    *     Self-pairs are kept, so a self-paired id is labeled too. The
    *     edge set is checkpointed LAZILY and the endgame gate's count
    *     materializes it: the upstream (LSH + verify, usually the
    *     expensive part) runs exactly once, in that job, and the
    *     lineage is cut.
    *  2. An integral-id graph within `endgameMaxEdges` is labeled by
    *     one driver-side [[unionFind]].
    *  3. Anything larger runs alternating LARGE-STAR / SMALL-STAR
    *     (Kiveris et al., "Connected Components in MapReduce and
    *     Beyond", SoCC'14), which contracts the graph in O(log² n)
    *     rounds regardless of diameter, and hands over to the same
    *     union-find once the contracted edge set fits the bound.
    *  4. A loop that runs out of `maxIter` rounds above the bound fails
    *     loudly: a mid-run edge set can hold two labels for one node,
    *     so it is never returned.
    *
    * Superseded rounds are released as the loop advances — otherwise a
    * long-lived session pins every round's blocks for its lifetime
    * (measured: a 98-query benchmark JVM degraded ~2× from the
    * accumulation).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
      endgameMaxEdges: Long = CcEndgameMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id1").dataType
    // non-integral ids can't take the long-cast endgame (see
    // [[integralIds]]) — they iterate to full convergence instead
    val canEndgame = integralIds(pairs)
    val graph = pairs
      .select(F.least(F.col("id1"), F.col("id2")).as("lo"),
        F.greatest(F.col("id1"), F.col("id2")).as("hi"))
      .distinct()
      // q79, q102, q122, q275 and q342 are slower lazy too
      // pin: measured — q90 lazy 2.86 vs 1.86 s, local[32]
      .localCheckpoint(false)
    var nEdges = graph.count() // materializes the checkpoint
    var ck = graph // the checkpoint `edges` reads; released once superseded
    var edges = graph
    var nodes: DataFrame = null // every id; pinned only when the loop runs
    var changed = -1L // unknown until a round has tallied
    var it = 0
    while (changed != 0 && !(canEndgame && nEdges <= endgameMaxEdges)) {
      require(it < maxIter,
        s"connectedComponents did not converge in $maxIter rounds")
      // `nodes` reads the `graph` checkpoint, which the first round's
      // release drops: lazy, the final label join failed with
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (forced q102 star loop)
      if (nodes == null) nodes = graph.select(F.col("lo").as("id"))
        .union(graph.select(F.col("hi").as("id")))
        .distinct().localCheckpoint() // pin: correctness — outlives `graph`
      // self-pairs only label themselves (through `nodes`)
      val e = edges.filter(F.col("lo") =!= F.col("hi"))
      // large-star over the symmetric direction set: link every
      // strictly-larger neighbor v of u to m = min(Γ(u) ∪ u)
      val dir = e.select(F.col("lo").as("u"), F.col("hi").as("v"))
        .union(e.select(F.col("hi").as("u"), F.col("lo").as("v")))
      val mins = dir.groupBy("u").agg(F.min("v").as("mv"))
        .withColumn("m", F.least(F.col("u"), F.col("mv")))
      // no distinct here: |ls| <= |edges| with or without duplicates
      // (one row per v>u direction), small-star's groupBy and the
      // tally's groupBy absorb them — one shuffle per round saved
      val ls = dir.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").as("lo"), F.col("v").as("hi")) // m <= u < v
        .filter(F.col("lo") =!= F.col("hi"))
      // small-star on the hi→lo orientation: link every smaller
      // neighbor v of u (and u itself) to m = min(Γ(u) ∪ u)
      val dir2 = ls.select(F.col("hi").as("u"), F.col("lo").as("v"))
      val mins2 = dir2.groupBy("u").agg(F.min("v").as("m"))
      val ss = dir2.join(mins2, "u")
        .select(F.col("m").as("lo"), F.col("v").as("hi")) // v >= m
        .union(mins2.select(F.col("m").as("lo"), F.col("u").as("hi")))
        .filter(F.col("lo") =!= F.col("hi"))
      // ONE (lo, hi) aggregation yields BOTH the deduped new edge set
      // and the convergence test: tag small-star rows and previous
      // edges, group on the edge key, and compare presence flags. The
      // tally is checkpointed LAZILY and the one job below, which also
      // counts the surviving edges for the endgame gate, materializes
      // it.
      val tally = ss.select(F.col("lo"), F.col("hi"),
          F.lit(1).as("s"), F.lit(0).as("e"))
        .union(e.select(F.col("lo"), F.col("hi"),
          F.lit(0).as("s"), F.lit(1).as("e")))
        .groupBy("lo", "hi")
        .agg(F.max("s").as("inSs"), F.max("e").as("inE"))
        // pin: measured — star loop lazy 69.8 vs 8.75 s, local[4] (1-run smoke)
        .localCheckpoint(false)
      val row = tally.agg(
        F.sum(F.when(F.col("inSs") =!= F.col("inE"), 1L).otherwise(0L))
          .as("chg"),
        F.sum(F.when(F.col("inSs") === 1, 1L).otherwise(0L)).as("ne"))
        .first()
      changed = row.getLong(0)
      nEdges = row.getLong(1)
      GraftReleaseBridge.release(ck)
      ck = tally
      edges = tally.filter(F.col("inSs") === 1).select("lo", "hi")
      it += 1
    }
    val labels =
      if (changed == 0) // converged: a star forest, members hi → root lo
        edges.select(F.col("hi").as("id"), F.col("lo").as("comp"))
      else {
        // root of every union-find tree is its component's min, the
        // same contract as the star forest
        val es = edges
          .select(F.col("lo").cast("long"), F.col("hi").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        GraftReleaseBridge.release(ck)
        import spark.implicits._
        unionFind(es).toSeq.toDF("id", "comp")
          .select(F.col("id").cast(idType).as("id"),
            F.col("comp").cast(idType).as("comp"))
      }
    if (nodes == null) labels // the union-find saw every edge
    else nodes.join(labels, Seq("id"), "left_outer")
      .select(F.col("id"), F.coalesce(F.col("comp"), F.col("id")).as("comp"))
  }

  /** Gate for the union-find endgame: it casts ids to long for the
    * driver-side forest, which is only lossless for integral types.
    * Doubles/decimals would truncate (1.2 and 1.7 both become 1,
    * merging distinct components); strings cast to null and crash the
    * Row.getLong read (round-12 ADVICE). Non-integral ids stay on the
    * distributed loop, which never casts. */
  private def integralIds(pairs: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    Seq("id1", "id2").forall(c => pairs.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
  }

  /** Union-find with union-by-min + path compression over a bounded
    * edge array: root of every component IS its minimum id (unions
    * always point the larger root at the smaller). Returns (id, comp)
    * for every id incident to an edge, self-pairs included. */
  private def unionFind(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = p
        p = gp
      }
      x
    }
    es.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    es.flatMap { case (a, b) => Array(a, b) }.distinct.map(x => (x, find(x)))
  }

  // ---- SimHash --------------------------------------------------------

  /** SimHash over per-token hashes: per bit, sum ±1 across tokens
    * (duplicates weight by term frequency); signature bit = sign. One
    * explode + one groupBy; near-dup test is `bit_count(s1 ^ s2) <= d`
    * on 8-byte keys. The token hash is the oracle-reproducible 62-bit
    * polynomial hash ([[graft.plans.TextKernels.polyHash62]]) — plain
    * BIGINT arithmetic an oracle replays exactly, so the signature
    * relation itself is hash-checkable (q42); bits 62-63 are
    * constant 0, leaving 62 effective signature bits (hamming
    * distances and the banded pigeonhole recall bound are unaffected).
    */
  def simhash64(docs: DataFrame, idCol: String, tokCol: String): DataFrame = {
    val ex = docs.select(F.col(idCol), F.explode(F.col(tokCol)).as("t"))
      .withColumn("h", graft.plans.TextExpressions.polyHash62(F.col("t")))
    val bitSums = (0 until 64).map(j =>
      F.sum(F.expr(s"CASE WHEN (h >> $j) & 1L = 1L THEN 1 ELSE -1 END"))
        .as(s"b_$j"))
    val agg = ex.groupBy(F.col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val assemble = (0 until 64).map(j =>
      s"IF(b_$j > 0, ${1L << j}L, 0L)").mkString(" | ")
    agg.select(F.col(idCol), F.expr(assemble).as("simhash"))
  }

  /** SimHash near-dup pairs within a blocking column: hamming distance
    * <= maxDist. Blocking keeps the pair space linear-ish; the unblocked
    * scale path is [[simhashNearDupsBanded]]. */
  def simhashNearDups(sigs: DataFrame, idCol: String, blockCol: String,
                      maxDist: Int): DataFrame = {
    val a = sigs.select(F.col(idCol).as("id1"),
      F.col("simhash").as("s1"), F.col(blockCol))
    val b = sigs.select(F.col(idCol).as("id2"),
      F.col("simhash").as("s2"), F.col(blockCol))
    a.join(b, Seq(blockCol))
      .filter(F.col("id1") < F.col("id2"))
      .withColumn("dist", F.expr("bit_count(s1 ^ s2)"))
      .filter(F.col("dist") <= maxDist)
      .select("id1", "id2", "dist")
  }

  /** UNBLOCKED SimHash near-dup join — the web-scale path (no blocking
    * column needed). Same LSH shape as MinHash banding, over signature
    * bits: split the 64-bit signature into `nBands` contiguous bands,
    * bucket docs by (band index, band value), emit intra-bucket pairs,
    * verify `bit_count(s1^s2) <= maxDist` on the candidates.
    *
    * Recall is the pigeonhole bound: a pair at hamming distance d
    * flips bits in at most d bands, so with d < nBands at least one
    * band is untouched and the pair MUST collide — recall = 1 for
    * maxDist <= nBands-1 (asserted in PipelineSpec against the
    * all-pairs join). Beyond that it degrades gracefully (a distance-d
    * pair is missed only if its d flipped bits hit >= nBands distinct
    * bands); the production dial for larger d is more/narrower bands or
    * Manku-style block permutations — same plan, different `nBands`.
    * False positives never survive: the verify filter is exact.
    *
    * Plan shape: explode ×nBands → one groupBy on (band, value) —
    * partial-agg'd, 8-byte keys — pair expansion inside buckets only,
    * then a broadcast-friendly join back to signatures. Shuffles carry
    * ids and 8-byte band values, never text.
    */
  def simhashNearDupsBanded(sigs: DataFrame, idCol: String, maxDist: Int,
                            nBands: Int = 4,
                            bucketCap: Option[Long] = None): DataFrame = {
    val cands = bandedCandidates(sigs, idCol, "simhash", nBands, bucketCap)
    val a = sigs.select(F.col(idCol).as("id1"), F.col("simhash").as("s1"))
    val b = sigs.select(F.col(idCol).as("id2"), F.col("simhash").as("s2"))
    cands.join(a, "id1").join(b, "id2")
      .withColumn("dist", F.expr("bit_count(s1 ^ s2)"))
      .filter(F.col("dist") <= maxDist)
      .select("id1", "id2", "dist")
  }

  /** Candidate pairs of docs sharing >= 1 exact band of a 64-bit
    * signature column — the generic banded-LSH bucketing behind
    * [[simhashNearDupsBanded]] and the random-hyperplane cosine LSH
    * ([[graft.similarity.Srp]]).
    *
    * Pair expansion is a SELF-JOIN on (band, value) — never a
    * collect_list of a bucket's membership into one row, so a hot
    * bucket costs join fan-out (which AQE skew-splits across tasks),
    * not a single-task array blow-up. Degenerate bands are still the
    * residual risk at web scale (e.g. the all-zero SimHash band every
    * near-empty doc shares): `bucketCap` drops buckets larger than the
    * cap BEFORE the join — same trade shape as [[jaccardPairs]]'
    * dfCap, one-sided and explicit: a pair is lost only if EVERY band
    * it shares is degenerate, so the pigeonhole recall guarantee
    * continues to hold over non-capped bands.
    */
  def bandedCandidates(sigs: DataFrame, idCol: String, sigCol: String,
                       nBands: Int,
                       bucketCap: Option[Long] = None): DataFrame = {
    require(nBands > 0 && 64 % nBands == 0, s"nBands $nBands must divide 64")
    val w = 64 / nBands
    val mask = if (w == 64) -1L else (1L << w) - 1
    val bandStructs = (0 until nBands).map(b =>
      s"struct($b as band, shiftright($sigCol, ${b * w}) & ${mask}L as bv)")
      .mkString(", ")
    val ex0 = sigs
      .select(F.col(idCol),
        F.explode(F.expr(s"array($bandStructs)")).as("bd"))
      .select(F.col(idCol), F.col("bd.band").as("band"),
        F.col("bd.bv").as("bv"))
    val ex = bucketCap match {
      case Some(cap) =>
        val win = Window.partitionBy("band", "bv")
        ex0.withColumn("__n", F.count(F.lit(1)).over(win))
          .filter(F.col("__n") <= cap).drop("__n")
      case None => ex0
    }
    ex.as("a").join(ex.as("b"),
        F.col("a.band") === F.col("b.band") &&
          F.col("a.bv") === F.col("b.bv") &&
          F.col(s"a.$idCol") < F.col(s"b.$idCol"))
      .select(F.col(s"a.$idCol").as("id1"), F.col(s"b.$idCol").as("id2"))
      .distinct()
  }
}
