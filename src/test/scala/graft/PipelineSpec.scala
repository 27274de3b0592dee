package graft

import org.apache.spark.sql.{functions => F}
import graft.dedup.Dedup
import graft.multimodal.{MediaRecord, Multimodal}
import graft.ops.RelOps._
import graft.similarity.Knn
import graft.plans.TextExpressions
import graft.text.TextOps

/** Wave-3 pipeline operator suites: dedup/similarity/text/multimodal.
  * Equivalence-style: approximate paths checked against exact paths.
  */
class PipelineSpec extends SparkSpec {

  private def docs = T.load(spark, sf, "documents")
    .withColumn("toks", TextExpressions.wordTokens(F.col("text")))
    .withColumn("sh", TextExpressions.wordShingles(F.col("text"), 3))

  private def emb = T.load(spark, sf, "embeddings")

  /** Seeded corpus with 10 well-separated planted clusters — the shape
    * IVF's recall claim is about (the sf embeddings are isotropic
    * noise, where any cell routing is a random partition). */
  private def plantedClusters(dim: Int = 16, ncells: Int = 10,
                              per: Int = 40) = {
    val rnd = new scala.util.Random(42)
    val rows = for {
      c <- 0 until ncells
      i <- 0 until per
    } yield {
      val center = Array.tabulate(dim)(d =>
        math.sin((c * dim + d + 1) * 2.39996).toFloat * 3f)
      val v = center.map(x => x + rnd.nextGaussian().toFloat * 0.3f)
      (c * per + i, v.toSeq, c)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", F.col("embedding").cast("array<float>"))
  }

  test("minhash LSH near-dups equal exact all-pairs Jaccard at J>=0.8") {
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "sh", 0.8)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "sh", 0.8)
    assert(lsh.exceptAll(exact).isEmpty && exact.exceptAll(lsh).isEmpty)
  }

  test("identical texts produce identical minhash signatures and simhash") {
    val d2 = docs.limit(5)
    val dup = d2.vcat(d2) // every doc twice
    val sig = Dedup.minhashSignatures(dup, "doc_id", "sh")
    // same doc_id appears twice with identical signature → distinct = 5
    assert(sig.distinct().count() == 5)
    val sh = Dedup.simhash64(dup.withColumn("toks",
      TextExpressions.wordTokens(F.col("text"))),
      "doc_id", "toks")
    assert(sh.distinct().count() == 5)
  }

  test("simhash hamming distance to self is 0 and nearby for near-dups") {
    val sigs = Dedup.simhash64(docs, "doc_id", "toks")
      .join(docs.select("doc_id", "lang"), "doc_id")
    val pairs = Dedup.simhashNearDups(sigs, "doc_id", "lang", 64)
    // distance range valid
    val bad = pairs.filter(F.col("dist") < 0 || F.col("dist") > 64)
    assert(bad.count() == 0)
  }

  test("brute-force knn returns k deterministic ranked neighbors") {
    val knn = Knn.bruteForceKnn(emb, emb.filterExpr("vec_id < 3"),
      "vec_id", "embedding", 5)
    val counts = knn.groupBy("query_id").count().collect()
    assert(counts.length == 3 && counts.forall(_.getLong(1) == 5))
    // rank 1 has the max sim per query
    val r1 = knn.filter(F.col("rank") === 1)
      .select("query_id", "sim").withColumnRenamed("sim", "top")
    val mx = knn.groupBy("query_id").agg(F.max("sim").as("mx"))
    assert(r1.join(mx, "query_id")
      .filter(F.col("top") =!= F.col("mx")).count() == 0)
  }

  test("exactKnnBnB literal path == broadcast-join path == brute force") {
    // round-11 verdict task 2: bits ≤ 8 bakes cell stats into plan
    // literals; bits ≥ 9 broadcast-joins the stats relation. Both are
    // EXACT, so the result sets must be row-identical — and equal to
    // plain brute force (three independent implementations)
    val qs = emb.filterExpr("vec_id < 40")
    val lit = Knn.exactKnnBnB(emb, qs, "vec_id", "embedding", 5,
      cellBits = 5)
    val brute = Knn.bruteForceKnn(emb, qs, "vec_id", "embedding", 5)
    // two join-path bit widths: 10 (the ScaleProbe 100× operating
    // point, round 12) and 11 — the path must be exact at every width
    for (bits <- Seq(10, 11)) {
      val join = Knn.exactKnnBnB(emb, qs, "vec_id", "embedding", 5,
        cellBits = bits)
      assert(lit.exceptAll(join).isEmpty && join.exceptAll(lit).isEmpty,
        s"literal vs join path (bits=$bits) diverge")
      assert(join.exceptAll(brute).isEmpty
        && brute.exceptAll(join).isEmpty,
        s"join path (bits=$bits) vs brute force diverge")
    }
    // fewer cells than nprobe (1 bit: two cells plus the zero-norm
    // sentinel): phase A probes every cell and phase B is empty
    val tiny = Knn.exactKnnBnB(emb, qs, "vec_id", "embedding", 5,
      cellBits = 1, nprobe = 4)
    assert(tiny.exceptAll(brute).isEmpty && brute.exceptAll(tiny).isEmpty,
      "1-bit grid vs brute force diverge")
  }

  test("IVF knn with nprobe = all cells equals brute force") {
    val q = emb.filterExpr("vec_id < 3")
    val brute = Knn.bruteForceKnn(emb, q, "vec_id", "embedding", 5)
    val ivf = Knn.ivfKnn(emb, q, "vec_id", "embedding", "label", 5, 10)
    assert(ivf.exceptAll(brute).isEmpty && brute.exceptAll(ivf).isEmpty)
  }

  test("kernel swap: real javax.imageio codec through the stub's plans") {
    // round-11 verdict task 3: the seam's claim is "a real codec drops
    // in unchanged". Generate REAL PNGs, run the SAME distributed
    // plans (decode / resize / frameSample / fingerprints — the q48/
    // q85/q86/q166 shapes over the q47 media schema) under BOTH
    // kernels, and pin: identical row counts + schemas, and the real
    // kernel's features match ground truth (pixel dimensions), which
    // no byte-arithmetic stub could fake.
    import spark.implicits._
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    val recs = (0 until 12).map { i =>
      val w = 8 + i; val h = 5 + 2 * i
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        im.setRGB(x, y, ((i * 37 + x * 11 + y * 7) % 256) * 0x010101)
      val bos = new ByteArrayOutputStream()
      ImageIO.write(im, "png", bos)
      val bytes = bos.toByteArray
      (MediaRecord(i.toLong, bytes, "image/png", bytes.length.toLong),
        w, h)
    }
    val media = spark.createDataset(recs.map(_._1))
    // decode (q48's plan) under both kernels
    val stubF = Multimodal.decode(media).toDF()
    val realF = Multimodal.decode(media, ImageIoKernel).toDF()
    assert(stubF.schema == realF.schema)
    assert(stubF.count() == 12 && realF.count() == 12)
    // the real kernel reports TRUE pixel dimensions
    val dims = realF.select("doc_id", "width", "height").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    recs.foreach { case (r, w, h) =>
      assert(dims(r.doc_id) == ((w, h)),
        s"doc ${r.doc_id}: decoded ${dims(r.doc_id)} != real ($w, $h)")
    }
    // frame sampling (q86's plan): same shape both kernels
    val stubFr = Multimodal.frameSample(media, 3)
    val realFr = Multimodal.frameSample(media, 3, ImageIoKernel)
    assert(stubFr.schema == realFr.schema)
    assert(stubFr.count() == 36 && realFr.count() == 36)
    // resize (q85's plan): real re-encode shrinks every oversized
    // payload and stays decodable through another real decode
    val resized = Multimodal.resize(media, 200, ImageIoKernel)
    val back = Multimodal.decode(resized, ImageIoKernel).toDF()
      .select("doc_id", "n_bytes").collect()
    assert(back.length == 12)
    val origBytes = recs.map(r => r._1.doc_id -> r._1.n_bytes).toMap
    back.foreach(r => assert(r.getLong(1) <= origBytes(r.getLong(0)),
      s"resize grew doc ${r.getLong(0)}"))
    // perceptual fingerprints (q166's plan): identical image → equal
    // phash; constant-vs-gradient image → different phash
    val ph = Multimodal.fingerprints(media, ImageIoKernel)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dup = spark.createDataset(Seq(
      recs.head._1.copy(doc_id = 100L)))
    val phDup = Multimodal.fingerprints(dup, ImageIoKernel)
      .collect().head.getLong(1)
    assert(phDup == ph(0L), "identical pixels must hash identically")
    assert(ph.values.toSet.size > 1, "distinct images all collided")
  }

  test("media payload round-trips byte length; stub decode deterministic") {
    val d = T.load(spark, sf, "documents")
    val media = Multimodal.asMedia(d)
    val bad = media.join(d, "doc_id")
      .filter(F.col("n_bytes") =!= F.length(F.col("text")))
    assert(bad.count() == 0) // ascii corpus: bytes == chars
    val f1 = Multimodal.extractFeatures(spark, d).orderBy("doc_id").collect()
    val f2 = Multimodal.extractFeatures(spark, d).orderBy("doc_id").collect()
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall { r =>
      val w = r.getAs[Int]("width"); w >= 64 && w < 576 })
  }

  test("prefix-filtered Jaccard join equals the full inverted index") {
    // completeness (no false negatives from the prefix) + precision
    // (exact verify) == bit-identical pair sets, at two thresholds
    for ((num, den) <- Seq((1, 2), (4, 5))) {
      val full = Dedup.jaccardPairs(docs, "doc_id", "sh",
        num.toDouble / den)
      val pref = Dedup.jaccardPairsPrefix(docs, "doc_id", "sh", num, den)
      assert(pref.exceptAll(full).isEmpty && full.exceptAll(pref).isEmpty,
        s"mismatch at tau=$num/$den")
    }
  }

  test("prefix Jaccard finds planted near-identical pairs") {
    import spark.implicits._
    // doc 101 = doc 100 with one word changed; doc 102 unrelated
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val alt = ((1 to 29).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (31 to 60).map(i => s"tok$i").mkString(" ")
    val planted = Seq((100L, base), (101L, alt), (102L, other))
      .toDF("doc_id", "text")
      .withColumn("sh",
        graft.plans.TextExpressions.wordShingles(F.col("text"), 3))
    val got = Dedup.jaccardPairsPrefix(planted, "doc_id", "sh", 1, 2)
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((100L, 101L)))
  }

  test("containment join equals the brute-force all-pairs computation") {
    // completeness of the asymmetric prefix bound (probe prefix ×
    // full postings + positional filter) against naive O(n²)
    val sh = docs.select(F.col("doc_id"), F.col("sh"))
      .filter(F.size(F.col("sh")) > 0)
    val a = sh.toDF("ia", "sa")
    val b = sh.toDF("ib", "sb")
    val brute = a.crossJoin(b)
      .filter(F.size(F.col("sa")) < F.size(F.col("sb")) ||
        (F.size(F.col("sa")) === F.size(F.col("sb")) &&
          F.col("ia") < F.col("ib")))
      .withColumn("cont", F.round(F.expr(
        "size(array_intersect(sa, sb)) / cast(size(sa) as double)"), 3))
      .filter(F.col("cont") >= 0.8)
      .select(F.col("ia").as("inner_id"), F.col("ib").as("outer_id"),
        F.col("cont"))
    val got = Dedup.containmentPairsPrefix(docs, "doc_id", "sh", 4, 5)
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
  }

  test("containment finds a planted passage-in-document pair") {
    import spark.implicits._
    // doc 201 is a strict prefix-passage of doc 200: containment = 1,
    // Jaccard well under 0.5 — the pair Jaccard dedup cannot see
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val passage = (1 to 15).map(i => s"tok$i").mkString(" ")
    val planted = Seq((200L, big), (201L, passage), (202L, "x y z"))
      .toDF("doc_id", "text")
      .withColumn("sh",
        graft.plans.TextExpressions.wordShingles(F.col("text"), 3))
    val got = Dedup.containmentPairsPrefix(planted, "doc_id", "sh", 4, 5)
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((201L, 200L)))
    val jac = Dedup.jaccardPairsPrefix(planted, "doc_id", "sh", 1, 2)
      .collect()
    assert(!jac.map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((201L, 200L)))
  }

  test("q184 in-plan power iteration equals dense driver-side iteration") {
    val got = SparkEntry.queries("q184_pca_power")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // dense reference: same rounded covariance, same 3 iterations
    val cov = SparkEntry.queries("q124_embed_cov")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val d = got.size
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 3) {
      val m = Array.tabulate(d)(i =>
        (0 until d).map(j => cov((i, j)) * v(j)).sum)
      val nm = math.sqrt(m.map(x => x * x).sum)
      v = m.map(_ / nm)
    }
    val k = (0 until d).maxBy(i => (math.abs(v(i)), -i))
    val sgn = if (v(k) >= 0) 1.0 else -1.0
    (0 until d).foreach { i =>
      assert(math.abs(got(i) - sgn * v(i)) < 1e-4, s"pos $i")
    }
  }

  test("q191 centroid confusion equals driver-side centroid cosines") {
    val emb = T.load(spark, sf, "embeddings")
      .collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1).map(_.toDouble).toArray))
    val cents = emb.groupBy(_._1).map { case (l, vs) =>
      val d = vs.head._2.length
      l -> Array.tabulate(d) { i =>
        val m = vs.map(_._2(i)).sum / vs.length
        BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val want = (for {
      (la, ca) <- cents; (lb, cb) <- cents if la < lb
      dot = ca.zip(cb).map { case (x, y) => x * y }.sum
      na = math.sqrt(ca.map(x => x * x).sum)
      nb = math.sqrt(cb.map(x => x * x).sum)
    } yield (la, lb) -> dot / (na * nb)).toMap
    val got = SparkEntry.queries("q191_centroid_confusion")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(got.size == want.size)
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-5, s"pair $k") }
    assert(got.values.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("jaccardPairs df-cap above observed max df is a no-op") {
    val uncapped = Dedup.jaccardPairs(docs, "doc_id", "sh", 0.5,
      blockCols = Seq("lang"))
    val capped = Dedup.jaccardPairs(docs, "doc_id", "sh", 0.5,
      blockCols = Seq("lang"), dfCap = Some(100000L))
    assert(capped.exceptAll(uncapped).isEmpty &&
      uncapped.exceptAll(capped).isEmpty)
    // a tight cap can only LOSE pairs (jac undercounts), never add
    val tight = Dedup.jaccardPairs(docs, "doc_id", "sh", 0.5,
      blockCols = Seq("lang"), dfCap = Some(2L))
    assert(tight.select("id1", "id2")
      .exceptAll(uncapped.select("id1", "id2")).isEmpty)
  }

  test("IVF recall@10 at nprobe=3 vs exact brute force") {
    // The sf corpus embeddings are isotropic noise (intra-label and
    // inter-label mean cosine both ~0), so ANY cell routing there is a
    // random partition: expected recall == nprobe/ncells. IVF's recall
    // claim is about clustered data, so assert it on a planted-cluster
    // corpus; on the real corpus only the routing-fraction floor holds.
    val planted = plantedClusters()
    val q = planted.filter(F.col("vec_id") % 40 === 0)
    val exact = Knn.bruteForceKnn(planted, q, "vec_id", "embedding", 10)
    val ivf = Knn.ivfKnn(planted, q, "vec_id", "embedding", "label", 10, 3)
    val hits = ivf.select("query_id", "neighbor_id")
      .intersect(exact.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / exact.count()
    info(f"planted-cluster IVF nprobe=3 recall@10 = $recall%.3f")
    assert(recall >= 0.95)
    // real corpus: random-partition floor only (nprobe/ncells, slack 2x)
    val qr = emb.filterExpr("vec_id < 5")
    val exactR = Knn.bruteForceKnn(emb, qr, "vec_id", "embedding", 10)
    val ivfR = Knn.ivfKnn(emb, qr, "vec_id", "embedding", "label", 10, 3)
    val recallR = ivfR.select("query_id", "neighbor_id")
      .intersect(exactR.select("query_id", "neighbor_id")).count()
      .toDouble / exactR.count()
    info(f"isotropic-corpus IVF nprobe=3 recall@10 = $recallR%.3f")
    assert(recallR >= 0.15)
  }

  test("banded simhash join: exact recall at d <= nBands-1, subset beyond") {
    val sigs = Dedup.simhash64(docs, "doc_id", "toks")
    // ground truth: unblocked all-pairs via a constant block column
    val allPairs = Dedup.simhashNearDups(
      sigs.withColumn("__blk", F.lit(1)), "doc_id", "__blk", 3)
    val banded = Dedup.simhashNearDupsBanded(sigs, "doc_id", 3, nBands = 4)
    // pigeonhole: d=3 < 4 bands → recall 1; verify filter → precision 1
    assert(banded.exceptAll(allPairs).isEmpty &&
      allPairs.exceptAll(banded).isEmpty)
    // beyond the bound the candidates are still never wrong (subset)
    val all16 = Dedup.simhashNearDups(
      sigs.withColumn("__blk", F.lit(1)), "doc_id", "__blk", 16)
    val banded16 = Dedup.simhashNearDupsBanded(sigs, "doc_id", 16, nBands = 4)
    assert(banded16.exceptAll(all16).isEmpty)
    info(s"banded d=16 found ${banded16.count()} of ${all16.count()} pairs")
    // bucketCap above the hottest bucket is a no-op; a tight cap only
    // LOSES candidates (degenerate-band trade), never invents them
    val capped = Dedup.simhashNearDupsBanded(sigs, "doc_id", 3,
      nBands = 4, bucketCap = Some(1000000L))
    assert(capped.exceptAll(banded).isEmpty && banded.exceptAll(capped).isEmpty)
    val tight = Dedup.simhashNearDupsBanded(sigs, "doc_id", 16,
      nBands = 4, bucketCap = Some(2L))
    assert(tight.exceptAll(banded16).isEmpty)
  }

  test("SRP cosine LSH equals exact all-pairs on planted near-dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 32
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val twins = base.take(20).map { case (id, v) =>
      (id + 1000L, v.map(x => x + rnd.nextGaussian().toFloat * 0.01f))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
      .withColumn("embedding", F.col("embedding").cast("array<float>"))
    val lsh = graft.similarity.Srp.cosineNearDups(
      corpus, "vec_id", "embedding", dim, 0.95)
    val a = corpus.select(F.col("vec_id").as("id1"),
      F.col("embedding").as("v1"))
    val b = corpus.select(F.col("vec_id").as("id2"),
      F.col("embedding").as("v2"))
    val exact = a.join(b, F.col("id1") < F.col("id2"))
      .withColumn("sim", F.round(graft.plans.VectorExpressions
        .cosineF(F.col("v1"), F.col("v2")), 6))
      .filter(F.col("sim") >= 0.95)
      .select("id1", "id2", "sim")
    // all 20 planted twins found, nothing else (exact verify: precision 1;
    // recall at cos>=0.998 is 1 - ~1e-20 with 16x4 banding)
    assert(exact.count() == 20)
    assert(lsh.exceptAll(exact).isEmpty && exact.exceptAll(lsh).isEmpty)
    // signatures are deterministic across invocations
    val s1 = graft.similarity.Srp.signatures(corpus, "vec_id", "embedding", dim)
    val s2 = graft.similarity.Srp.signatures(corpus, "vec_id", "embedding", dim)
    assert(s1.exceptAll(s2).isEmpty)
  }

  test("simhash hamming distance is small exactly on true near-dups") {
    val sigs = Dedup.simhash64(docs, "doc_id", "toks")
      .join(docs.select("doc_id", "lang"), "doc_id")
    val sh = Dedup.simhashNearDups(sigs, "doc_id", "lang", 16)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "sh", 0.8,
      blockCols = Seq("lang"))
    // recall: every exact pair is simhash-close
    assert(exact.join(sh, Seq("id1", "id2"), "left_anti").count() == 0)
  }

  test("TopK aggregator equals the window-based top-k") {
    import graft.similarity.{Knn, TopK}
    val corpus = emb
    val q = emb.filterExpr("vec_id < 3")
    val viaWindow = Knn.bruteForceKnn(corpus, q, "vec_id", "embedding", 5)
    // same candidate sims, ranked by the bounded-memory aggregator
    val cands = corpus.select(F.col("vec_id").as("neighbor_id"),
        F.col("embedding").as("cvec"))
      .join(F.broadcast(q.select(F.col("vec_id").as("query_id"),
        F.col("embedding").as("qvec"))),
        F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("sim", F.round(
        graft.plans.VectorExpressions.cosineF(
          F.col("qvec"), F.col("cvec")), 6))
    val viaAgg = TopK.perGroup[Long](cands, Seq("query_id"), "sim",
      "neighbor_id", 5)
      .select("query_id", "neighbor_id", "sim", "rank")
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("int8 quantization round-trips within one quantization step") {
    import graft.similarity.Quantize
    val q = Quantize.int8(emb, "embedding")
    val dq = Quantize.dequant(q, "qvec", "scale")
    // max reconstruction error <= scale/2 per element
    val bad = dq.withColumn("err", F.expr(
      """aggregate(zip_with(embedding, dqvec,
           (x, y) -> abs(cast(x as double) - y)),
         cast(0.0 as double), (a, v) -> greatest(a, v))"""))
      .filter(F.col("err") > F.col("scale") * 0.5 + 1e-12)
    assert(bad.count() == 0)
    // codes stay in int8 range
    val oob = q.filter(F.expr(
      "exists(qvec, v -> v > 127 OR v < -127)"))
    assert(oob.count() == 0)
  }

  test("resize stub caps payloads; frame sampler emits n frames per doc") {
    import spark.implicits._
    val media = Multimodal.asMedia(T.load(spark, sf, "documents"))
      .as[graft.multimodal.MediaRecord]
    val resized = Multimodal.resizeStub(media, 100)
    assert(resized.filter(_.n_bytes > 100).count() == 0)
    assert(resized.count() == media.count())
    val frames = Multimodal.frameSampleStub(media, 4)
    val perDoc = frames.groupBy("doc_id").count()
    assert(perDoc.filter(F.col("count") =!= 4).count() == 0)
    // deterministic across runs
    val again = Multimodal.frameSampleStub(media, 4)
    assert(frames.exceptAll(again).isEmpty)
  }

  test("MediaKernel seam: a swapped-in kernel drives all three operators") {
    import graft.multimodal._
    import spark.implicits._
    // a "codec" that reports fixed dimensions and nFrames 1-byte frames
    object FixedKernel extends MediaKernel {
      override def decode(r: MediaRecord) =
        MediaFeatures(r.doc_id, r.n_bytes, 0L, width = 320, height = 240)
      override def resize(r: MediaRecord, t: Int) =
        r.copy(payload = Array[Byte](42), n_bytes = 1L)
      override def sampleFrames(r: MediaRecord, n: Int) =
        (0 until n).map(f => (f, 1, 7L))
    }
    val media = Multimodal.asMedia(docs.limit(10)).as[MediaRecord]
    val feats = Multimodal.decode(media, FixedKernel)
    assert(feats.collect().forall(f => f.width == 320 && f.height == 240))
    val rs = Multimodal.resize(media, 5, FixedKernel)
    assert(rs.collect().forall(_.n_bytes == 1L))
    val fr = Multimodal.frameSample(media, 4, FixedKernel)
    assert(fr.count() == 40 &&
      fr.select(F.max("checksum")).head().getLong(0) == 7L)
    // and the default (stub) path still yields byte-deterministic output
    val s1 = Multimodal.decode(media).collect().map(_.checksum).sorted.toSeq
    val s2 = Multimodal.decode(media).collect().map(_.checksum).sorted.toSeq
    assert(s1 == s2)
  }

  test("exact dedup marks no dups on the all-distinct sf0.001 corpus") {
    val d = Dedup.exactDups(T.load(spark, sf, "documents"), "text", "doc_id")
    assert(d.filter(F.col("is_dup")).count() == 0)
    // and injecting a duplicate finds it
    val dd = T.load(spark, sf, "documents").limit(1)
      .withColumn("doc_id", F.lit(999999L))
    val withDup = T.load(spark, sf, "documents").vcat(dd)
    val marked = Dedup.exactDups(withDup, "text", "doc_id")
    assert(marked.filter(F.col("is_dup")).count() == 1)
  }

  test("connected components labels chains and cliques correctly") {
    import spark.implicits._
    // two components: chain 1-2-3 and pair 10-11; singleton edges none
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // long chain needs multiple propagation rounds
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id1", "id2")
    val cc2 = Dedup.connectedComponents(chain).collect()
    assert(cc2.forall(_.getLong(1) == 1L))
  }

  test("CC union-find endgame equals the forced star loop (incl. deep chain)") {
    import spark.implicits._
    // high-diameter chain (64 nodes), a clique, a pair, a self-loop
    // singleton — the chain is where star-contraction earns its keep
    // (O(log^2) rounds, not O(diameter))
    val chain = (100L to 163L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val pairs = (chain ++ clique ++ Seq((70L, 71L), (90L, 90L)))
      .toDF("id1", "id2")
    // the bounded union-find ENDGAME taken below CcEndgameMaxEdges and
    // the distributed loop forced by endgameMaxEdges = 0 must agree
    // (round 12 — the endgame is a pure shortcut, never a different
    // answer)
    val endgame = Dedup.connectedComponents(pairs)
    val loop = Dedup.connectedComponents(pairs, endgameMaxEdges = 0)
    assert(endgame.exceptAll(loop).isEmpty && loop.exceptAll(endgame).isEmpty)
    assert(endgame.count() == 64 + 5 + 2 + 1)
    // and on the real LSH dup graph of the corpus
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "sh", 0.8)
      .select(F.col("id1"), F.col("id2"))
    val endgameR = Dedup.connectedComponents(lsh)
    val loopR = Dedup.connectedComponents(lsh, endgameMaxEdges = 0)
    assert(endgameR.exceptAll(loopR).isEmpty
      && loopR.exceptAll(endgameR).isEmpty)
  }

  test("CC fails loudly when maxIter runs out above the endgame bound") {
    import spark.implicits._
    // a 64-node chain needs more than one star round; with the endgame
    // disabled the loop must refuse to return its unconverged labels
    val chain = (100L to 163L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id1", "id2")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 1, endgameMaxEdges = 0)
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("CC star loop -> endgame HANDOFF: rounds contract, then union-find") {
    import spark.implicits._
    // the scale-critical path: the edge set STARTS above the endgame
    // bound, so distributed star rounds must run first and the
    // union-find takes over only after contraction — exercised here
    // with a tiny bound (so the test stays fast) on a graph whose
    // chains need real contraction: 400 chains of 50 nodes + one big
    // chain of 2,000 nodes (high diameter), 21,999 edges total
    val chains =
      (0 until 400).flatMap { c =>
        val base = 10000L + c * 100L
        (0L until 49L).map(i => (base + i, base + i + 1))
      } ++ (0L until 1999L).map(i => (1000000L + i, 1000000L + i + 1))
    val pairs = chains.toDF("id1", "id2")
    // bound 5,000 < 21,999 edges: rounds run, contract below the
    // bound, then the endgame finishes — must equal both pure paths
    val hybrid = Dedup.connectedComponents(pairs, endgameMaxEdges = 5000)
    val pureLoop = Dedup.connectedComponents(pairs, endgameMaxEdges = 0)
    val pureEndgame = Dedup.connectedComponents(pairs,
      endgameMaxEdges = 1000000)
    assert(hybrid.exceptAll(pureLoop).isEmpty
      && pureLoop.exceptAll(hybrid).isEmpty, "hybrid != pure loop")
    assert(hybrid.exceptAll(pureEndgame).isEmpty
      && pureEndgame.exceptAll(hybrid).isEmpty, "hybrid != pure endgame")
    // components read off correctly: every chain labels to its min
    val got = hybrid.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 400 * 50 + 2000)
    assert(got.forall { case (id, comp) =>
      if (id >= 1000000L) comp == 1000000L
      else comp == 10000L + ((id - 10000L) / 100L) * 100L
    })
  }

  test("CC with non-integral ids skips the long-cast endgame") {
    import spark.implicits._
    // round-12 ADVICE: the union-find endgame casts ids to long, so
    // double ids 1.2 and 1.7 would BOTH truncate to 1 and merge two
    // distinct components; string ids would cast to null and crash.
    // Non-integral ids must route to the cast-free distributed loop.
    val dbl = Seq((1.2, 2.5), (1.7, 3.5)).toDF("id1", "id2")
    val gotDbl = Dedup.connectedComponents(dbl).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(gotDbl == Map(1.2 -> 1.2, 2.5 -> 1.2, 1.7 -> 1.7, 3.5 -> 1.7),
      s"double ids merged/mangled: $gotDbl")
    val str = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id1", "id2")
    val gotStr = Dedup.connectedComponents(str).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotStr == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"), s"string ids mislabeled: $gotStr")
    // integral ids still take the endgame path and agree with a
    // forced distributed run (the gate must not change answers)
    val ints = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val a = Dedup.connectedComponents(ints)
    val b = Dedup.connectedComponents(ints, endgameMaxEdges = 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("tfidf: rare tokens outscore ubiquitous ones; df=N scores 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("common", "rare1")),
      (2L, Seq("common", "rare2")),
      (3L, Seq("common"))).toDF("doc_id", "toks")
    val scored = TextOps.tfidf(docs, "doc_id", "toks").collect()
      .map(r => (r.getLong(1), r.getString(0)) -> r.getDouble(4)).toMap
    assert(scored((1L, "common")) == 0.0) // ln(3/3)
    assert(scored((1L, "rare1")) > 1.0)   // ln(3/1)
  }

  test("native text kernels equal the SQL-expression forms") {
    val d = T.load(spark, sf, "documents")
    val viaSql = d
      .withColumn("toks", PlainForms.tokens(F.col("text")))
      .withColumn("sh", PlainForms.shingles(F.col("text"), 3))
      .select("doc_id", "toks", "sh")
    val viaNative = d
      .withColumn("toks",
        graft.plans.TextExpressions.wordTokens(F.col("text")))
      .withColumn("sh",
        graft.plans.TextExpressions.wordShingles(F.col("text"), 3))
      .select("doc_id", "toks", "sh")
    assert(viaSql.exceptAll(viaNative).isEmpty &&
      viaNative.exceptAll(viaSql).isEmpty)
  }

  test("repetition signals: duplicated text scores high, varied text low") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog"))
      .toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(d, "doc_id", "text", 3)
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2)))
      .toMap
    // doc 1: all 4 trigrams identical -> dup frac 0.75; top token = all
    assert(r(1L) == (0.75, 1.0))
    // doc 2: no repeats at all
    assert(r(2L)._1 == 0.0 && r(2L)._2 < 0.2)
  }

  test("hard negatives exclude the query's label and rank by similarity") {
    val e = emb
    val qs = e.filterExpr("vec_id < 3")
    val out = Knn.hardNegatives(e, qs, "vec_id", "embedding", "label", 5)
    val labels = e.select(F.col("vec_id").as("neighbor_id"),
      F.col("label").as("nlab"))
    val qlabels = e.select(F.col("vec_id").as("query_id"),
      F.col("label").as("qlab"))
    // no neighbor shares its query's label
    assert(out.join(labels, "neighbor_id").join(qlabels, "query_id")
      .filter(F.col("nlab") === F.col("qlab")).count() === 0)
    // sims are non-increasing in rank per query
    val bad = out.withColumn("prev", F.lag("sim", 1).over(
      org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy("rank")))
      .filter(F.col("prev").isNotNull && F.col("sim") > F.col("prev"))
    assert(bad.count() === 0)
  }

  test("z-normalization: per-(label,pos) z values are centered") {
    val e = emb
    val ex = e.select(F.col("vec_id"), F.col("label"),
      F.posexplode(F.col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", F.col("x").cast("double"))
    val st = ex.groupBy("label", "pos").agg(
      F.avg("x").as("mu"), F.stddev_samp(F.col("x")).as("sd"))
    val z = ex.join(st, Seq("label", "pos"))
      .select(((F.col("x") - F.col("mu")) / F.col("sd")).as("zv"),
        F.col("label"), F.col("pos"))
    val offCenter = z.groupBy("label", "pos")
      .agg(F.abs(F.avg("zv")).as("m"), F.stddev_samp(F.col("zv")).as("s"))
      .filter(F.col("m") > 1e-9 || F.abs(F.col("s") - 1.0) > 1e-9)
    assert(offCenter.count() === 0)
    // the summary op covers every vector exactly once
    assert(Knn.zNormalizeStats(e, "vec_id", "embedding", "label")
      .count() === e.count())
  }

  test("langid scoring is deterministic and total") {
    val out = T.load(spark, sf, "documents")
      .withColumn("t", TextExpressions.wordTokens(F.col("text")))
      .withColumn("p", F.expr(TextOps.langIdExpr("t")))
    assert(out.filter(F.col("p").isNull).count() == 0)
    val langs = TextOps.markers.map(_._1).toSet + "und"
    assert(out.select("p").distinct().collect()
      .forall(r => langs.contains(r.getString(0))))
  }

  test("incremental dedup equals the cross-side slice of the full pair set") {
    import graft.dedup.Dedup
    val docs = T.load(spark, sf, "documents")
      .withColumn("sh",
        graft.plans.TextExpressions.wordShingles(F.col("text"), 3))
    val inc = Dedup.minhashNearDupsAgainst(
      docs.filter(F.expr("doc_id % 5 = 0")),
      docs.filter(F.expr("doc_id % 5 != 0")),
      "doc_id", "sh", 0.85)
    // direction: id1 always from the incoming batch, id2 from existing
    assert(inc.filter(F.expr("id1 % 5 != 0 OR id2 % 5 = 0")).isEmpty)
    // equals the full self-join pair set restricted to cross pairs
    // (normalized to unordered pairs)
    val full = Dedup.minhashNearDups(docs, "doc_id", "sh", 0.85)
      .filter(F.expr("(id1 % 5 = 0) != (id2 % 5 = 0)"))
      .selectExpr("least(id1, id2) AS a", "greatest(id1, id2) AS b", "jac")
    val incN = inc
      .selectExpr("least(id1, id2) AS a", "greatest(id1, id2) AS b", "jac")
    assert(incN.exceptAll(full).isEmpty && full.exceptAll(incN).isEmpty)
  }

  test("overlap fraction agrees with q54's hit counts and class bounds") {
    val s = spark
    val frac = SparkEntry.queries("q134_overlap_frac")(s, sf)
    // hits never exceed the doc's shingle count; severity matches frac
    assert(frac.filter(F.col("n_hits") > F.col("n_grams")).isEmpty)
    assert(frac.filter(
      F.col("severity") =!= F.when(F.col("overlap_frac") >= 0.5, "dirty")
        .when(F.col("overlap_frac") >= 0.05, "partial")
        .otherwise("clean")).isEmpty)
    // same n_hits as the any-hit decontamination op (q54, same 5-gram
    // shingles and benchmark predicate)
    val q54 = SparkEntry.queries("q54_decontam")(s, sf)
      .select(F.col("doc_id"), F.col("n_hits").as("h54"))
    assert(frac.join(q54, "doc_id")
      .filter(F.col("n_hits") =!= F.col("h54")).isEmpty)
  }

  test("funnel stages partition the user base; cohort triangle is monotone") {
    val s = spark
    val funnel = SparkEntry.queries("q136_funnel")(s, sf).collect()
    val users = T.load(s, sf, "events")
      .select("user_id").distinct().count()
    assert(funnel.map(_.getAs[Long]("n_users")).sum == users)
    assert(funnel.forall(r =>
      r.getAs[Int]("stage") >= 0 && r.getAs[Int]("stage") <= 3))
    val cohort = SparkEntry.queries("q137_cohort")(s, sf)
    // every user is active in their cohort week, so week_k = 0 rows
    // cover the whole user base
    val wk0 = cohort.filter(F.col("week_k") === 0)
      .agg(F.sum("n_users")).first().getLong(0)
    assert(wk0 == users)
    // retention never exceeds the cohort's own size
    val base = cohort.filter(F.col("week_k") === 0)
      .select(F.col("cohort"), F.col("n_users").as("base"))
    assert(cohort.join(base, "cohort")
      .filter(F.col("n_users") > F.col("base")).isEmpty)
  }

  test("winsorize clips at most the tail mass on each side") {
    val out = SparkEntry.queries("q138_winsorize")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n")
      // strict < p05 (interpolated) bounds the clipped mass at 5%
      assert(r.getAs[Long]("n_lo") <= 0.05 * n + 1)
      assert(r.getAs[Long]("n_hi") <= 0.05 * n + 1)
      val m = r.getAs[Double]("mean_winsorized")
      assert(m >= r.getAs[Double]("lo") && m <= r.getAs[Double]("hi"))
    }
  }

  test("market share is a fraction over every order year in scope") {
    val s = spark
    val out = SparkEntry.queries("q135_market_share")(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val sh = r.getAs[Double]("mkt_share")
      assert(sh >= 0.0 && sh <= 1.0, s"share $sh outside [0,1]")
    }
    // line counts reconcile with an independent join count
    val expect = T.load(s, sf, "lineitem")
      .join(T.load(s, sf, "part").filter(F.col("p_type") === "ECONOMY"),
        F.col("l_partkey") === F.col("p_partkey"))
      .join(T.load(s, sf, "orders"),
        F.col("l_orderkey") === F.col("o_orderkey"))
      .join(T.load(s, sf, "customer"),
        F.col("o_custkey") === F.col("c_custkey"))
      .join(T.load(s, sf, "nation"),
        F.col("c_nationkey") === F.col("n_nationkey"))
      .join(T.load(s, sf, "region").filter(F.col("r_name") === "AMERICA"),
        F.col("n_regionkey") === F.col("r_regionkey"))
      .count()
    assert(out.map(_.getAs[Long]("n_lines")).sum == expect)
  }
}
