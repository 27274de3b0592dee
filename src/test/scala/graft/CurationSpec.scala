package graft

import org.apache.spark.sql.{functions => F}
import graft.ops.RelOps
import graft.ops.RelOps._
import graft.text.{Decontam, PII}

/** Wave-4 corpus-preparation operators: decontamination, passage dedup,
  * PII scrub, distributed prefix sum / packing, temperature sampling,
  * sketch gates, centroids. */
class CurationSpec extends SparkSpec {

  test("decontam.overlap flags exactly the docs sharing a benchmark shingle") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),    // benchmark
      (2L, "alpha beta gamma delta epsilon zeta"), // shares 5-gram
      (3L, "one two three four five six"),        // clean
      (4L, "zeta alpha beta gamma delta epsilon") // shares 5-gram (2 of them)
    ).toDF("doc_id", "text")
      .withColumn("sh", graft.plans.TextExpressions.wordShingles(F.col("text"), 5))
    val out = Decontam.overlap(docs, "doc_id", "sh", F.col("doc_id") === 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out === Set((2L, 1L, true), (3L, 0L, false), (4L, 1L, true)))
  }

  test("passageDedup keeps first occurrence and reassembles in order") {
    val s = spark
    import s.implicits._
    // k=2 chunks; doc 1: [a b][c d]; doc 2: [a b][x y] — loses "a b";
    // doc 3 duplicates doc 1 exactly — loses everything.
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "a b c d")
    ).toDF("doc_id", "text")
    val out = Decontam.passageDedup(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(out === Set(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 0L, "")))
  }

  test("PII redaction masks emails, IPs and phone numbers globally") {
    val s = spark
    import s.implicits._
    val df = Seq("mail bob.smith@corp.example.org and 10.0.42.7 call 555-0199 or 555-0200")
      .toDF("t")
      .basedOn(PII.flagExprs("t") :+ ("red" -> PII.redactExpr("t")): _*)
    val r = df.collect()(0)
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) === ((1, 1, 2)))
    assert(r.getString(3) === "mail <EMAIL> and <IP> call <PHONE> or <PHONE>")
  }

  test("globalPrefixSum matches a single-partition running sum") {
    val s = spark
    import s.implicits._
    val df = (1L to 5000L).map(i => (i, (i * 2654435761L) % 97))
      .toDF("k", "v").repartition(16)
    // AQE coalesces toy data to one partition; turn that off so the
    // test can observe the distributed layout the op preserves at scale
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val got =
      try RelOps.globalPrefixSum(df, "v", "ps", Seq(RelOps.Ordering("k")))
        .cache()
      finally s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(got.rdd.getNumPartitions > 1, "prefix sum must stay distributed")
    val expect = df.orderBy("k").collect()
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), r) =>
        (r.getLong(0), r.getLong(1), acc + r.getLong(1))
      }.drop(1).map { case (k, v, cum) => (k, v, cum - v) }.toSet // exclusive
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSet === expect)
  }

  test("temperature sampling: realized rate within 0.08 of target per lang") {
    val s = spark
    val q = SparkEntry.queries("q38_temperature_sample")
    // recompute the deviation directly (the query only exposes a bool)
    val docs = T.load(s, sf, "documents")
    val counts = docs.groupBy("lang").agg(F.count(F.lit(1)).as("n"))
    val rates = counts.crossJoin(counts.agg(F.min("n").as("mn")))
      .withColumn("rate", F.round(F.sqrt(F.col("mn").cast("double") / F.col("n")), 6))
    val kept = graft.ops.Sampling.bernoulliByRate(
        docs.join(rates.select("lang", "rate"), "lang"), "doc_id", "rate")
      .groupBy("lang").agg(F.count(F.lit(1)).as("k"))
    val dev = rates.join(kept, Seq("lang"), "left_outer")
      .select(F.max(F.abs(
        F.coalesce(F.col("k"), F.lit(0L)).cast("double") / F.col("n")
          - F.col("rate")))).collect()(0).getDouble(0)
    assert(dev <= 0.08, s"hash-Bernoulli realized-rate deviation $dev")
    // and the query's own gate holds
    assert(q(s, sf).filter(!F.col("rate_ok")).count() === 0)
  }

  test("sketch gates hold and pack bins respect capacity") {
    val s = spark
    val sk = SparkEntry.queries("q58_sketch")(s, sf)
    assert(sk.filter(!F.col("acd_ok") || !F.col("p50_ok")).count() === 0)
    val pk = SparkEntry.queries("q57_pack")(s, sf)
    // every offset < 512, bins contiguous from 0
    assert(pk.filter(F.col("off") >= 512 || F.col("off") < 0).count() === 0)
    val bins = pk.select("bin").distinct().collect().map(_.getLong(0)).sorted
    assert(bins.head === 0L && bins === (0L until bins.length).toArray)
  }

  test("unit centroids have L2 norm 1 per label") {
    val s = spark
    val c = SparkEntry.queries("q59_centroids")(s, sf)
    val norms = c.groupBy("label")
      .agg(F.sum(F.col("unit") * F.col("unit")).as("n2"))
      .collect().map(_.getDouble(1))
    // components are rounded to 6 digits → norm² error up to ~64·1e-6
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-4, s"norm² $n"))
  }

  test("mixture schedule interleaves sources, preserving per-source order") {
    val s = spark
    val mx = SparkEntry.queries("q39_mixture")(s, sf).cache()
    val n = mx.count()
    assert(mx.select("pos").distinct().count() === n) // permutation
    // per-source order preserved: pos increases with doc_id inside a source
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    assert(mx.withColumn("prev", F.lag("pos", 1).over(w))
      .filter(F.col("prev") >= F.col("pos")).count() === 0)
    // interleaved: the first 10% of the schedule draws from >1 source
    assert(mx.filter(F.col("pos") <= n / 10)
      .select("source").distinct().count() > 1)
  }

  test("vocabulary coverage is monotone and ranks are contiguous") {
    val s = spark
    val v = SparkEntry.queries("q49_vocab")(s, sf)
      .orderBy("rank").collect()
    assert(v.map(_.getInt(2)).toSeq === (1 to v.length))
    val cov = v.map(_.getDouble(3))
    cov.sliding(2).foreach { case Array(a, b) => assert(a <= b); case _ => }
    assert(cov.last <= 1.0 + 1e-9 && cov.last > 0.99) // tiny corpus: full coverage
  }

  test("bloom decontam: inserted shingles always hit; tiny filter still has no false negatives") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // benchmark
      (2L, "alpha beta gamma delta epsilon zeta"), // shares a 5-gram
      (3L, "one two three four five six seven")    // clean
    ).toDF("doc_id", "text")
      .withColumn("sh", graft.plans.TextExpressions.wordShingles(F.col("text"), 5))
    // normal sizing: exact agreement on this corpus
    val out = Decontam.bloomOverlap(docs, "doc_id", "sh",
      F.col("doc_id") === 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toSet
    assert(out === Set((2L, 1L, true, true, true),
                       (3L, 0L, false, true, true)))
    // pathologically small filter (64 bits, 5 hashes): false positives
    // become likely but bloom_no_fn MUST still hold for every doc
    val tiny = Decontam.bloomOverlap(docs, "doc_id", "sh",
      F.col("doc_id") === 1L, numBits = 64, numHashes = 5,
      maxFpRate = 1.0)
    assert(tiny.filter(!F.col("bloom_no_fn")).count() === 0)
  }

  test("bloom kernel == the HOF probe expression, bit for bit") {
    // the q106 hot path rides the native BloomCountHits kernel; the
    // HOF pipeline in [[Bloom]] is its executable spec — pin equality
    // on the REAL corpus shingles plus adversarial rows (empty array,
    // null element, empty-string shingle), at two filter geometries
    // including the 64-bit one where false positives are guaranteed
    val s = spark
    import s.implicits._
    val real = T.load(s, sf, "documents")
      .select(F.col("doc_id"),
        graft.plans.TextExpressions.wordShingles(F.col("text"), 5).as("sh"))
    val weird = Seq(
      (900001L, Seq.empty[String]),
      (900002L, Seq("", "alpha beta gamma delta epsilon")),
      (900003L, Seq("x y z w v"))).toDF("doc_id", "sh")
    val docs = real.unionByName(weird)
    def probe(withBf: org.apache.spark.sql.DataFrame, bits: Int, k: Int) =
      withBf.select(
        F.col("doc_id"),
        graft.plans.BloomExpressions.bloomCountHits(
          F.col("sh"), F.col("bf"), bits.toLong, k).as("kern"),
        F.expr(s"""cast(size(filter(
            transform(sh, s -> xxhash64(s)), h ->
            ${graft.text.Bloom.mightContainHashExpr("bf", "h", bits, k)}))
          as bigint)""").as("hof"))
    for ((bits, k) <- Seq((1 << 20, 5), (64, 5))) {
      val bf = graft.text.Bloom.build(
        docs.filter(F.col("doc_id") % 7 === 0), "sh", bits, k)
      val both = probe(docs.crossJoin(F.broadcast(bf)), bits, k)
      assert(both.filter(F.col("kern") =!= F.col("hof")).count() === 0,
        s"kernel/HOF divergence at bits=$bits")
    }
    // a NULL filter is the one stated divergence: the kernel yields
    // NULL, while the HOF form drops every probe and counts 0
    val nullBf = probe(weird.withColumn("bf",
      F.lit(null).cast("array<bigint>")), 64, 5).collect()
    assert(nullBf.length === 3)
    nullBf.foreach { r =>
      assert(r.isNullAt(1), s"kernel on a NULL filter: $r")
      assert(r.getLong(2) === 0L, s"HOF on a NULL filter: $r")
    }
    // the HOF form casts positions to int; a wider filter is refused
    // up front instead of probing wrapped positions
    val maxBits = graft.plans.BloomKernels.MaxBits
    assert(maxBits == Int.MaxValue.toLong)
    graft.plans.BloomExpressions.bloomCountHits(
      F.col("sh"), F.col("bf"), maxBits, 5)
    intercept[IllegalArgumentException] {
      graft.plans.BloomExpressions.bloomCountHits(
        F.col("sh"), F.col("bf"), maxBits + 1, 5)
    }
  }

  test("count-min estimates dominate exact counts for EVERY token") {
    val s = spark
    import graft.sketch.CountMin
    val ex = T.load(s, sf, "documents")
      .select(F.explode(
        graft.plans.TextExpressions.wordTokens(F.col("text"))).as("tok"))
    val cm = CountMin.build(
      ex.select(F.xxhash64(F.col("tok")).as("__h")), "__h", 1024, 4)
    val checked = ex.groupBy("tok").agg(F.count(F.lit(1)).as("c"))
      .crossJoin(F.broadcast(cm))
      .withColumn("est",
        F.expr(CountMin.estimateExpr("cm", "xxhash64(tok)", 1024, 4)))
    assert(checked.filter(F.col("est") < F.col("c")).count() === 0)
    // sketch mass conservation: every row of the sketch sums to N
    val n = ex.count()
    val rowSums = cm.select(F.expr(
      """transform(sequence(0, 3), r ->
           aggregate(slice(cm, r * 1024 + 1, 1024), 0L, (a, x) -> a + x))"""
    ).as("s")).collect()(0).getSeq[Long](0)
    assert(rowSums.forall(_ === n))
  }

  test("chunk: windows tile the token stream with the configured overlap") {
    val s = spark
    import s.implicits._
    val text130 = (1 to 130).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text130), (2L, (1 to 50).map(i => s"u$i").mkString(" ")),
      (3L, "short doc"), (4L, "")).toDF("doc_id", "text")
    val out = graft.text.TextOps.chunk(docs, "doc_id", "text", 50, 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // doc 4 is empty → no chunks; doc 2 fits one window; doc 3 short
    assert(!out.exists(_._1 == 4L))
    assert(out.count(_._1 == 2L) == 1 && out.count(_._1 == 3L) == 1)
    // doc 1: 130 toks → chunks at starts 0/40/80 (50 toks) per
    // 1 + ceil((130-50)/40) = 3
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(c => (c._2, c._3)).toSeq === Seq((0, 50), (1, 50), (2, 50)))
    assert(d1(0)._4.startsWith("t1 t2 ") && d1(0)._4.endsWith(" t50"))
    assert(d1(1)._4.startsWith("t41 ") && d1(1)._4.endsWith(" t90"))
    assert(d1(2)._4.startsWith("t81 ") && d1(2)._4.endsWith(" t130"))
    // stride-trimmed reassembly: first 40 tokens of each chunk + the
    // tail of the last one reconstruct the document
    val rebuilt = d1.init.map(_._4.split(" ").take(40).mkString(" "))
      .mkString(" ") + " " + d1.last._4
    assert(rebuilt === text130)
  }

  test("groupShingleOverlap computes pairwise Jaccard over distinct shingles") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("a", "one two three four"),     // shingles: {one two three, two three four}
      ("b", "one two three"),          // {one two three}
      ("c", "five six seven eight")    // disjoint
    ).toDF("source", "text")
      .withColumn("sh", graft.plans.TextExpressions.wordShingles(F.col("text"), 3))
    val out = graft.dedup.Dedup.groupShingleOverlap(docs, "source", "sh")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // only overlapping pairs appear (inner join on shared shingles)
    assert(out.keySet === Set(("a", "b")))
    assert(out(("a", "b")) === ((1L, 2L, 1L, 0.5)))
  }

  test("fixedSizePerGroup with explicit score matches the window formulation") {
    val s = spark
    val docs = T.load(s, sf, "documents").withColumn("score",
      F.expr("cast(((doc_id % 1000003) * 2654435761) % 1000003 as double)"))
    val topk = graft.ops.Sampling.fixedSizePerGroup(
      docs, Seq("source"), "doc_id", 5, scoreCol = Some("score"))
    val win = docs.select("source", "doc_id", "score")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(F.col("score").desc, F.col("doc_id"))))
      .filter(F.col("rnk") <= 5)
    assert(topk.exceptAll(win.select(topk.columns.map(F.col): _*)).count() === 0)
    assert(win.count() === topk.count())
  }

  test("KS drift: tie-correct, two-sided, detects shift (shared op = the q112 plan)") {
    val s = spark
    import s.implicits._
    def ks(rows: Seq[(String, Long)]): Map[String, Double] =
      graft.ops.StatOps.ksPerGroup(rows.toDF("source", "x"), "source", "x")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 1. TIES: every row has the same value; identical distributions
    // must score EXACTLY 0 no matter how ids are grouped (a row-rank
    // "ECDF" would report 0.5 here)
    val tied = (1L to 200L).map(i => (if (i <= 100) "a" else "b", 5L))
    assert(ks(tied) === Map("a" -> 0.0, "b" -> 0.0))
    // 2. BOTH SIDES: one source holds only the corpus maximum; its
    // ECDF is 0 until the top value, so true KS = (n-1)/n — a
    // source-points-only evaluation would report 0
    val oneHigh = (1L to 99L).map(i => ("a", i)) :+ ("b", 1000L)
    val oh = ks(oneHigh)
    assert(math.abs(oh("b") - 0.99) < 1e-9, s"one-high ks=$oh")
    // 3. identical multisets score identically; a shifted source
    // scores far higher
    val rows = (1L to 300L).map { i =>
      val src = (i % 3) match { case 0 => "a"; case 1 => "b"; case _ => "c" }
      val x = ((i / 3) * 37) % 500 + (if (src == "c") 1000L else 0L)
      (src, x)
    }
    val out = ks(rows)
    assert(out("a") === out("b"), s"identical multisets differ: $out")
    assert(out("c") > 0.5 && out("a") < 0.4, s"ks=$out")
    out.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("weighted sample favors heavy rows and matches the window formulation") {
    val s = spark
    import s.implicits._
    // two groups; weights: doc 1 huge, doc 2..4 tiny — doc 1 should
    // essentially always rank first in its group
    val df = Seq(
      ("a", 1L, 1e6), ("a", 2L, 1e-3), ("a", 3L, 1e-3),
      ("b", 4L, 5.0), ("b", 5L, 5.0)
    ).toDF("g", "id", "w")
      .withColumn("u",
        F.expr("(cast(((id % 1000003) * 2654435761) % 1000003 as double) + 1.0) / 1000004.0"))
    val out = graft.ops.Sampling.weightedSamplePerGroup(
      df, Seq("g"), "id", "w", "u", 2)
    assert(out.filter(F.col("g") === "a" && F.col("rnk") === 1)
      .select("id").collect()(0).getLong(0) === 1L)
    val win = df
      .withColumn("__key", F.expr("pow(u, 1.0d / w)"))
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(F.col("__key").desc, F.col("id"))))
      .filter(F.col("rnk") <= 2).select("g", "id", "rnk")
    assert(out.select("g", "id", "rnk").exceptAll(win).count() === 0)
    assert(out.count() === win.count())
  }

  test("shuffle produces a permutation of 1..n decorrelated from doc_id") {
    val s = spark
    val sh = SparkEntry.queries("q37_shuffle")(s, sf)
    val n = sh.count()
    assert(sh.select("pos").distinct().count() === n)
    assert(sh.agg(F.min("pos"), F.max("pos")).collect()(0).toSeq === Seq(1L, n))
    // md5 order must not be id order
    assert(sh.filter(F.col("pos") === F.col("doc_id") + 1).count() < n / 2)
  }

  test("trigram LM scores fluent text above character noise") {
    val s = spark
    import s.implicits._
    // corpus: many fluent near-identical sentences + one noise doc;
    // the noise doc's trigrams are rare under the corpus model
    val fluent = (1 to 40).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog $i"))
    val noise = Seq((99L, "zqxv kjwp qzzt xvkk wqpj zzkt"))
    (fluent ++ noise).toDF("doc_id", "text")
      .createOrReplaceTempView("__lm_docs")
    val grams = s.table("__lm_docs")
      .select(F.col("doc_id"), F.lower(F.col("text")).as("t"))
      .select(F.col("doc_id"), F.explode(F.expr(
        "transform(sequence(1, length(t) - 2), i -> substr(t, i, 3))"))
        .as("tri"))
      .withColumn("big", F.expr("substr(tri, 1, 2)"))
    val c3 = grams.groupBy("tri").agg(F.count(F.lit(1)).as("c3"))
    val c2 = grams.groupBy("big").agg(F.count(F.lit(1)).as("c2"))
    val scored = grams.join(c3, "tri").join(c2, "big")
      .groupBy("doc_id")
      .agg(F.avg(F.log(
        F.col("c3").cast("double") / (F.col("c2") + F.lit(5.0d))))
        .as("lm_score"))
    val rows = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fluentAvg = fluent.map(f => rows(f._1)).sum / fluent.size
    assert(rows(99L) < fluentAvg - 0.5,
      s"noise ${rows(99L)} should score well below fluent avg $fluentAvg")
  }

  test("packedTrigrams kernel matches the per-position substring form") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "The quick brown fox!"), (2L, "ab"), (3L, "αβγδε"),
      (4L, "MIXED case WiTh 123")).toDF("doc_id", "text")
    val kernel = df.select(F.col("doc_id"),
      F.explode(graft.plans.TextExpressions.packedTrigrams(F.col("text")))
        .as("tri"))
    val sql = df.select(F.col("doc_id"), F.lower(F.col("text")).as("t"))
      .filter(F.length(F.col("t")) >= 3)
      .select(F.col("doc_id"), F.explode(F.expr(
        """transform(sequence(1, length(t) - 2), i ->
           (cast(ascii(substr(t, i, 1)) as bigint) << 42)
           | (cast(ascii(substr(t, i + 1, 1)) as bigint) << 21)
           | cast(ascii(substr(t, i + 2, 1)) as bigint))""")).as("tri"))
    assert(kernel.exceptAll(sql).count() === 0)
    assert(sql.exceptAll(kernel).count() === 0)
  }

  test("budget carve keeps a prefix within 20% of each source's tokens") {
    val s = spark
    val out = SparkEntry.queries("q116_budget_carve")(s, sf)
    val totals = T.load(s, sf, "documents")
      .withColumn("tok", F.size(
        graft.plans.TextExpressions.wordTokens(F.col("text"))).cast("long"))
      .groupBy("source").agg(F.sum("tok").as("tot"))
    val joined = out.groupBy("source")
      .agg(F.max("cum").as("kept"), F.count(F.lit(1)).as("n"))
      .join(totals, "source").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val kept = r.getAs[Long]("kept"); val tot = r.getAs[Long]("tot")
      assert(kept <= 0.2 * tot, s"source ${r.getString(0)}: $kept > 20% of $tot")
    }
  }

  test("hll union gates hold and the union row dominates per-source counts") {
    val s = spark
    val out = SparkEntry.queries("q118_hll_union")(s, sf).collect()
    assert(out.forall(_.getAs[Boolean]("hll_ok")))
    val all = out.filter(_.getString(0) == "__ALL__").head.getAs[Long]("n_exact")
    val per = out.filter(_.getString(0) != "__ALL__").map(_.getAs[Long]("n_exact"))
    assert(per.nonEmpty && all >= per.max && all <= per.sum)
  }

  test("gopher rules: keep is exactly the conjunction of its components") {
    val out = SparkEntry.queries("q128_gopher_rules")(spark, sf)
    val bad = out.filter(
      F.col("keep") =!= (F.col("n_words").between(50, 100000) &&
        F.col("mean_word_len").between(3, 10) &&
        F.col("alpha_frac") >= 0.8 && F.col("stop_hits") >= 2))
    assert(bad.isEmpty)
    // the corpus exercises both branches
    val keeps = out.groupBy("keep").count().collect()
    assert(keeps.length == 2, s"only one keep value: ${keeps.toSeq}")
  }

  test("zipf slope is negative (freq decreases with rank) per source") {
    val out = SparkEntry.queries("q129_zipf")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("zipf_slope") < 0,
        s"source ${r.getString(0)} slope not negative")
    }
  }

  test("dsir weights favor the target subset (en docs score higher)") {
    val s = spark
    val w = SparkEntry.queries("q130_dsir")(s, sf)
      .join(T.load(s, sf, "documents").select("doc_id", "lang"), "doc_id")
    val m = w.groupBy(F.col("lang") === "en")
      .agg(F.avg("dsir_logweight").as("mw")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(m(true) > m(false),
      s"en mean ${m(true)} not above non-en ${m(false)}")
  }

  test("salted two-stage aggregation equals the direct groupBy") {
    val s = spark
    val salted = SparkEntry.queries("q132_salted_agg")(s, sf)
    val direct = T.load(s, sf, "events").groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("value"), 2).as("total"))
    assert(salted.exceptAll(direct).isEmpty &&
      direct.exceptAll(salted).isEmpty)
  }

  test("quantile sketch gates hold per source") {
    val out = SparkEntry.queries("q131_quantile_sketch")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Boolean]("sketch_ok_p50") &&
      r.getAs[Boolean]("sketch_ok_p90")))
  }

  test("q190 MAD outliers equal driver-side exact median arithmetic") {
    def interp(sorted: Array[Double], q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val k = pos.toInt
      val g = pos - k
      if (k + 1 < sorted.length) (1 - g) * sorted(k) + g * sorted(k + 1)
      else sorted(k)
    }
    val vals = T.load(spark, sf, "events")
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = vals.groupBy(_._1).flatMap { case (t, rows) =>
      val xs = rows.map(_._3).sorted
      val med = interp(xs, 0.5)
      val mad = interp(rows.map(r => math.abs(r._3 - med)).sorted, 0.5)
      if (mad <= 0) Seq.empty[(Long, Double)]
      else rows.toSeq.collect {
        case (_, id, v) if math.abs((v - med) / (1.4826 * mad)) > 3 =>
          (id, BigDecimal((v - med) / (1.4826 * mad))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toMap
    val got = SparkEntry.queries("q190_mad_outliers")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, z) =>
      assert(math.abs(got(id) - z) < 1e-9, s"event $id") }
  }

  test("q188 surprisal equals driver-side unigram cross-entropy") {
    val toks = T.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.expr(
          "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')")
          .as("t"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    val uni = toks.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val n = uni.values.sum.toDouble
    val want = toks.filter(_._2.nonEmpty).map { case (id, ts) =>
      val l = ts.length
      val s = ts.groupBy(identity)
        .map { case (t, xs) => xs.length * math.log(uni(t)) }.sum
      id -> (-(s - l * math.log(n)) / (l * math.log(2)))
    }.toMap
    val got = SparkEntry.queries("q188_surprisal")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size == want.size)
    want.foreach { case (id, v) =>
      assert(math.abs(got(id) - v) < 1e-5, s"doc $id: ${got(id)} vs $v")
    }
    // rare-token docs must out-surprise common-token docs on average:
    // sanity that the score orders as an LM filter expects
    assert(got.values.max > got.values.min)
  }
}
