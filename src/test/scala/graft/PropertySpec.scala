package graft

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.RelOps._
import graft.functions.SpecialMath

/** Property-based tests (SURVEY §5.2 item 4): NA-propagation algebra,
  * sort/group invariants, special-function identities — an upgrade over
  * the reference's example-based tests.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Deterministic sampling from a Gen (no scalatest-scalacheck bridge
    * in the offline cache): n samples with fixed seeds. */
  private def forAll[A](g: Gen[A], n: Int = 15)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  test("property: group sums partition the total sum") {
    forAll(Gen.listOfN(60, Gen.zip(Gen.choose(0, 5), Gen.choose(-1e6, 1e6)))) {
      xs: List[(Int, Double)] =>
        whenever(xs.nonEmpty) {
          val df = xs.toDF("k", "v")
          val total = df.agg(F.sum("v")).first().getDouble(0)
          val byGroup = df.groupBy("k").agg(F.sum("v").as("s"))
            .agg(F.sum("s")).first().getDouble(0)
          assert(math.abs(total - byGroup) <= 1e-6 * math.max(1.0,
            math.abs(total)))
        }
    }
  }

  test("property: NA propagation — arithmetic with null is null") {
    forAll(Gen.listOfN(20, Gen.option(Gen.choose(-100.0, 100.0)))) {
      xs: List[Option[Double]] =>
        val df = xs.toDF("v")
        val out = df.select((F.col("v") * 2 + 1).as("y")).collect()
        out.zip(xs).foreach { case (row, x) =>
          assert(row.isNullAt(0) == x.isEmpty)
          x.foreach(v => assert(row.getDouble(0) == v * 2 + 1))
        }
    }
  }

  test("property: aggregates skip nulls; count(*) counts them") {
    forAll(Gen.listOfN(30, Gen.option(Gen.choose(-1e3, 1e3)))) {
      xs: List[Option[Double]] =>
        whenever(xs.flatten.nonEmpty) {
          val df = xs.toDF("v")
          val r = df.agg(F.sum("v"), F.count(F.col("v")),
            F.count(F.lit(1))).first()
          assert(math.abs(r.getDouble(0) - xs.flatten.sum) < 1e-6)
          assert(r.getLong(1) == xs.flatten.size)
          assert(r.getLong(2) == xs.size)
        }
    }
  }

  test("property: sortBy is a permutation and respects ordering") {
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0, 9), Gen.choose(0, 1e6)))) {
      xs: List[(Int, Double)] =>
        whenever(xs.nonEmpty) {
          val df = xs.toDF("k", "v")
          val sorted = df.sortBy(Ordering("k", desc = true), Ordering("v"))
            .collect()
          assert(sorted.length == xs.length)
          val pairs = sorted.map(r => (r.getInt(0), r.getDouble(1))).toSeq
          assert(pairs.sortBy { case (k, v) => (-k, v) } == pairs)
        }
    }
  }

  test("property: vcat row count and null fill") {
    forAll(Gen.zip(Gen.choose(0, 20), Gen.choose(0, 20))) { case (n: Int, m: Int) =>
      val a = (1 to n).map(i => (i, s"a$i")).toDF("id", "x")
      val b = (1 to m).map(i => i).toDF("id")
      val u = a.vcat(b)
      assert(u.count() == n + m)
      assert(u.filter(F.col("x").isNull).count() == m)
    }
  }

  test("property: erf is odd, monotone, bounded; erfc complements") {
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(-5.0, 5.0),
        Gen.choose(-5.0, 5.0))), n = 5) { ps: List[(Double, Double)] =>
      val x = F.col("x")
      ps.toDF("x", "y").select(x, F.col("y"), SpecialMath.erf(x),
          SpecialMath.erf(-x), SpecialMath.erf(F.col("y")),
          SpecialMath.erfc(x)).collect().foreach { r =>
        val Seq(xv, yv, ex, emx, ey, ecx) = (0 until 6).map(r.getDouble)
        assert(math.abs(ex + emx) < 1e-12)
        assert(ex.abs <= 1.0 + 1e-12)
        if (xv < yv) assert(ex <= ey + 1e-9)
        assert(math.abs(ex + ecx - 1.0) < 1e-12)
      }
    }
  }

  test("property: digamma recurrence psi(x+1) = psi(x) + 1/x") {
    forAll(Gen.listOfN(20, Gen.choose(0.5, 50.0)), n = 5) { xs: List[Double] =>
      val x = F.col("x")
      xs.toDF("x").select(x, SpecialMath.digamma(x + 1),
          SpecialMath.digamma(x)).collect().foreach { r =>
        val (xv, lhs, psi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
        val rhs = psi + 1.0 / xv
        assert(math.abs(lhs - rhs) < 1e-8, s"x=$xv lhs=$lhs rhs=$rhs")
      }
    }
  }

  test("property: exact quantiles equal sorted-rank interpolation") {
    val gen = Gen.zip(
      Gen.nonEmptyListOf(Gen.oneOf(
        Gen.choose(-1e6, 1e6),
        Gen.choose(-5.0, 5.0),     // duplicate-heavy small range
        Gen.oneOf(0.0, 1.0, 1.0))), // ties
      Gen.choose(0.0, 1.0))
    forAll(gen, n = 10) { case (xs: List[Double], q: Double) =>
      val df = xs.toDF("x")
      val got = graft.ops.Quantiles.exact(df, "x", Seq(q)).head
      // a tiny collect limit forces the histogram refinement rounds
      val refined = graft.ops.Quantiles.exactMulti(df, Seq("x"), Seq(q),
        k = 64, collectLimit = 2)("x").head
      val sorted = xs.sorted
      val pos = q * (sorted.length - 1)
      val (lo, hi) = (sorted(pos.floor.toInt), sorted(pos.ceil.toInt))
      val want = lo + (pos - pos.floor) * (hi - lo)
      for (x <- Seq(got, refined))
        assert(math.abs(x - want) <= 1e-9 * math.max(1.0, math.abs(want)),
          s"q=$q got=$x want=$want n=${xs.length}")
    }
  }

  test("property: pasteRecycle matches elementwise concat with recycling") {
    val arrGen = Gen.nonEmptyListOf(Gen.alphaNumStr.map(_.take(4)))
    forAll(Gen.zip(arrGen, arrGen), n = 10) {
      case (a: List[String], b: List[String]) =>
        val df = Seq((a, b)).toDF("a", "b")
        val got = df.select(graft.functions.Funcs
          .pasteRecycle("_", F.col("a"), F.col("b")).as("p"))
          .head().getSeq[String](0)
        val len = math.max(a.length, b.length)
        val want = (0 until len).map(i =>
          a(i % a.length) + "_" + b(i % b.length))
        assert(got == want)
    }
  }

  test("property: issorted agrees with Scala sortedness on one partition") {
    forAll(Gen.listOfN(25, Gen.choose(-1000L, 1000L)), n = 10) {
      xs: List[Long] =>
        whenever(xs.nonEmpty) {
          val df = xs.toDF("k").coalesce(1)
          assert(df.sortBy(Ordering("k")).issorted(Ordering("k")))
          // the raw insertion order is sorted iff the list is
          val expect = xs == xs.sorted
          assert(df.issorted(Ordering("k")) == expect)
        }
    }
  }

  test("property: bloom filter never false-negatives, any sizing") {
    forAll(Gen.zip(
      Gen.listOfN(30, Gen.alphaNumStr.suchThat(_.nonEmpty)),
      Gen.oneOf(64, 256, 4096), Gen.choose(1, 7)), n = 6) {
      case (words: List[String], bits: Int, k: Int) =>
        whenever(words.nonEmpty) {
          val df = words.map(w => Tuple1(Seq(w))).toDF("sh")
          val bf = graft.text.Bloom.build(df, "sh", bits, k)
          val misses = df.crossJoin(F.broadcast(bf))
            .filter(!F.expr(graft.text.Bloom.mightContainHashExpr(
              "bf", "xxhash64(element_at(sh, 1))", bits, k)))
            .count()
          assert(misses === 0)
        }
    }
  }

  test("property: count-min estimate dominates the exact count") {
    forAll(Gen.zip(
      Gen.listOfN(80, Gen.choose(1, 12)),
      Gen.oneOf(16, 64, 512)), n = 6) {
      case (xs: List[Int], width: Int) =>
        whenever(xs.nonEmpty) {
          val df = xs.map(x => Tuple1(s"tok$x")).toDF("t")
            .select(F.col("t"), F.xxhash64(F.col("t")).as("h"))
          val cm = graft.sketch.CountMin.build(df, "h", width, 4)
          val bad = df.groupBy("t", "h").agg(F.count(F.lit(1)).as("c"))
            .crossJoin(F.broadcast(cm))
            .withColumn("est", F.expr(
              graft.sketch.CountMin.estimateExpr("cm", "h", width, 4)))
            .filter(F.col("est") < F.col("c")).count()
          assert(bad === 0)
        }
    }
  }

  test("property: Morton interleave round-trips and orders aligned quads") {
    import graft.plans.ZOrderKernels
    def extractEven(z: Long): Long = {
      var v = z & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      v = (v | (v >> 16)) & 0x00000000FFFFFFFFL
      v
    }
    forAll(Gen.zip(Gen.choose(0L, 0xFFFFFFFFL), Gen.choose(0L, 0xFFFFFFFFL)),
      n = 40) { case (a: Long, b: Long) =>
      val z = ZOrderKernels.interleave(a, b)
      assert(extractEven(z) === a, s"a round-trip for ($a,$b)")
      assert(extractEven(z >> 1) === b, s"b round-trip for ($a,$b)")
    }
    // quadrant order: if BOTH coords of p are strictly below a power-of-2
    // boundary that q's coords meet or exceed, z(p) < z(q)
    forAll(Gen.zip(Gen.choose(1, 30), Gen.choose(0L, 0xFFFFL),
      Gen.choose(0L, 0xFFFFL)), n = 25) { case ((k: Int, a: Long, b: Long)) =>
      val bound = 1L << k
      val lo = ZOrderKernels.interleave(a % bound, b % bound)
      val hi = ZOrderKernels.interleave(bound + (a % bound),
        bound + (b % bound))
      assert(lo < hi)
    }
  }

  test("property: packedTrigrams agrees with string trigrams") {
    import org.apache.spark.unsafe.types.UTF8String
    val charGen = Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(
      ' ', '!', 'α', 'β', 'É', 'ü'))
    forAll(Gen.listOfN(24, charGen), n = 25) { cs: List[Char] =>
      val s = cs.mkString
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      val packed = graft.plans.TextKernels
        .packedTrigrams(UTF8String.fromString(s))
      val n = lower.codePointCount(0, lower.length)
      val expected =
        if (n < 3) Seq.empty
        else {
          val cps = lower.codePoints().toArray
          (0 until n - 2).map(i =>
            (cps(i).toLong << 42) | (cps(i + 1).toLong << 21) |
              cps(i + 2).toLong)
        }
      assert(packed.toLongArray().toSeq === expected)
    }
  }

  // ---- each plans/ kernel against its plain Spark form (PlainForms) ----

  /** Rows where `kern` and `plain` disagree; NULL matches NULL and NaN
    * matches NaN (Spark's null-safe equality). */
  private def divergent(df: DataFrame, kern: Column,
                        plain: Column): Seq[Row] =
    df.select(F.col("*"), kern.as("__k"), plain.as("__p"))
      .filter(!(F.col("__k") <=> F.col("__p"))).collect().toSeq

  /** NULL, empty, and text mixing ASCII with characters whose case
    * mapping or encoding is unusual: dotted/dotless i, sharp s, final
    * sigma, the Kelvin sign, a combining dot, surrogate pairs. */
  private val advText: Gen[Option[String]] = {
    val piece = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf(" ", "  ", ".", ",", "\n", "-", "_"),
      3 -> Gen.oneOf("\u0130", "\u0131", "\u00DF", "\u03A3", "\u03C2",
        "\u212A", "\u00C9", "i\u0307", "\uD83D\uDE00", "\uD835\uDD18",
        "\u01C4", "\uFB01"))
    Gen.frequency(
      1 -> Gen.const(None), 1 -> Gen.const(Some("")),
      8 -> Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, piece))
        .map(p => Some(p.mkString)))
  }

  private def textProperty(kern: Column => Column, plain: Column => Column,
                           gen: Gen[Option[String]] = advText): Unit =
    forAll(Gen.listOfN(30, gen), n = 10) { xs: List[Option[String]] =>
      val bad = divergent(xs.toDF("s"), kern(F.col("s")), plain(F.col("s")))
      assert(bad.isEmpty, s"kernel != plain form on: ${bad.mkString(", ")}")
    }

  test("property: wordTokens kernel equals the split/filter form") {
    textProperty(graft.plans.TextExpressions.wordTokens, PlainForms.tokens)
  }

  test("property: wordShingles kernel equals the HOF shingle form") {
    Seq(1, 2, 3, 5).foreach { n =>
      textProperty(graft.plans.TextExpressions.wordShingles(_, n),
        PlainForms.shingles(_, n))
    }
  }

  test("property: packedTrigrams kernel equals the codepoint HOF form") {
    // capital sigma is left out: see the pinned divergence below
    textProperty(graft.plans.TextExpressions.packedTrigrams,
      PlainForms.packedTrigrams,
      advText.map(_.map(_.replace("\u03A3", "\u03C3"))))
    // the stated divergence: the kernel lowercases with
    // String.toLowerCase(Locale.ROOT), which maps a word-final capital
    // sigma to final sigma (U+03C2); Spark's lower() gives U+03C3
    val r = Seq("x-\u03A3\nf").toDF("s").select(
      graft.plans.TextExpressions.packedTrigrams(F.col("s")),
      PlainForms.packedTrigrams(F.col("s"))).first()
    def mid(c: Int) = (r.getSeq[Long](c)(1) >> 21) & 0x1FFFFF
    assert(mid(0) == 0x3C2 && mid(1) == 0x3C3)
  }

  test("property: polyHash62 kernel equals the oracle's codepoint folds") {
    textProperty(graft.plans.TextExpressions.polyHash62,
      PlainForms.polyHash62)
  }

  test("property: rollingHashes kernel equals one fold per window") {
    Seq(1, 3, 20).foreach { n =>
      textProperty(graft.plans.TextExpressions.rollingHashes(_, n),
        PlainForms.rollingHashes(_, n))
    }
  }

  test("property: jaroWinkler expression equals its Scala kernel") {
    // no built-in form to compare with: the property pins the
    // expression (generated code) to the kernel function it calls, and
    // the kernel's range and edge values
    import graft.plans.StringSimilarityKernels.{jaroWinkler => jw}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    forAll(Gen.listOfN(30, Gen.zip(advText, advText)), n = 10) {
      ps: List[(Option[String], Option[String])] =>
        val got = ps.toDF("a", "b").select(graft.plans.StringSimilarity
          .jaroWinkler(F.col("a"), F.col("b"))).collect()
        got.zip(ps).foreach { case (r, (a, b)) =>
          if (a.isEmpty || b.isEmpty) assert(r.isNullAt(0))
          else {
            val want = jw(u(a.get), u(b.get))
            assert(r.getDouble(0) == want, s"($a, $b)")
            assert(want >= 0.0 && want <= 1.0)
            if (a.get.isEmpty || b.get.isEmpty) assert(want == 0.0)
            else if (a == b) assert(want == 1.0)
          }
        }
    }
  }

  test("property: zvalue kernel equals the shift/mask Column form") {
    val l = Gen.frequency(4 -> Gen.choose(0L, 0xFFFFFFFFL),
      2 -> Gen.choose(Long.MinValue, Long.MaxValue),
      1 -> Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue, 0x100000000L))
    forAll(Gen.listOfN(40, Gen.zip(Gen.option(l), Gen.option(l))), n = 10) {
      ps: List[(Option[Long], Option[Long])] =>
        val bad = divergent(ps.toDF("a", "b"),
          graft.plans.ZOrder.zvalue(F.col("a"), F.col("b")),
          PlainForms.zvalue(F.col("a"), F.col("b")))
        assert(bad.isEmpty, s"kernel != plain form on: ${bad.mkString(", ")}")
    }
  }

  /** NULL, empty and ragged float vectors with NaN, ±Inf, ±0 and
    * extreme magnitudes (no NULL elements: see the vector kernels'
    * pinned NULL-element divergence below). */
  private val advVec: Gen[Option[Seq[Float]]] = {
    val x = Gen.frequency(
      8 -> Gen.choose(-4f, 4f),
      1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, 0f, -0f, Float.MaxValue, Float.MinPositiveValue))
    Gen.frequency(1 -> Gen.const(None),
      9 -> Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, x)).map(Some(_)))
  }

  private def vecProperty(kern: (Column, Column) => Column,
                          plain: (Column, Column) => Column): Unit =
    forAll(Gen.listOfN(40, Gen.zip(advVec, advVec)), n = 10) {
      vs: List[(Option[Seq[Float]], Option[Seq[Float]])] =>
        val bad = divergent(vs.toDF("a", "b"),
          kern(F.col("a"), F.col("b")), plain(F.col("a"), F.col("b")))
        assert(bad.isEmpty, s"kernel != plain form on: ${bad.mkString(", ")}")
    }

  test("property: dotF kernel equals aggregate(zip_with) in order") {
    vecProperty(graft.plans.VectorExpressions.dotF, PlainForms.dot)
  }

  test("property: cosineF kernel equals the guarded HOF form") {
    vecProperty(graft.plans.VectorExpressions.cosineF, PlainForms.cosine)
  }

  test("property: normF kernel equals sqrt(aggregate) in order") {
    vecProperty((a, _) => graft.plans.VectorExpressions.normF(a),
      (a, _) => PlainForms.norm(a))
  }

  test("property: srpBitsF kernel equals the per-plane expression tree") {
    val planes = graft.similarity.Srp.hyperplanes(4, 12, 5L)
    // NaN and ±Inf elements are left out: see the pinned divergence
    val finite = advVec.map(_.map(_.map(x => if (x.isInfinite || x.isNaN) 0f else x)))
    forAll(Gen.listOfN(40, finite), n = 10) { vs: List[Option[Seq[Float]]] =>
      val bad = divergent(vs.toDF("a"),
        graft.plans.VectorExpressions.srpBitsF(F.col("a"), planes),
        F.when(F.col("a").isNotNull, PlainForms.srpBits(F.col("a"), planes)))
      assert(bad.isEmpty, s"kernel != plain form on: ${bad.mkString(", ")}")
    }
    // the stated divergence: a NaN projection sets no bit in the kernel
    // (IEEE: NaN > 0 is false), every bit in the tree (Spark SQL orders
    // NaN above every number)
    val p3 = graft.similarity.Srp.hyperplanes(2, 3, 5L)
    val r = Seq(Seq(1f, Float.NaN)).toDF("v").select(
      graft.plans.VectorExpressions.srpBitsF(F.col("v"), p3),
      PlainForms.srpBits(F.col("v"), p3)).first()
    assert(r.getLong(0) == 0L && r.getLong(1) == 7L)
  }

  test("vector kernels: a NULL element is 0.0, a NULL vector is NULL") {
    // the two stated divergences from the plain forms: the kernels read
    // a NULL element as 0.0 (so 0 * Inf = NaN), where the plain form
    // skips it; srpBitsF returns NULL for a NULL vector, where the
    // expression tree sets no bit and returns 0
    val df = Seq((Seq(Some(1f), None), Seq(Some(2f), Some(Float.PositiveInfinity))))
      .toDF("a", "b")
    val r = df.select(graft.plans.VectorExpressions.dotF(F.col("a"), F.col("b")),
      PlainForms.dot(F.col("a"), F.col("b"))).first()
    assert(r.getDouble(0).isNaN && r.getDouble(1) == 2.0)
    val planes = graft.similarity.Srp.hyperplanes(2, 3, 5L)
    val n = Seq(Option.empty[Seq[Float]]).toDF("v").select(
      graft.plans.VectorExpressions.srpBitsF(F.col("v"), planes),
      PlainForms.srpBits(F.col("v"), planes)).first()
    assert(n.isNullAt(0) && n.getLong(1) == 0L)
  }

  test("property: ringSuccessor kernel equals the filter/array_min form") {
    val ring = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.frequency(3 -> Gen.choose(-50L, 50L),
        1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L)), Gen.choose(0, 5))))
    val h = Gen.frequency(6 -> Gen.choose(-60L, 60L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))
    forAll(Gen.zip(ring, Gen.listOfN(30, h)), n = 15) {
      case (r: List[(Long, Int)], hs: List[Long]) =>
        val bad = divergent(hs.toDF("h"),
          graft.plans.RingExpressions.ringSuccessor(F.col("h"), r),
          PlainForms.ringSuccessor(F.col("h"), r))
        assert(bad.isEmpty, s"ring $r diverges on: ${bad.mkString(", ")}")
    }
    // the stated divergence: a NULL hash has no successor in the
    // kernel (NULL); the filter form drops every position and wraps to
    // the ring's smallest (position, shard)
    val r = Seq((5L, 1), (2L, 3))
    val n = Seq(Option.empty[Long]).toDF("h").select(
      graft.plans.RingExpressions.ringSuccessor(F.col("h"), r),
      PlainForms.ringSuccessor(F.col("h"), r)).first()
    assert(n.isNullAt(0) && n.getInt(1) == 3)
  }

  test("property: bloomCountHits kernel equals the HOF probe count") {
    val word = Gen.frequency(4 -> Gen.oneOf("a b", "c d", "e f", "g h"),
      2 -> Gen.alphaStr, 1 -> Gen.const(""), 1 -> Gen.const(null: String))
    val shs = Gen.frequency(1 -> Gen.const(null: Seq[String]),
      9 -> Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, word)))
    forAll(Gen.zip(Gen.listOfN(20, shs), Gen.oneOf(64, 1 << 12),
        Gen.choose(1, 6)), n = 10) {
      case (rows: List[Seq[String]], bits: Int, k: Int) =>
        val df = rows.zipWithIndex.map { case (sh, i) => (i.toLong, sh) }
          .toDF("id", "sh")
        val bf = graft.text.Bloom.build(df.filter(F.col("id") % 3 === 0),
          "sh", bits, k)
        val bad = divergent(df.crossJoin(F.broadcast(bf)),
          graft.plans.BloomExpressions.bloomCountHits(
            F.col("sh"), F.col("bf"), bits.toLong, k),
          PlainForms.bloomCountHits("sh", "bf", bits, k))
        assert(bad.isEmpty, s"diverges on: ${bad.mkString(", ")}")
    }
  }
}
