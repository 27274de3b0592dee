package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.RelOps._
import graft.plans.SpecialMath

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
    forAll(Gen.zip(Gen.choose(-5.0, 5.0), Gen.choose(-5.0, 5.0))) {
      case (x: Double, y: Double) =>
        assert(math.abs(SpecialMath.erf(x) + SpecialMath.erf(-x)) < 1e-12)
        assert(SpecialMath.erf(x).abs <= 1.0 + 1e-12)
        if (x < y)
          assert(SpecialMath.erf(x) <= SpecialMath.erf(y) + 1e-9)
        assert(math.abs(SpecialMath.erf(x) + SpecialMath.erfc(x) - 1.0)
          < 1e-12)
    }
  }

  test("property: digamma recurrence psi(x+1) = psi(x) + 1/x") {
    forAll(Gen.choose(0.5, 50.0)) { x: Double =>
      val lhs = SpecialMath.digamma(x + 1)
      val rhs = SpecialMath.digamma(x) + 1.0 / x
      assert(math.abs(lhs - rhs) < 1e-8, s"x=$x lhs=$lhs rhs=$rhs")
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
}
