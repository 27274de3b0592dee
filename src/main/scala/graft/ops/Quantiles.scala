package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Distributed EXACT quantiles by iterative histogram refinement —
  * the same algorithmic family as the reference's distributed quantile
  * (iterative pivot guessing over blocks, reference
  * src/dataframe_blocks.jl:263-356), re-expressed as Catalyst
  * aggregate passes.
  *
  * Why not `percentile()`: it builds a per-partition value map whose
  * merge is O(distinct values) on ONE reducer — measured 2.9 s for a
  * single 600k-distinct column vs 0.9 s for a low-cardinality one, and
  * the merge thread only gets worse with scale. Why not a full sort:
  * a parallel sort shuffles the ENTIRE column to find 3 ranks.
  *
  * Here every pass is a codegen'd scan + tiny aggregate (≤ K×targets
  * groups shuffled), no wide shuffle, no cache:
  *   1. min/max/count per column (one agg row);
  *   2. bucket the candidate interval into K uniform bins, count per
  *      bin (one pass for ALL unresolved targets, stacked); locate the
  *      bin holding each target rank; recurse into it — each round
  *      shrinks candidates ~K×, and a bin whose min == max resolves
  *      its rank exactly (the duplicate-heavy case);
  *   3. when a target's candidate count ≤ collect limit, fetch just
  *      those values and rank-select driver-side.
  * Uniform data resolves in one refinement round. Interpolation
  * matches `percentile`/`quantile_cont` (linear between floor/ceil
  * ranks). Nulls are ignored per column; NaNs are not supported (they
  * are not ordered by < / >=). ±Infinity is supported: infinite values
  * occupy the extreme ranks by definition, so they are counted once
  * and resolved directly while refinement runs only over the finite
  * interior (interval arithmetic on an infinite bound is NaN-poisoned).
  * Bucket arithmetic is division-first in half-space, so a finite span
  * up to the full double range (hi - lo overflowing) cannot overflow.
  */
object Quantiles {

  /** Default histogram bins per refinement round. Each round shrinks a
    * target's candidate interval ~K×, so rounds ≈ log_K(n/collectLimit)
    * — 8192 gives ≤2 rounds up to ~4e12 rows. Larger K = fewer rounds
    * but a bigger (K × targets)-row histogram shuffle per pass. */
  val DefaultK = 8192
  /** Default max candidate values rank-selected driver-side. Bounds the
    * ONE driver collect at 64k doubles (~512 KB) per target group.
    * The duplicate-heavy worst case needs no special limit: a bin whose
    * min == max resolves its ranks exactly in-plan (never collected),
    * so a 10⁶-row constant column resolves in the FIRST pass —
    * adversarial test in OpsSpec. */
  val DefaultCollectLimit = 65536L
  private val MaxRounds = 64 // safety valve; ~2 rounds in practice

  /** GK warm-start knobs. A warm start probes each target quantile
    * ± `WarmMargin` with one `percentile_approx` sketch —
    * Greenwald-Khanna, deterministic rank error ≤ n/accuracy. The two
    * probe VALUES bracket the target's true floor/ceil ranks whenever
    * 3·(n/accuracy) covers the probe-vs-rank slack, i.e. n ≳ accuracy;
    * below [[WarmMinN]] the bracket is not attempted. The bracket is a
    * PERFORMANCE hint only: round 1 count-verifies it with sentinel
    * bins, so a wrong bracket costs one extra round, never a wrong
    * answer. */
  val WarmAccuracy = 1000
  val WarmMargin: Double = 4.0 / WarmAccuracy
  val WarmMinN = 2000L

  /** Exact interpolated quantiles of one numeric column. */
  def exact(df: DataFrame, col: String, qs: Seq[Double]): Seq[Double] =
    exactMulti(df, Seq(col), qs)(col)

  /** One in-flight quantile: the value at fractional position `pos`
    * of column `col` needs ranks floor(pos)/ceil(pos); candidates =
    * rows passing `chain`, which are the `count` values at global
    * ranks [offset, offset+count). [lo, hi] bounds the candidates for
    * the next bucketing expression. */
  private final case class TState(
      col: String, q: Double, pos: Double,
      offset: Long, count: Long,
      lo: Double, hi: Double, chain: Column,
      vLo: Option[Double], vHi: Option[Double],
      warm: Boolean = false) {
    def rankLo: Long = math.floor(pos).toLong
    def rankHi: Long = math.ceil(pos).toLong
    def resolved: Boolean = vLo.isDefined && vHi.isDefined
    def interpolate: Double = {
      val (a, b) = (vLo.get, vHi.get)
      if (rankLo == rankHi) a else a + (pos - rankLo) * (b - a)
    }
  }

  /** Exact interpolated quantiles of several numeric columns; all
    * columns and quantiles share each refinement pass. `stats` can
    * supply precomputed (min, max, non-null count) per column to skip
    * the first pass (describe already has them). `warm` optionally
    * supplies GK bracket probe VALUES per column — `2·qs.size` doubles,
    * `(value at q₁−margin, value at q₁+margin, value at q₂−margin, …)`
    * in `qs` order, from `percentile_approx(col, …, WarmAccuracy)` —
    * piggybacked on the caller's own stats aggregate (describe does
    * this). When `stats` is not supplied, the internal stats pass
    * computes the sketch itself at no extra pass. Warm targets run
    * round 1 over their bracket with SENTINEL bins (−1 / k for values
    * outside it), so rank arithmetic stays global and a wrong bracket
    * costs one extra round, never a wrong answer. Because a GK
    * bracket holds ~8·n/accuracy rows, round-1 bins over it are
    * near-singleton and most ranks resolve IN the histogram pass,
    * eliminating the final collect pass (3 full scans → 2). */
  def exactMulti(df: DataFrame, cols: Seq[String], qs: Seq[Double],
                 stats: Map[String, (Double, Double, Long)] = Map.empty,
                 k: Int = DefaultK,
                 collectLimit: Long = DefaultCollectLimit,
                 warm: Map[String, Seq[Double]] = Map.empty)
      : Map[String, Seq[Double]] = {
    require(cols.nonEmpty && qs.nonEmpty)
    require(warm.values.forall(_.size == 2 * qs.size),
      s"warm probes must carry 2 values per quantile")
    val st: Map[String, (Double, Double, Long)] =
      if (cols.forall(stats.contains)) stats
      else {
        val aggs = cols.flatMap { c =>
          Seq(F.min(F.col(c).cast("double")).as(s"${c}__min"),
            F.max(F.col(c).cast("double")).as(s"${c}__max"),
            F.count(F.col(c)).as(s"${c}__n"))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).first()
        cols.map { c =>
          c -> ((row.getAs[Double](s"${c}__min"),
            row.getAs[Double](s"${c}__max"), row.getAs[Long](s"${c}__n")))
        }.toMap
      }
    // Auto-sketch gate (round 12): a GK bracket pays for itself only
    // when the COLD engine needs ≥2 refinement rounds, i.e. n >
    // k·collectLimit (~5×10⁸ at the defaults) — below that, one
    // histogram round already narrows every rank under the collect
    // budget and the sketch is pure added cost (measured: q21 0.66 →
    // 1.51 s with an unconditional sketch). Past the gate, one sketch
    // pass replaces ≥1 full-data refine round AND its near-singleton
    // bracket bins usually resolve ranks without the final collect.
    val sketchCols = cols.filter { c =>
      !warm.contains(c) && st(c)._3 > k.toLong * collectLimit &&
        st(c)._1 != st(c)._2 && st(c)._1 > Double.NegativeInfinity &&
        st(c)._2 < Double.PositiveInfinity
    }
    val warmAll: Map[String, Seq[Double]] =
      if (sketchCols.isEmpty) warm
      else {
        val probeQs = qs.flatMap(q => Seq(
          math.max(0.0, q - WarmMargin), math.min(1.0, q + WarmMargin)))
        val aggs = sketchCols.map { c =>
          F.percentile_approx(F.col(c).cast("double"),
            F.array(probeQs.map(F.lit): _*), F.lit(WarmAccuracy))
            .as(s"${c}__wb")
        }
        val row = df.agg(aggs.head, aggs.tail: _*).first()
        warm ++ sketchCols.map { c =>
          val wb = row.getAs[scala.collection.Seq[Double]](s"${c}__wb")
          c -> (if (wb == null) Seq.empty[Double] else wb.toSeq)
        }.filter(_._2.size == 2 * qs.size).toMap
      }
    cols.foreach { c =>
      require(st(c)._3 > 0, s"no non-null values in $c")
    }

    // ±Infinity pre-pass: infinite bounds poison interval bucketing
    // (hi - lo = NaN/Inf), but infinities sit at the extreme ranks by
    // definition — count them and bound the finite interior.
    val infCols = cols.filter(c => st(c)._1.isInfinite || st(c)._2.isInfinite)
    val infSt: Map[String, (Long, Long, Double, Double)] =
      if (infCols.isEmpty) Map.empty
      else {
        val aggs = infCols.flatMap { c =>
          val v = F.col(c).cast("double")
          val fin = v.between(-Double.MaxValue, Double.MaxValue)
          Seq(
            F.count(F.when(v === Double.NegativeInfinity, 1))
              .as(s"${c}__ni"),
            F.count(F.when(v === Double.PositiveInfinity, 1))
              .as(s"${c}__pi"),
            F.min(F.when(fin, v)).as(s"${c}__fmn"),
            F.max(F.when(fin, v)).as(s"${c}__fmx"))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).first()
        infCols.map { c =>
          def d(f: String, dflt: Double): Double = {
            val i = row.fieldIndex(s"${c}__$f")
            if (row.isNullAt(i)) dflt else row.getDouble(i)
          }
          c -> ((row.getAs[Long](s"${c}__ni"), row.getAs[Long](s"${c}__pi"),
            d("fmn", 0.0), d("fmx", 0.0)))
        }.toMap
      }

    var states: Seq[TState] = for {
      (c, qi) <- cols.flatMap(c => qs.indices.map(c -> _))
    } yield {
      val q = qs(qi)
      val (mn, mx, n) = st(c)
      if (!infSt.contains(c)) {
        val full = F.col(c).isNotNull &&
          F.col(c).cast("double").between(mn, mx)
        val s = TState(c, q, q * (n - 1), 0L, n, mn, mx, full, None, None)
        // a constant column (or n == 1) is resolved for free
        if (mn == mx) s.copy(vLo = Some(mn), vHi = Some(mn))
        // warm bracket: interval = the GK probes, chain/offset/count
        // stay GLOBAL — round 1's sentinel bins count-verify it
        else if (n >= WarmMinN && n > collectLimit &&
          warmAll.get(c).exists(_.nonEmpty))
          s.copy(lo = warmAll(c)(2 * qi), hi = warmAll(c)(2 * qi + 1),
            warm = true)
        else s
      } else {
        val (ni, pi, fmn, fmx) = infSt(c)
        val pos = q * (n - 1)
        // ranks inside the -Inf / +Inf blocks resolve immediately
        def blockVal(rank: Long): Option[Double] =
          if (rank < ni) Some(Double.NegativeInfinity)
          else if (rank >= n - pi) Some(Double.PositiveInfinity)
          else if (fmn == fmx) Some(fmn) // constant finite interior
          else None
        val s = TState(c, q, pos, ni, n - ni - pi, fmn, fmx,
          F.col(c).isNotNull &&
            F.col(c).cast("double").between(fmn, fmx),
          None, None)
        s.copy(vLo = blockVal(s.rankLo), vHi = blockVal(s.rankHi))
      }
    }

    var rounds = 0
    while (states.exists(s => !s.resolved && s.count > collectLimit)
      && rounds < MaxRounds) {
      rounds += 1
      states = refine(df, states, k, collectLimit)
    }
    states = collectResolve(df, states)
    cols.map { c =>
      c -> qs.map(q =>
        states.find(s => s.col == c && s.q == q).get.interpolate)
    }.toMap
  }

  /** One histogram pass for every unresolved-and-too-big target.
    * Identical (col, interval) states share a histogram. */
  private def refine(df: DataFrame, states: Seq[TState],
                     k: Int, collectLimit: Long): Seq[TState] = {
    val K = k
    val active = states.filter(s => !s.resolved && s.count > collectLimit)
    if (active.isEmpty) return states
    val groups = active
      .groupBy(s =>
        (s.col, s.lo, s.hi, s.offset, s.count, s.chain.toString, s.warm))
      .toSeq
    val entries = groups.zipWithIndex.map {
      case (((col, lo, hi, _, _, _, warm), ss), tid) =>
        val v = F.col(col).cast("double")
        // half-space + division-first: (hi - lo) and (v - lo) * K can
        // overflow to Inf on a span near the full double range; the
        // half-space difference is always finite and the ratio <= 1
        // before the * K.
        val wHalf = (hi / 2 - lo / 2) / K
        val grid = F.least(F.lit(K - 1), F.greatest(F.lit(0),
          F.floor((v / 2 - F.lit(lo / 2)) / F.lit(hi / 2 - lo / 2)
            * F.lit(K)))).cast("int")
        // warm (unverified-bracket) targets keep EVERY row: values
        // outside [lo, hi] land in sentinel bins −1 / K so cum counts
        // are GLOBAL ranks; a collapsed bracket (lo == hi) maps its
        // in-range rows to bin 0 before the 0/0 grid division
        val bucket = if (!warm) grid
          else F.when(v < F.lit(lo), F.lit(-1))
            .when(v > F.lit(hi), F.lit(K))
            .otherwise(if (lo == hi) F.lit(0) else grid).cast("int")
        (tid, ss, lo, hi, wHalf,
          F.when(ss.head.chain, F.struct(F.lit(tid).as("tid"),
            bucket.as("bucket"), v.as("v"))))
    }
    val exploded = df
      .select(F.explode(F.array(entries.map(_._6): _*)).as("e"))
      .filter(F.col("e").isNotNull)
      .groupBy(F.col("e.tid").as("tid"), F.col("e.bucket").as("bucket"))
      .agg(F.count(F.lit(1)).as("cnt"), F.min("e.v").as("mn"),
        F.max("e.v").as("mx"))
      .collect()
    val hist: Map[Int, Array[(Int, Long, Double, Double)]] = exploded
      .map(r => (r.getAs[Int]("tid"), r.getAs[Int]("bucket"),
        r.getAs[Long]("cnt"), r.getAs[Double]("mn"), r.getAs[Double]("mx")))
      .groupBy(_._1)
      .map { case (tid, rows) =>
        tid -> rows.map(t => (t._2, t._3, t._4, t._5)).sortBy(_._1)
      }
    val refined = entries.flatMap { case (tid, ss, lo, hi, wHalf, _) =>
      val bins = hist(tid)
      val cum = bins.scanLeft(0L)(_ + _._2) // rows before bins(i)
      ss.map { s =>
        // local (0-based) candidate ranks of this target
        def locate(rank: Long): (Int, Long) = { // (bin index, below-bin)
          val local = rank - s.offset
          val i = cum.lastIndexWhere(_ <= local) match {
            case j if j >= bins.length => bins.length - 1
            case j => math.max(0, math.min(j, bins.length - 1))
          }
          (i, cum(i))
        }
        def valueIfUniform(i: Int): Option[Double] = {
          val (_, _, mn, mx) = bins(i)
          if (mn == mx) Some(mn) else None
        }
        // only locate ranks that are still unresolved — a resolved
        // rank may already sit outside the narrowed interval
        val binLo = if (s.vLo.isEmpty) Some(locate(s.rankLo)._1) else None
        val binHi = if (s.vHi.isEmpty) Some(locate(s.rankHi)._1) else None
        val rLo = s.vLo.orElse(binLo.flatMap(valueIfUniform))
        val rHi = s.vHi.orElse(binHi.flatMap(valueIfUniform))
        if (rLo.isDefined && rHi.isDefined)
          s.copy(vLo = rLo, vHi = rHi)
        else {
          // narrow to the bin span of the ranks that remain unresolved
          // (adjacent bins at most, when rankHi = rankLo + 1)
          val need = Seq(if (rLo.isEmpty) binLo else None,
            if (rHi.isEmpty) binHi else None).flatten
          val iLo = need.min
          val iHi = need.max
          val bLo = bins(iLo)._1
          val bHi = bins(iHi)._1
          val newOffset = s.offset + cum(iLo)
          val newCount =
            bins.slice(iLo, iHi + 1).map(_._2).sum
          val gridOf = {
            val v = F.col(s.col).cast("double")
            F.least(F.lit(K - 1), F.greatest(F.lit(0),
              F.floor((v / 2 - F.lit(lo / 2)) / F.lit(hi / 2 - lo / 2)
                * F.lit(K)))).cast("int")
          }
          // membership predicate = EXACTLY the bucket expression this
          // round's histogram used (sentinel form for warm targets)
          val bucketOf = if (!s.warm) gridOf
            else {
              val v = F.col(s.col).cast("double")
              F.when(v < F.lit(lo), F.lit(-1))
                .when(v > F.lit(hi), F.lit(K))
                .otherwise(if (lo == hi) F.lit(0) else gridOf).cast("int")
            }
          // Interval for the next round's grid. Non-warm: grid
          // arithmetic with a one-bin margin on each side keeps the
          // range a superset of the chain-selected values under float
          // rounding (membership itself is exactly the bucket
          // predicate); computed in half-space and doubled so nothing
          // overflows for finite lo/hi — an overflow at the very edge
          // lands on ±Inf and the clamps pull it back to the old
          // bound. Warm: sentinel bins (−1 / K) have no grid
          // coordinates, so use the selected bins' OBSERVED value
          // bounds — exact data values, trivially a superset of the
          // selected rows.
          val (newLo, newHi) = if (s.warm)
            (bins(iLo)._3, bins(iHi)._4)
          else
            (math.max(lo, 2 * (lo / 2 + (bLo - 1) * wHalf)),
              math.min(hi, 2 * (lo / 2 + (bHi + 2) * wHalf)))
          s.copy(
            offset = newOffset, count = newCount,
            lo = newLo, hi = newHi,
            chain = s.chain && bucketOf.between(bLo, bHi),
            vLo = rLo, vHi = rHi,
            warm = false)
        }
      }
    }
    val refinedKeys = refined.map(s => (s.col, s.q)).toSet
    states.filterNot(s => refinedKeys.contains((s.col, s.q))) ++ refined
  }

  /** Fetch every remaining target's candidate values (bounded by
    * the collect limit each) in one pass and rank-select driver-side. */
  private def collectResolve(df: DataFrame,
                             states: Seq[TState]): Seq[TState] = {
    val pending = states.filterNot(_.resolved)
    if (pending.isEmpty) return states
    val groups = pending
      .groupBy(s => (s.col, s.chain.toString)).toSeq
    val entries = groups.zipWithIndex.map { case ((_, ss), tid) =>
      (tid, ss,
        F.when(ss.head.chain, F.struct(F.lit(tid).as("tid"),
          F.col(ss.head.col).cast("double").as("v"))))
    }
    val rows = df
      .select(F.explode(F.array(entries.map(_._3): _*)).as("e"))
      .filter(F.col("e").isNotNull)
      .select(F.col("e.tid"), F.col("e.v"))
      .collect()
    val byTid = rows.groupBy(_.getInt(0))
    val resolved = entries.flatMap { case (tid, ss, _) =>
      val sortedVals = byTid.getOrElse(tid, Array.empty)
        .map(_.getDouble(1)).sorted
      ss.map { s =>
        def at(rank: Long): Double = sortedVals((rank - s.offset).toInt)
        s.copy(vLo = s.vLo.orElse(Some(at(s.rankLo))),
          vHi = s.vHi.orElse(Some(at(s.rankHi))))
      }
    }
    val doneKeys = resolved.map(s => (s.col, s.q)).toSet
    states.filterNot(s => doneKeys.contains((s.col, s.q))) ++ resolved
  }
}
