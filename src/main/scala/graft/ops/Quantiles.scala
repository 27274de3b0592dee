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
      vLo: Option[Double], vHi: Option[Double]) {
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
    * the first pass (describe already has them).
    *
    * kernel: measured — q21 on the built-in `percentile` form 4.26 vs
    * 1.97 s, local[4] (SCALE.md §describe). */
  def exactMulti(df: DataFrame, cols: Seq[String], qs: Seq[Double],
                 stats: Map[String, (Double, Double, Long)] = Map.empty,
                 k: Int = DefaultK,
                 collectLimit: Long = DefaultCollectLimit)
      : Map[String, Seq[Double]] = {
    require(cols.nonEmpty && qs.nonEmpty)
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
      (c, q) <- cols.flatMap(c => qs.map(c -> _))
    } yield {
      val (mn, mx, n) = st(c)
      if (!infSt.contains(c)) {
        val full = F.col(c).isNotNull &&
          F.col(c).cast("double").between(mn, mx)
        val s = TState(c, q, q * (n - 1), 0L, n, mn, mx, full, None, None)
        // a constant column (or n == 1) is resolved for free
        if (mn == mx) s.copy(vLo = Some(mn), vHi = Some(mn))
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
        (s.col, s.lo, s.hi, s.offset, s.count, s.chain.toString))
      .toSeq
    val entries = groups.zipWithIndex.map {
      case (((col, lo, hi, _, _, _), ss), tid) =>
        val v = F.col(col).cast("double")
        // half-space + division-first: (hi - lo) and (v - lo) * K can
        // overflow to Inf on a span near the full double range; the
        // half-space difference is always finite and the ratio <= 1
        // before the * K.
        val wHalf = (hi / 2 - lo / 2) / K
        val bucket = F.least(F.lit(K - 1), F.greatest(F.lit(0),
          F.floor((v / 2 - F.lit(lo / 2)) / F.lit(hi / 2 - lo / 2)
            * F.lit(K)))).cast("int")
        (tid, ss, lo, hi, wHalf, bucket,
          F.when(ss.head.chain, F.struct(F.lit(tid).as("tid"),
            bucket.as("bucket"), v.as("v"))))
    }
    val exploded = df
      .select(F.explode(F.array(entries.map(_._7): _*)).as("e"))
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
    val refined = entries.flatMap { case (tid, ss, lo, hi, wHalf, bucket, _) =>
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
          // Interval for the next round's grid: grid arithmetic with a
          // one-bin margin on each side keeps the range a superset of
          // the chain-selected values under float rounding (membership
          // itself is exactly the bucket predicate); computed in
          // half-space and doubled so nothing overflows for finite
          // lo/hi — an overflow at the very edge lands on ±Inf and the
          // clamps pull it back to the old bound.
          val newLo = math.max(lo, 2 * (lo / 2 + (bLo - 1) * wHalf))
          val newHi = math.min(hi, 2 * (lo / 2 + (bHi + 2) * wHalf))
          s.copy(
            offset = newOffset, count = newCount,
            lo = newLo, hi = newHi,
            // membership = EXACTLY this round's histogram bucket
            chain = s.chain && bucket.between(bLo, bHi),
            vLo = rLo, vHi = rHi)
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
