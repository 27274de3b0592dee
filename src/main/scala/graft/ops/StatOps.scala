package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}

/** Statistical summaries — SURVEY.md §2.4: describe, cor/cov, quantiles.
  *
  * `describe` computes ALL per-column stats in ONE aggregate pass (one
  * scan + one reduce — at 100 TB the naive one-job-per-column layout is
  * a non-starter), then unpivots driver-side (the aggregate result is a
  * single row).
  */
object StatOps {

  implicit class StatDF(val df: DataFrame) extends AnyVal {

    /** reference describe (src/dataframe.jl:867-906): per numeric column
      * Min/1Q/Median/Mean/3Q/Max plus count and NA count. Quantiles are
      * EXACT (linear interpolation) matching DuckDB's quantile_cont,
      * via histogram refinement ([[Quantiles.exactMulti]]) instead of
      * `percentile`'s value-map buffers (the plain form,
      * `PlainForms.describeCols` in the tests): same output, scales to
      * high-cardinality columns (the value-map merge is O(distinct) on
      * ONE reducer — measured 2.9 s for one 600k-distinct column vs
      * 0.9 s for low-cardinality). ONE aggregate pass for
      * min/mean/max/counts + the refinement passes over all columns
      * stacked for the quantile ranks, regardless of how many columns
      * are described.
      */
    def describeColsExact(cols: Seq[String], digits: Int = 6): DataFrame = {
      val spark = df.sparkSession
      // Lean aggregate: UNROUNDED min/max (they double as the quantile
      // interval bounds — rounded bounds could exclude true extremes
      // and corrupt the rank bookkeeping; display rounding = the same
      // HALF_UP applied driver-side), n_missing derived from one shared
      // count(1). Fewer expressions = visibly cheaper whole-stage
      // codegen compile, which dominates the cold run.
      // NOTE (round 12): piggybacking GK warm-bracket probes on this
      // aggregate was MEASURED AND REJECTED at bench scale — three
      // percentile_approx sketches made q21 0.66 → 1.51 s, costing
      // ~2× the one full scan the bracket saves, because at n ≪
      // k·collectLimit the cold engine already resolves in ONE
      // histogram round.
      val aggs = cols.flatMap { c =>
        Seq(
          F.min(F.col(c).cast("double")).as(s"${c}__min"),
          F.max(F.col(c).cast("double")).as(s"${c}__max"),
          F.expr(s"round(avg($c), $digits)").as(s"${c}__mean"),
          F.expr(s"count($c)").cast("long").as(s"${c}__n"))
      } :+ F.count(F.lit(1)).as("__rows")
      val one = df.agg(aggs.head, aggs.tail: _*).first()
      def rnd(v: Double) =
        BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      val totalRows = one.getAs[Long]("__rows")
      val stats = cols.map { c =>
        c -> ((one.getAs[Double](s"${c}__min"),
          one.getAs[Double](s"${c}__max"),
          one.getAs[Long](s"${c}__n")))
      }.toMap
      val quantiles =
        Quantiles.exactMulti(df, cols, Seq(0.25, 0.5, 0.75), stats)
      val rows = cols.map { c =>
        val Seq(q25, med, q75) = quantiles(c)
        val n = one.getAs[Long](s"${c}__n")
        org.apache.spark.sql.Row(
          c, rnd(one.getAs[Double](s"${c}__min")), rnd(q25), rnd(med),
          one.getAs[Double](s"${c}__mean"), rnd(q75),
          rnd(one.getAs[Double](s"${c}__max")),
          n.toDouble, (totalRows - n).toDouble)
      }
      import org.apache.spark.sql.types._
      val schema = StructType(
        StructField("col_name", StringType) +:
          Seq("min", "q25", "median", "mean", "q75", "max", "n",
            "n_missing").map(StructField(_, DoubleType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }

    /** Pairwise sample correlation matrix in long form (reference cor,
      * src/dataframe.jl:1514-1521) — all pairs in one aggregate pass.
      */
    def corMatrix(cols: Seq[String], digits: Int = 6): DataFrame = {
      val pairs = for { a <- cols; b <- cols if a < b } yield (a, b)
      val aggs = pairs.map { case (a, b) =>
        F.expr(s"round(corr($a, $b), $digits)").as(s"${a}__$b") }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val branches = pairs
        .map { case (a, b) => s"'$a', '$b', ${a}__$b" }.mkString(", ")
      one.select(F.expr(
        s"stack(${pairs.size}, $branches) as (col1, col2, corr)"))
    }

    /** Pairwise sample covariance, long form (reference cov). */
    def covMatrix(cols: Seq[String], digits: Int = 6): DataFrame = {
      val pairs = for { a <- cols; b <- cols if a < b } yield (a, b)
      val aggs = pairs.map { case (a, b) =>
        F.expr(s"round(covar_samp($a, $b), $digits)").as(s"${a}__$b") }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val branches = pairs
        .map { case (a, b) => s"'$a', '$b', ${a}__$b" }.mkString(", ")
      one.select(F.expr(
        s"stack(${pairs.size}, $branches) as (col1, col2, cov)"))
    }
  }

  /** Two-sample Kolmogorov–Smirnov statistic of each group's `valCol`
    * distribution against the whole corpus — the drift monitor run when
    * a new source lands. Output: (groupCol, ks) with ks rounded at 6.
    *
    * Correct under ties and on both sides of the sup: ECDFs are
    * step functions of the VALUE (cumulative counts per distinct
    * value, never a row rank — a row_number-based "ECDF" splits tie
    * groups and reports drift between identical distributions), and
    * |F_grp - F_corpus| is evaluated at EVERY distinct corpus value
    * (both functions' jump points), which attains the sup for
    * right-continuous steps — evaluating only at a group's own points
    * misses the F_corpus > F_grp side entirely.
    *
    * Plan shape: two compact-key groupBys (value; group × value), a
    * range-partitioned prefix sum over the DISTINCT-value table
    * (globalPrefixSum — no single-task window), and per-group
    * cumulative sums over the value grid with partitioned windows.
    * Grid size is groups × distinct values — bounded by the value
    * DOMAIN, not the corpus; quantize a continuous score first.
    */
  def ksPerGroup(df: DataFrame, groupCol: String,
                 valCol: String): DataFrame = {
    val d = df.select(F.col(groupCol), F.col(valCol).as("x"))
    val n = d.agg(F.count(F.lit(1)).cast("double").as("__n"))
    val ns = d.groupBy(groupCol)
      .agg(F.count(F.lit(1)).cast("double").as("__sn"))
    val dx = d.groupBy("x").agg(F.count(F.lit(1)).as("c"))
    // inclusive cumulative corpus count at each distinct value
    val cx = RelOps
      .globalPrefixSum(dx, "c", "cum0", Seq(RelOps.Ordering("x")))
      .withColumn("cum", F.col("cum0") + F.col("c"))
      .select("x", "cum")
    val sx = d.groupBy(groupCol, "x").agg(F.count(F.lit(1)).as("sc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.select(groupCol).distinct()
      .crossJoin(cx)
      .join(sx, Seq(groupCol, "x"), "left_outer")
      .withColumn("scum",
        F.sum(F.coalesce(F.col("sc"), F.lit(0L))).over(w))
      .join(F.broadcast(ns), groupCol)
      .crossJoin(F.broadcast(n))
      .groupBy(groupCol)
      .agg((F.floor(F.max(F.abs(
        F.col("scum").cast("double") / F.col("__sn")
          - F.col("cum").cast("double") / F.col("__n")))
          * 1e6 + 0.5) / 1e6).as("ks"))
  }
}
