package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Core relational vocabulary of the reference engine, re-expressed as
  * Spark Column/DataFrame plans (SURVEY.md §2.2, §2.4, §2.6, §2.7).
  *
  * Every operator here compiles to a declarative Catalyst plan — no UDFs,
  * no driver-side loops — so predicate pushdown, column pruning, partial
  * aggregation and AQE apply unchanged at any scale.
  *
  * Reference citations are `file:line` into /root/reference/.
  */
object RelOps {

  /** Per-column ordering spec — reference `order(col; rev=…)`
    * (reference src/dataframe.jl:1556-1562). NA placement follows the
    * reference: nulls first ascending, last descending
    * (reference src/dataframe.jl:1856, SURVEY §4.2.3).
    *
    * `by` emulates the reference's `order(col; by=f)` comparator
    * transform (src/dataframe.jl:1556-1562) declaratively: a SQL
    * expression (normally over `col`) used as the sort KEY while the
    * row keeps its original columns — e.g.
    * `Ordering("name", by = Some("length(name)"))`. An expression key
    * stays inside whole-stage codegen and range-partitioned sort, so
    * it scales exactly like a plain column sort (an opaque comparator
    * closure would force row-at-a-time eval and kill TakeOrdered
    * rewrites).
    */
  final case class Ordering(col: String, desc: Boolean = false,
                            by: Option[String] = None) {
    /** The sort key: `col` itself, or the `by` transform of it. */
    def key: Column = by.map(F.expr).getOrElse(F.col(col))
    def toColumn: Column =
      if (desc) key.desc_nulls_last else key.asc_nulls_first
  }

  implicit class DataFrameOps(val df: DataFrame) extends AnyVal {

    // ---- §2.2 projection / filter -------------------------------------

    /** `df[Expr, cols]` expression predicate (reference
      * src/dataframe.jl:401-406): SQL-syntax predicate string, parsed by
      * Catalyst so it reaches the Parquet scan as a pushed filter.
      */
    def filterExpr(predicate: String): DataFrame = df.filter(F.expr(predicate))

    /** `with`/`within`: add or replace computed columns (reference
      * src/dataframe.jl:1295-1330). Each pair is name -> SQL expression.
      */
    def within(assignments: (String, String)*): DataFrame =
      assignments.foldLeft(df) { case (d, (name, ex)) =>
        d.withColumn(name, F.expr(ex))
      }

    /** `based_on`: new frame holding only the assigned columns (reference
      * src/dataframe.jl:1332-1370).
      */
    def basedOn(assignments: (String, String)*): DataFrame =
      df.select(assignments.map { case (n, ex) => F.expr(ex).as(n) }: _*)

    /** `without` / `delete!`: drop columns (reference
      * src/dataframe.jl:965-997). */
    def without(cols: String*): DataFrame = df.drop(cols: _*)

    /** Join with the reference's default-key inference: `on` defaults to
      * the FIRST common column name (reference src/merge.jl:133-135).
      * kinds: inner, left_outer, right_outer, full_outer (+ Spark's
      * left_semi/left_anti for free).
      */
    def joinAuto(other: DataFrame, kind: String = "inner"): DataFrame = {
      val common = df.columns.find(other.columns.contains).getOrElse(
        throw new IllegalArgumentException(
          s"no common column between ${df.columns.mkString(",")} and " +
            other.columns.mkString(",")))
      df.join(other, Seq(common), kind)
    }

    // ---- §2.6 sort / limit --------------------------------------------

    /** Multi-column sort with per-column direction and reference NA
      * placement (reference src/dataframe.jl:1540-1852). Stability: Spark
      * sorts are not guaranteed stable; callers needing the reference's
      * stable sort append a deterministic tiebreaker ordering.
      */
    def sortBy(orderings: Ordering*): DataFrame =
      df.orderBy(orderings.map(_.toColumn): _*)

    /** `issorted` (reference src/dataframe.jl:1824-1825): is the frame
      * already in the given order, taking "row order" as the
      * presentation order (partition index, then position) — the order
      * a write or collect would emit. Distributed: ONE scan checks each
      * partition internally (streaming pairwise compare, no
      * materialization) and emits only (partition, ok, first, last);
      * the driver then checks the O(partitions) boundary chain. No
      * shuffle, no sort — this is the cheap pre-check that lets a
      * caller SKIP a sort, so it must not cost one.
      */
    def issorted(orderings: Ordering*): Boolean = {
      require(orderings.nonEmpty, "issorted needs an explicit ordering")
      val keyed = df.select(orderings.map(_.key): _*)
      val descs = orderings.map(_.desc).toArray
      val parts = keyed.rdd.mapPartitionsWithIndex { (idx, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          var first: org.apache.spark.sql.Row = null
          var prev: org.apache.spark.sql.Row = null
          var ok = true
          while (it.hasNext) {
            val r = it.next()
            if (first == null) first = r
            else if (RelOps.cmpRows(prev, r, descs) > 0) ok = false
            prev = r
          }
          Iterator((idx, ok, first, prev))
        }
      }.collect().sortBy(_._1)
      parts.forall(_._2) && parts.sliding(2).forall {
        case Array((_, _, _, last), (_, _, first, _)) =>
          RelOps.cmpRows(last, first, descs) <= 0
        case _ => true
      }
    }

    /** top-k = sort + head (reference src/dataframe.jl:834-837); Catalyst
      * rewrites orderBy+limit into TakeOrderedAndProject — no full sort,
      * one partial top-k per partition then a driver merge, which is the
      * right physical shape at any scale.
      */
    def topK(k: Int, orderings: Ordering*): DataFrame =
      sortBy(orderings: _*).limit(k)

    /** `tail(df, n)`: the LAST n rows under an explicit total ordering
      * (reference src/dataframe.jl:834-837 — head/tail pair over row
      * order; row order is only semantic under a key in Spark). The
      * reversed sort+limit lowers to TakeOrderedAndProject (partial
      * top-k per partition + driver merge, no full sort); the final
      * sort re-establishes ascending presentation over just n rows.
      */
    def tail(n: Int, orderings: Ordering*): DataFrame = {
      val reversed = orderings.map(o => o.copy(desc = !o.desc))
      df.orderBy(reversed.map(_.toColumn): _*).limit(n)
        .sortBy(orderings: _*)
    }

    // ---- §2.7 set ops / concat ----------------------------------------

    /** `vcat`/`rbind`: row-bind with union-of-columns-by-name, missing
      * columns NA-filled, numeric types promoted (reference
      * src/dataframe.jl:1098-1131; promotion :1045-1076). Spark's
      * unionByName(allowMissingColumns) plus Catalyst TypeCoercion covers
      * the promotion lattice.
      */
    def vcat(others: DataFrame*): DataFrame =
      others.foldLeft(df)(_.unionByName(_, allowMissingColumns = true))

    /** `hcat`/`cbind`: positional column-bind (reference
      * src/dataframe.jl:1006-1021). Row position is not a first-class
      * Spark concept, so the zip is realized as a join on an explicit
      * row id derived from a caller-supplied deterministic ordering.
      */
    def hcat(other: DataFrame, orderLeft: Seq[String],
             orderRight: Seq[String]): DataFrame = {
      // scalable row id: range-partitioned sort + per-partition offsets
      // (NOT an unpartitioned row_number window — single-task at scale).
      def withRid(d: DataFrame, order: Seq[String]) =
        globalRowNumber(d, "__rid", order.map(Ordering(_)))
      val l = withRid(df, orderLeft)
      // collision-safe names, reference `make_unique` (src/utils.jl:42-68)
      val taken = df.columns.toSet
      val r0 = withRid(other, orderRight)
      val r = other.columns.foldLeft(r0) { (d, c) =>
        if (taken.contains(c)) d.withColumnRenamed(c, makeUnique(c, taken))
        else d
      }
      l.join(r, Seq("__rid")).drop("__rid")
    }

    /** `duplicated`+`drop_duplicates!` keeping the FIRST occurrence in a
      * caller-given deterministic order (reference src/dataframe.jl:
      * 1452-1483 keeps first in row order). Implemented as a min-order-key
      * aggregation (shuffle on the dup key only; no global sort).
      */
    def dedupFirst(keyCols: Seq[String], orderCols: String*): DataFrame = {
      val w = Window.partitionBy(keyCols.map(F.col): _*)
        .orderBy(orderCols.map(F.col(_).asc): _*)
      df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") === 1).drop("__rn")
    }

    /** `flipud`: reverse row order (reference src/dataframe.jl:
      * 1530-1537). Order is only semantic under an explicit key in
      * Spark, so this is descending sort by the caller's order key. */
    def flipud(orderCols: String*): DataFrame =
      df.orderBy(orderCols.map(F.col(_).desc_nulls_last): _*)

    /** `clean_colnames!`: identifier-safe column names, non-word chars →
      * `_` (reference src/dataframe.jl:1523-1528). */
    def cleanColnames(): DataFrame =
      df.toDF(df.columns.map(_.replaceAll("\\W", "_")).toIndexedSeq: _*)

    // ---- §2.4 aggregation helpers -------------------------------------

    /** `by(df, cols, expr)`: groupBy + named aggregate expressions
      * (reference src/grouping.jl:248-262). Expressions are SQL strings →
      * Catalyst partial/final HashAggregate with map-side combine.
      */
    def by(keys: Seq[String], aggs: (String, String)*): DataFrame = {
      val exprs = aggs.map { case (n, ex) => F.expr(ex).as(n) }
      df.groupBy(keys.map(F.col): _*).agg(exprs.head, exprs.tail: _*)
    }

    /** `colwise(fns, df)`: apply aggregate fn names to every given column,
      * results named `col_fn` (reference src/grouping.jl:202-245).
      */
    def colwise(fns: Seq[String], cols: Seq[String],
                keys: Seq[String] = Nil): DataFrame = {
      val aggs = for { c <- cols; f <- fns }
        yield F.expr(s"$f($c)").as(s"${c}_$f")
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(F.col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Global 1-based row number under a TOTAL ordering without a
    * single-partition window: range-repartition on the sort key, sort
    * within partitions, then add per-partition offsets (zipWithIndex).
    * Every stage is parallel — a plain `row_number() OVER (ORDER BY …)`
    * funnels the whole table through ONE task, which is the round-1
    * scale-killer this replaces. The only narrow point left is the
    * O(#partitions) offset array zipWithIndex holds on the driver.
    *
    * Determinism: the range boundaries are sampled once when the RDD
    * DAG is built, so the count job and the map job inside zipWithIndex
    * see identical partitioning; the ordering must be total (include a
    * tiebreaker) for the sort itself to be deterministic.
    */
  def globalRowNumber(df: DataFrame, out: String,
                      orderings: Seq[Ordering]): DataFrame = {
    val sortCols = orderings.map(_.toColumn)
    val ordered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = ordered.schema.add(out, LongType, nullable = false)
    val rows = ordered.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** Distributed EXCLUSIVE prefix sum of a long column under a global
    * ordering — the two-phase scan: range-partition + local sort, one
    * bounded driver collect of per-partition totals (a single long per
    * partition), then a per-partition streaming add of the broadcast
    * offsets. Same scale shape as [[globalRowNumber]] (which is the
    * special case valCol ≡ 1): no single-task global window, O(P)
    * driver data. The input lineage is evaluated twice (totals pass +
    * final pass), like zipWithIndex's internal count job — persist
    * upstream if it is expensive to recompute.
    */
  def globalPrefixSum(df: DataFrame, valCol: String, out: String,
                      orderings: Seq[Ordering]): DataFrame = {
    val sortCols = orderings.map(_.toColumn)
    val ordered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = ordered.schema.add(out, LongType, nullable = false)
    val valIdx = ordered.schema.fieldIndex(valCol)
    val rdd = ordered.rdd
    val partSums = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(r => s += r.getLong(valIdx))
        Iterator((pid, s))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value(pid)
      it.map { r =>
        val start = acc
        acc += r.getLong(valIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ start)
      }
    }
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** Distributed EXCLUSIVE prefix MAX of a long column under a global
    * ordering — the [[globalPrefixSum]] two-phase scan with max as the
    * monoid (max is associative, so the cross-partition offset merge
    * is exact, unlike the double sum's addition tree). Rows with no
    * prior row get NULL in `out`. Used for arrival-order disorder
    * audits (q259): "the largest event time seen before this row".
    *
    * `valCol` must be non-null (enforced — a null cell fails fast with
    * a clear message instead of an NPE). "No prior row" is tracked by
    * a seen-count per partition, NOT a Long.MinValue sentinel, so a
    * legitimate MinValue value is carried correctly.
    */
  def globalPrefixMax(df: DataFrame, valCol: String, out: String,
                      orderings: Seq[Ordering]): DataFrame = {
    val sortCols = orderings.map(_.toColumn)
    val ordered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = ordered.schema.add(out, LongType, nullable = true)
    val valIdx = ordered.schema.fieldIndex(valCol)
    val rdd = ordered.rdd
    // (count, max) per partition: count distinguishes "no prior row"
    // from "prior max happens to equal Long.MinValue"
    val partStats = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var m = Long.MinValue
        var n = 0L
        it.foreach { r =>
          require(!r.isNullAt(valIdx),
            s"globalPrefixMax: null in '$valCol' — input must be non-null")
          m = math.max(m, r.getLong(valIdx)); n += 1
        }
        Iterator((pid, (n, m)))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partStats.scanLeft((0L, Long.MinValue)) {
      case ((cn, cm), (n, m)) => (cn + n, math.max(cm, m))
    }
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      var (seen, acc) = bc.value(pid)
      it.map { r =>
        val prior = if (seen == 0) null else java.lang.Long.valueOf(acc)
        acc = math.max(acc, r.getLong(valIdx)); seen += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ prior)
      }
    }
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** Double-typed [[globalPrefixSum]] (exclusive, same two-phase scan).
    * Within a partition the accumulation is strictly left-to-right in
    * the global sort order, but the cross-partition offsets are a
    * scanLeft over per-partition totals — a DIFFERENT addition tree
    * than a serial window, so results can differ from a single-thread
    * oracle in the last ulp. The parity guarantee is therefore the
    * rounded projection (callers round their final output, the repo
    * float policy), not bit-exactness. Used for running log-space
    * products (Kaplan-Meier survival, q219) where the summand is
    * inherently fractional. */
  def globalPrefixSumD(df: DataFrame, valCol: String, out: String,
                       orderings: Seq[Ordering]): DataFrame = {
    val sortCols = orderings.map(_.toColumn)
    val ordered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = ordered.schema
      .add(out, org.apache.spark.sql.types.DoubleType, nullable = false)
    val valIdx = ordered.schema.fieldIndex(valCol)
    val rdd = ordered.rdd
    val partSums = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0.0
        it.foreach(r => s += r.getDouble(valIdx))
        Iterator((pid, s))
      }.collect().sortBy(_._1).map(_._2)
    // NOTE the offsets are scanLeft sums of per-partition totals — the
    // addition TREE differs from pure left-to-right by partition
    // boundaries, so cross-partition results can differ from a serial
    // window in the last ulp. Callers round their final projection.
    val offsets = partSums.scanLeft(0.0)(_ + _)
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value(pid)
      it.map { r =>
        val start = acc
        acc += r.getDouble(valIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ start)
      }
    }
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** reference `make_unique` (src/utils.jl:42-68): suffix `_k` until the
    * name is free. */
  def makeUnique(name: String, taken: Set[String]): String = {
    var i = 1
    var cand = s"${name}_$i"
    while (taken.contains(cand)) { i += 1; cand = s"${name}_$i" }
    cand
  }

  /** Row comparator for [[DataFrameOps.issorted]] matching
    * [[Ordering.toColumn]] exactly: asc = nulls first, desc = reversed
    * values with nulls last. Runs on executors — kept in the companion
    * so the closure stays small and serializable. */
  private[ops] def cmpRows(a: org.apache.spark.sql.Row,
                           b: org.apache.spark.sql.Row,
                           descs: Array[Boolean]): Int = {
    var i = 0
    while (i < descs.length) {
      val (va, vb) = (a.get(i), b.get(i))
      val c =
        if (va == null && vb == null) 0
        else if (va == null) { if (descs(i)) 1 else -1 }
        else if (vb == null) { if (descs(i)) -1 else 1 }
        else {
          val base = (va, vb) match {
            // Spark's sort normalizes -0.0 == 0.0 (and a frame Spark
            // just sorted may interleave them); Double.compareTo would
            // order them and flag that frame unsorted. Numeric ==
            // treats them equal while still ordering NaN via compareTo.
            case (x: java.lang.Double, y: java.lang.Double)
                if x.doubleValue() == y.doubleValue() => 0
            case (x: java.lang.Float, y: java.lang.Float)
                if x.floatValue() == y.floatValue() => 0
            case (x: Comparable[_], y) if x.getClass == y.getClass =>
              x.asInstanceOf[Comparable[Any]].compareTo(y)
            case (x: Number, y: Number) => java.lang.Double
              .compare(x.doubleValue(), y.doubleValue())
            case _ => throw new IllegalArgumentException(
              s"issorted: unorderable type ${va.getClass}")
          }
          if (descs(i)) -base else base
        }
      if (c != 0) return c
      i += 1
    }
    0
  }
}
