package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession, functions => F}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured-Streaming parity for the reference's DataStream
  * (src/datastream.jl): a pull-based micro-batch iterator over a CSV/
  * parquet source. The running per-column aggregates (sum/prod/mean,
  * src/datastream.jl:87-247) are complete-mode aggregates over these
  * sources (q60 through `StreamQueries.runStateful`).
  *
  * The reference has no watermarks/event-time windows (SURVEY §2.10) —
  * micro-batch ingest + complete-mode running aggregates are exact
  * parity; `windowedAgg` is the Spark-superset event-time path with
  * watermarking for late data.
  */
object DataStream {

  /** Micro-batch source: schema pinned up front like the reference's
    * first-batch schema reuse (src/datastream.jl:67-77, filldf!
    * src/io.jl:657-718). `maxFilesPerTrigger(1)` = one file per batch,
    * the analog of `nrows`-sized minibatches. */
  def openStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .format(format)
      .load(dir)

  /** Real-time line-channel ingestion — Spark parity for the
    * reference's UNIX-pipe DataStream (`cat data.csv | julia
    * streaming.jl`, doc/sections/09_datastreams.md:36-62: a fifo of
    * delimited lines consumed as they arrive). The transport is
    * Spark's socket source — a TCP line channel, the network sibling
    * of a local pipe; each line is one delimited record parsed against
    * the PINNED schema with `from_csv`, the same schema-first contract
    * as [[openStream]] (the reference infers on the fly; here the
    * caller passes the schema it would have inferred — malformed lines
    * yield null columns instead of killing the channel). Dev/test
    * transport only, exactly like the reference's pipe: the socket
    * source is not replayable, so production ingest stays on the
    * file-based [[openStream]] path (or a durable log). */
  def openSocketStream(spark: SparkSession, host: String, port: Int,
                       schema: StructType, sep: String = ","): DataFrame =
    spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()
      .select(F.from_csv(F.col("value"),
        schema, Map("sep" -> sep)).as("r"))
      .select(F.col("r.*"))

  /** Event-time tumbling-window aggregate — the Spark superset the
    * reference lacks (SURVEY §2.10: "no watermarks, no event-time
    * windows"). Epoch-aligned windows, complete output mode: no
    * watermark here, because a watermark is IGNORED in complete mode
    * (all windows are re-emitted each batch) and merely forces useless
    * event-time tracking. Late-data eviction lives in
    * [[windowedAggLate]].
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  window: String): DataFrame =
    events
      .groupBy(F.window(F.col(tsCol), window), F.col(keyCol))
      .agg(F.count(F.lit(1)).as("n"),
           F.round(F.sum("value"), 2).as("total"))
      .select(
        F.unix_timestamp(F.col("window.start")).as("window_start"),
        F.col(keyCol), F.col("n"), F.col("total"))

  /** Watermarked variant for append-mode emission: windows close (and
    * state is evicted) once the watermark passes window end — the
    * unbounded-stream path where complete mode would hold every window
    * forever. */
  def windowedAggLate(events: DataFrame, tsCol: String, keyCol: String,
                      window: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window), F.col(keyCol))
      .agg(F.count(F.lit(1)).as("n"),
           F.round(F.sum("value"), 2).as("total"))
      .select(
        F.unix_timestamp(F.col("window.start")).as("window_start"),
        F.col(keyCol), F.col("n"), F.col("total"))

  /** Streaming exact dedup: emit only the FIRST row seen per key —
    * the streaming twin of `Dedup.exactDups` for continuous ingest
    * pipelines (dedup-at-the-door before anything lands). Pre-hash
    * text keys to xxhash64 so the dedup state holds 8-byte keys, never
    * documents. Unbounded state: exact over the whole stream — the
    * verify/bench path, and correct whenever the key space fits state.
    */
  def dedupStream(stream: DataFrame, keyCols: Seq[String]): DataFrame =
    stream.dropDuplicates(keyCols)

  /** Bounded-state streaming dedup — the unbounded-stream production
    * path: duplicates are only tracked within the event-time watermark,
    * and state older than it is evicted. Exact iff a duplicate never
    * arrives later than `delay` after its first occurrence (the usual
    * contract for crawl/ingest re-delivery). */
  def dedupStreamBounded(stream: DataFrame, tsCol: String,
                         delay: String, keyCols: Seq[String]): DataFrame =
    stream
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Per-key-window throttle (rate limit at the door): of all events a
    * (key, event-time window) receives, keep only the `n` EARLIEST by
    * (event time, id) — the ingest limiter that caps any one key's
    * contribution per window before downstream processing pays for it.
    *
    * flatMapGroupsWithState with EventTimeTimeout: state per open
    * (key, window) group is the current top-n only — O(n), not
    * O(events) — merged order-insensitively as batches arrive, so the
    * result is deterministic for any arrival order; the group emits
    * exactly once, when the watermark passes the window end (Spark
    * fires EventTimeTimeout strictly AFTER the timeout timestamp).
    * Groups the final watermark never passes stay unemitted — the
    * append-mode contract (q125's emission rule).
    */
  def throttleStream(stream: DataFrame, tsCol: String, keyCol: String,
                     idCol: String, windowSec: Long, n: Int,
                     delay: String): DataFrame = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .withWatermark(tsCol, delay)
      .select(F.col(keyCol).cast("long").as("k"),
        F.expr(s"unix_micros($tsCol) div 1000000 div $windowSec"
          + s" * $windowSec").as("wstart"),
        F.expr(s"unix_micros($tsCol)").as("ts_us"),
        F.col(idCol).cast("long").as("id"),
        F.col(tsCol).as("__ts"))
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(e => (e._1, e._2))
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long),
         it: Iterator[(Long, Long, Long, Long, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) {
            val kept = state.get
            state.remove()
            kept.iterator.map { case (_, id) => (key._1, key._2, id) }
          } else {
            val merged = (state.getOption.getOrElse(Nil) ++
              it.map(e => (e._3, e._4))).sorted.take(n)
            state.update(merged)
            // fire once the watermark passes the window end
            state.setTimeoutTimestamp((key._2 + windowSec) * 1000L)
            Iterator.empty
          }
      }
      .toDF("k", "wstart", "id")
  }

  /** Stream-stream interval join — the Spark superset completing
    * §2.10: left events matched to right events with the same key
    * whose event time falls in [left.ts, left.ts + bound]. BOTH sides
    * carry watermarks, so join state is evicted once the watermark
    * passes the interval — bounded state on unbounded streams (the
    * whole point; an unbounded stream-stream join would buffer both
    * streams forever). Output columns are prefixed l_/r_.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, bound: String,
                   watermark: String,
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(left.columns.map(c => F.col(c).as(s"l_$c")): _*)
    val r = right.withWatermark(tsCol, watermark)
      .select(right.columns.map(c => F.col(c).as(s"r_$c")): _*)
    // outer kinds: an unmatched left/right row is emitted (right/left
    // columns null) once the watermark closes its join window —
    // event-time-bounded state, late emission by construction.
    l.join(r, F.expr(
      s"""l_$keyCol = r_$keyCol AND
          r_$tsCol >= l_$tsCol AND
          r_$tsCol <= l_$tsCol + INTERVAL $bound"""), joinType)
  }

  /** Probe the nth row (1-based, stream order) by iterating
    * micro-batches — reference Base.select(ds, query)
    * (src/datastream.jl:448-458): count rows per batch, materialize
    * only the batch that contains the target row, index into it.
    * Driver-local by design (an interactive probe, not a pipeline
    * op), like the reference's loop over minibatch frames; batches
    * after the hit are skipped without materializing.
    */
  def selectRow(spark: SparkSession, dir: String, schema: StructType,
                n: Long, format: String = "parquet"): Row = {
    require(n >= 1, s"row index must be >= 1, got $n")
    var seen = 0L
    var found: Option[Row] = None
    val q = openStream(spark, dir, schema, format).writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (found.isEmpty) {
          val u = batch.count()
          if (seen + u >= n) {
            // rows come back in batch (file) order: partition index
            // follows file offset for a single-file micro-batch
            found = Some(batch.collect()((n - seen - 1).toInt))
          } else seen += u
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    found.getOrElse(sys.error(s"Did not find requested row $n " +
      s"(stream has ${seen} rows)")) // reference's error, with context
  }
}
