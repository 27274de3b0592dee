package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.T
import graft.streaming.DataStream

/** Wave-4 streaming queries: micro-batch ingest + running aggregates
  * (reference DataStream parity, SURVEY §2.10) and the event-time
  * window superset. Each run drives the stream to completion
  * (Trigger.AvailableNow) and returns the final memory-sink table, so
  * the driver's batch-style Verify/Bench harness can consume it; the
  * oracle is the equivalent whole-input batch SQL.
  */
object StreamQueries extends QueryRegistry {

  private def uniq(prefix: String) = s"${prefix}_${System.nanoTime()}"

  /** Stream-stream join watermark (q104/q282) and the event-time
    * watermark of q340/q343. The watermark bounds join state to
    * watermark+bound of event time, so this IS the state budget. The
    * 60 days are CORPUS-DRIVEN: the verify corpus ingests months of
    * unordered history in one batch, so event-time regressions span
    * the whole range.
    *
    * LATE-DATA DROP (round-10 ADVICE): attaching this watermark to the
    * stateful pipelines (q340/q343 flatMapGroupsWithState, the
    * stream-stream joins) means events more than this far behind the
    * max seen event time are dropped BEFORE the stateful operator in
    * multi-batch runs — the watermark bounds input COMPLETENESS, not
    * just state size, which is why it is a constant and not a
    * setting. The single-batch verify run never advances the
    * watermark mid-data so nothing drops there. */
  private val streamJoinWatermark = "60 days"

  /** Streaming source over the `name` parquet of an sf dir, with
    * T.load's schema ([[T.schema]], no Spark job) and column layout
    * ([[T.read]]). File-stream sources take a
    * DIRECTORY; glob-filter to the one file inside the sf dir. NO
    * maxFilesPerTrigger here: AvailableNow processes everything in one
    * micro-batch — per-batch fixed costs (state-store commit fan-out,
    * complete-mode re-emission) scale with batch COUNT, so the
    * verify/bench path wants exactly one. The micro-batch-per-file
    * parity path (reference minibatch iterator) is
    * DataStream.openStream, exercised in tests. */
  private[graft] def tableStream(s: SparkSession, dir: String,
                                 name: String): DataFrame =
    T.read(s, name) {
      s.readStream
        .schema(T.schema(s, s"$dir/$name.parquet"))
        .option("pathGlobFilter", s"$name.parquet")
        .parquet(dir)
    }

  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "events")

  /** Run a streaming aggregate to completion into a memory sink, under
    * [[DataStream.runAvailableNow]]'s conf scope (state partitions =
    * min(8, session shuffle partitions), the non-forking checkpoint
    * file manager, the session's codegen classloader), which restores
    * the session conf afterwards. */
  private def runStateful(s: SparkSession, df: DataFrame, name: String,
                          mode: String = "complete"): DataFrame = {
    val finished = DataStream.runAvailableNow(s,
      df.writeStream.outputMode(mode).format("memory").queryName(name))
    // the memory sink registered a temp view named after the query;
    // drop it so the session does not keep every run's rows (the
    // frame's analyzed plan still holds the sink)
    val out = s.table(name)
    s.catalog.dropTempView(name)
    // a stream stopped before it finished left partial sink rows (in
    // append mode: without the final watermark flush) — not a result
    require(finished, s"stream $name did not terminate within 600 s")
    out
  }

  /** q341's web-scale fallback, BUILT (round-12 verdict task 4; it was
    * previously documentation pointing at q314). Same output contract
    * as the exact path — the true top-10 (l_partkey, n, qty) by count
    * — with streaming state INDEPENDENT of key cardinality:
    *
    *  1. the stream folds into ONE CountMin sketch row (O(width·depth)
    *     counters — the only streaming state, vs O(distinct keys) on
    *     the exact path; past the documented 10⁹-key / ~170 GB ceiling
    *     this is the difference between a dashboard and an outage);
    *  2. candidates come from probing the PART DIMENSION (l_partkey is
    *     an FK into the part catalog, so the catalog is a complete key
    *     universe) against the broadcast sketch — a partition-prunable
    *     catalog SCAN, zero state — keeping every key whose estimate
    *     reaches (10th-largest estimate − slack·N/width). CM estimates
    *     are one-sided (est ≥ true), so with the q314-asserted sizing
    *     bound est ≤ true + slack·N/width the candidate set provably
    *     contains the true top-10; the bound's e^−depth per-key
    *     failure probability is the same documented class as banded
    *     LSH recall (q41/q266);
    *  3. the EXACT re-check aggregates only rows of candidate keys
    *     (broadcast left-semi — candidates are a filter output, tiny)
    *     and takes the true top-10 with the exact path's (n desc, key
    *     asc) ordering, so false candidates cannot surface.
    *
    * StreamSpec runs this at two key-cardinality scales and asserts
    * the streaming state is ONE row at both — the "independent of
    * distinct keys" claim, mechanically. */
  private[graft] def streamTopKSketch(s: SparkSession, dir: String,
      width: Int = 8192, depth: Int = 4, slack: Int = 20): DataFrame = {
    import graft.sketch.CountMin
    import graft.functions.CounterArrayAgg
    val cells = tableStream(s, dir, "lineitem")
      .select(F.explode(F.expr(CountMin.cellsOfHashExpr(
        "xxhash64(l_partkey)", width, depth))).as("__i"))
      .agg(CounterArrayAgg.counters(F.col("__i"), width * depth).as("cm"))
    val cm = runStateful(s, cells, uniq("stream_topk_cm"))
    val li = T.load(s, dir, "lineitem")
    val n = li.agg(F.count(F.lit(1)).as("__n"))
    val est = T.load(s, dir, "part")
      .select(F.col("p_partkey").as("l_partkey"))
      .crossJoin(F.broadcast(cm))
      .withColumn("__est", F.expr(CountMin.estimateExpr(
        "cm", "xxhash64(l_partkey)", width, depth)))
    // 10th-largest estimate via TakeOrdered (bounded), then the
    // one-sided candidate filter
    val t10 = est.orderBy(F.col("__est").desc, F.col("l_partkey").asc)
      .limit(10).agg(F.min("__est").as("__t10"))
    val cands = est.crossJoin(F.broadcast(t10))
      .crossJoin(F.broadcast(n))
      .filter(F.col("__est") >= F.col("__t10")
        - F.lit(slack.toLong) * F.col("__n") / F.lit(width.toLong))
      .select("l_partkey")
    li.join(F.broadcast(cands), Seq("l_partkey"), "left_semi")
      .groupBy("l_partkey")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("l_quantity").cast("long")).as("qty"))
      .orderBy(F.col("n").desc, F.col("l_partkey").asc)
      .limit(10)
      .select(F.col("l_partkey"), F.col("n"), F.col("qty"))
  }

  /** Measured exact-path state cost per distinct key for q341: one
    * HDFSBackedStateStore row holding (key, UnsafeRow(n, qty)) plus
    * store overhead ≈ 170 bytes. The budget below divides by this. */
  private[graft] val StreamTopKBytesPerKey = 170L

  /** Exact-path key budget for q341: the exact top-k keeps ONE
    * state row per distinct key, so the key-universe cardinality is
    * the state size. A 17 GiB state allowance divided by
    * [[StreamTopKBytesPerKey]] ≈ 10⁸ keys (the documented outage line
    * is ~10⁹ / 170 GB); past it the CountMin fallback's one-row state
    * is the only shape that survives. */
  private[graft] val StreamTopKMaxExactKeys: Long =
    (17L << 30) / StreamTopKBytesPerKey

  /** q341's registered path with the round-13 AUTO-GATE: exact
    * per-key streaming state while the key universe fits the budget,
    * the [[streamTopKSketch]] CountMin fallback past it. The gate
    * reads the key DIMENSION's row count — q341's key is an FK into
    * the part catalog, and a parquet count(*) is footer metadata, not
    * a scan — the same cheap-observable pattern as
    * `Quantiles.exactMulti`'s n > k·collectLimit auto-sketch gate.
    * Both paths return the same top-10 contract — StreamSpec pins the
    * flip through `maxExactKeys`. */
  private[graft] def streamTopKAuto(s: SparkSession, dir: String,
      maxExactKeys: Long = StreamTopKMaxExactKeys): DataFrame = {
    if (T.load(s, dir, "part").count() > maxExactKeys)
      streamTopKSketch(s, dir)
    else {
      val cnt = tableStream(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("l_quantity").cast("long")).as("qty"))
      runStateful(s, cnt, uniq("stream_topk"))
        .orderBy(F.col("n").desc, F.col("l_partkey").asc)
        .limit(10)
        .select(F.col("l_partkey"), F.col("n"), F.col("qty"))
    }
  }

  /** State TTL for the keyed streaming operators (q340/q343): a
    * user's state is evicted this long past their LAST event
    * (event-time timeout against the stream watermark), so the state
    * store is bounded by users ACTIVE within the TTL horizon, not by
    * every user ever seen — the round-9 verdict's one monotonically
    * growing resource, closed. 90 days — generous because the verify
    * corpus ingests months of history in one batch. */
  private val streamStateTtlMs: Long = 90L * 86400000L

  /** q340's stateful core, factored so StreamSpec can drive it with a
    * crafted multi-batch MemoryStream: per-user exact integer moments
    * (n, Σcents, Σcents² as BigInt) with >3σ-vs-prior-history
    * flagging. Keyed state is EVICTED `ttlMs` past the user's last
    * event via EventTimeTimeout — the caller must have set an
    * event-time watermark upstream. A timed-out user's moments are
    * removed; if they return, history restarts from zero (the same
    * semantics a retention policy gives the batch twin). Input:
    * (user_id, event_id, sec, cents); output: flagged
    * (user_id, event_id, cents, z). */
  private[graft] def anomalyTransform(
      src: org.apache.spark.sql.Dataset[
        (Long, Long, Long, Long, java.sql.Timestamp)],
      ttlMs: Long)
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import src.sparkSession.implicits._
    src.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, BigInt),
        (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, st) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            var (n, sx, sxx) = st.getOption.getOrElse((0L, 0L, BigInt(0)))
            val out = Seq.newBuilder[(Long, Long, Long, Double)]
            var lastSec = Long.MinValue
            it.toSeq.sortBy(e => (e._3, e._2)).foreach { e =>
              val x = e._4
              if (n >= 5) {
                val mu = sx.toDouble / n
                val vr = (sxx.toDouble - sx.toDouble * sx.toDouble / n) /
                  (n - 1)
                if (vr > 0) {
                  val z = (x - mu) / math.sqrt(vr)
                  if (math.abs(z) > 3)
                    out += ((uid, e._2, x, BigDecimal(z)
                      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
                      .toDouble))
                }
              }
              n += 1; sx += x; sxx += BigInt(x) * BigInt(x)
              if (e._3 > lastSec) lastSec = e._3
            }
            st.update((n, sx, sxx))
            // evict TTL past the user's last event. Clamped above the
            // current watermark: the API rejects a timeout at-or-below
            // it, and a user whose whole history is already older than
            // watermark − TTL (bulk backfill) should evict at the next
            // possible instant, not throw.
            st.setTimeoutTimestamp(math.max(lastSec * 1000L + ttlMs,
              st.getCurrentWatermarkMs + 1L))
            out.result().iterator
          }
      }
  }

  /** q343's stateful core, factored for StreamSpec's cross-batch
    * state-wipe proof: per-user running (count, Σcents) over data
    * rows; a FORGET row (e._5) wipes the user's accumulated state
    * mid-stream — `GroupState.remove`, not a zeroed placeholder, so
    * nothing about the user survives in the state store — and is
    * itself never counted; later events re-accumulate from zero.
    * Idle users evict via the same EventTimeTimeout TTL as q340.
    * Input: (user_id, event_id, sec, cents, forget); output: per
    * data row (user_id, event_id, n, sum_cents) since last forget. */
  private[graft] def rtbfTransform(
      src: org.apache.spark.sql.Dataset[
        (Long, Long, Long, Long, Boolean, java.sql.Timestamp)],
      ttlMs: Long)
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import src.sparkSession.implicits._
    src.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, st) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            var (n, sc) = st.getOption.getOrElse((0L, 0L))
            val out = Seq.newBuilder[(Long, Long, Long, Long)]
            var lastSec = Long.MinValue
            it.toSeq.sortBy(e => (e._3, e._2)).foreach { e =>
              if (e._5) { n = 0L; sc = 0L }
              else {
                n += 1; sc += e._4
                out += ((uid, e._2, n, sc))
              }
              if (e._3 > lastSec) lastSec = e._3
            }
            // n == 0 ⟺ the forget was the user's last word this batch:
            // their state must be GONE, not zero
            if (n == 0L) st.remove()
            else {
              st.update((n, sc))
              st.setTimeoutTimestamp(math.max(lastSec * 1000L + ttlMs,
                st.getCurrentWatermarkMs + 1L))
            }
            out.result().iterator
          }
      }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Running per-group aggregates in complete mode — the reference's
    // streaming sum/mean accumulators (src/datastream.jl:87-247).
    "q60_stream_agg" -> { (s, dir) =>
      // sum/mean/count = reference streaming aggregates
      // (src/datastream.jl:87-247); stddev = the latent Welford
      // variance path, covar_samp = the latent two-pass covariance
      // (src/datastream.jl:249-446, commented out there).
      val agg = eventsStream(s, dir)
        .groupBy("event_type")
        .agg((F.floor((F.sum("value")) * 1e2 + 0.5) / 1e2).as("total"),
             (F.floor((F.avg("value")) * 1e6 + 0.5) / 1e6).as("mean"),
             (F.floor((F.stddev_samp(F.col("value"))) * 1e6 + 0.5) / 1e6).as("sd"),
             (F.floor((F.covar_samp(F.col("value"),
               F.col("user_id").cast("double"))) * 1e4 + 0.5) / 1e4).as("cov_vu"),
             F.count(F.lit(1)).as("n"))
      runStateful(s, agg, uniq("stream_agg"))
    },

    // Event-time tumbling windows (1 hour) per event_type — Spark
    // superset (the reference has no event-time windows).
    "q61_stream_window" -> { (s, dir) =>
      val win = DataStream.windowedAgg(
        eventsStream(s, dir), "ts", "event_type", "1 hour")
      runStateful(s, win, uniq("stream_win"))
    },

    // Append-mode watermarked windows — the PRODUCTION emission
    // semantics (q61 is complete-mode): a window row is emitted
    // exactly once, when the watermark (max event time − 1 h, tracked
    // in ms) passes its end, and its state is evicted. On a bounded
    // run the emitted set is every window that closed before the final
    // watermark — which the batch oracle reproduces arithmetically.
    // State is bounded by open windows × keys regardless of stream
    // length.
    "q125_stream_append_window" -> { (s, dir) =>
      val win = DataStream.windowedAgg(
        eventsStream(s, dir).withWatermark("ts", "1 hour"),
        "ts", "event_type", "1 hour")
      runStateful(s, win, uniq("stream_append"), mode = "append")
    },

    // STREAMING session windows, append mode: q113's native Catalyst
    // session_window on the standing stream, watermarked so merged
    // sessions EMIT once event time provably passes their close (and
    // their state is evicted — bounded memory on an unbounded stream).
    // Second-truncated timestamps like q113, so the oracle's
    // lag-based session reconstruction is exact; the emission rule is
    // q125's: a session emits iff its window end (last event + gap)
    // precedes the final watermark (max event-time ms − 1 h).
    "q165_stream_sessions" -> { (s, dir) =>
      val ev = eventsStream(s, dir)
        .withColumn("ts_sec",
          F.timestamp_seconds(F.unix_timestamp(F.col("ts"))))
        .withWatermark("ts_sec", "1 hour")
      val agg = ev.groupBy(F.col("user_id"),
          F.session_window(F.col("ts_sec"), "1800 seconds").as("sw"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.round(F.sum("value"), 2).as("total"))
        .select(F.col("user_id"),
          F.unix_timestamp(F.col("sw.start")).as("session_start"),
          (F.unix_timestamp(F.col("sw.end")) - 1800).as("session_end"),
          F.col("n_events"), F.col("total"))
      runStateful(s, agg, uniq("stream_sessions"), mode = "append")
    },

    // Gap-based sessionization, batch path (30-minute gap); the
    // streaming twin is q165's session_window, which StreamSpec also
    // checks against this plan.
    "q71_sessionize" -> { (s, dir) =>
      graft.streaming.Sessionize.sessionizeBatch(
        graft.T.load(s, dir, "events"), 1800L)
    },

    // Native Catalyst session windows — the batch form of q165's
    // streaming sessions; q71 is the declarative lag/window plan, and
    // all three answer to one oracle family. Timestamps are
    // second-truncated first (q71's gap compares floor(epoch));
    // session_window merges INCLUSIVELY at the boundary (an event at
    // exactly windowEnd extends the session — verified on a
    // 1801-second-gap pair), so gap = 1800 s on whole-second stamps
    // reproduces "diff <= 1800 → same session" exactly. Session end =
    // window end - gap = the last event's second.
    "q113_session_window" -> { (s, dir) =>
      val ev = graft.T.load(s, dir, "events")
        .withColumn("ts_sec",
          F.timestamp_seconds(F.unix_timestamp(F.col("ts"))))
      ev.groupBy(F.col("user_id"),
          F.session_window(F.col("ts_sec"), "1800 seconds").as("sw"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.round(F.sum("value"), 2).as("total"))
        .select(F.col("user_id"),
          F.unix_timestamp(F.col("sw.start")).as("session_start"),
          (F.unix_timestamp(F.col("sw.end")) - 1800).as("session_end"),
          F.col("n_events"), F.col("total"))
    },

    // Stream-stream interval join: each click joined to the same
    // user's purchases within the following 12 hours — watermarked on
    // both sides, so join state is evicted as event time advances
    // (bounded state on unbounded streams). The joined pairs land in
    // the sink; the per-user rollup is batch over the sink table (an
    // unwindowed agg downstream of a stream-stream join has no
    // append-mode emission point).
    "q104_interval_join" -> { (s, dir) =>
      // ONE source DF filtered twice: Spark supports stream self-joins
      // from a single source, and a second eventsStream() would pay a
      // second scan + file-source setup for identical bytes.
      val ev = eventsStream(s, dir)
      val clicks = ev.filter(F.col("event_type") === "click")
      val buys = ev.filter(F.col("event_type") === "purchase")
      val joined = DataStream.intervalJoin(
        clicks, buys, "user_id", "ts",
        bound = "12 hours", watermark = streamJoinWatermark)
      runStateful(s, joined, uniq("interval_join"), mode = "append")
        .groupBy(F.col("l_user_id").as("user_id"))
        .agg(F.count(F.lit(1)).as("n_pairs"),
          F.round(F.sum("r_value"), 2).as("sum_value"))
        .select("user_id", "n_pairs", "sum_value")
    },

    // Stream-stream LEFT OUTER interval join: q104's pairing plus the
    // abandonment signal — clicks with NO purchase inside 12 h emit
    // once the watermark closes their join window (right columns
    // null). Unlike the inner join, the watermark here is part of the
    // RESULT contract, not just a state bound: a click can only be
    // declared unmatched once event time has provably passed its
    // window, so this query pins a 1 h delay rather than the corpus-
    // driven 60-day default (under which nothing would ever resolve
    // on a bounded corpus). The oracle reproduces exactly that
    // emission rule: pairs, plus clicks whose window end precedes the
    // final watermark = min(max click ts, max purchase ts) − 1 h.
    "q155_stream_outer_join" -> { (s, dir) =>
      val ev = eventsStream(s, dir)
      val clicks = ev.filter(F.col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val buys = ev.filter(F.col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val joined = DataStream.intervalJoin(
        clicks, buys, "user_id", "ts",
        bound = "12 hours", watermark = "1 hour", joinType = "left_outer")
      runStateful(s, joined, uniq("outer_join"), mode = "append")
        .groupBy(F.col("l_user_id").as("user_id"))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.count(F.col("r_value")).as("n_pairs"),
          F.round(F.sum(F.coalesce(F.col("r_value"), F.lit(0.0))), 2)
            .as("sum_value"))
    },

    // Stream-static dimension enrichment: the standing stream joins a
    // broadcast dim table (stateless — no join state, no watermark
    // needed on the static side), then a running per-segment rollup.
    // At scale the dim is either broadcast (small) or the join flips to
    // a keyed shuffle automatically — the stream side never blocks.
    "q117_stream_enrich" -> { (s, dir) =>
      val cust = T.load(s, dir, "customer")
        .select(F.col("c_custkey"), F.col("c_mktsegment"))
      val agg = eventsStream(s, dir)
        .join(F.broadcast(cust), F.col("user_id") === F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).as("n_events"),
          F.round(F.sum("value"), 2).as("sum_value"))
      runStateful(s, agg, uniq("stream_enrich"))
        .select("c_mktsegment", "n_events", "sum_value")
    },

    // Per-(user, hour) ingest throttle: keep the 2 earliest events per
    // key-window via flatMapGroupsWithState (O(n) state per open
    // group), emitted when the watermark closes the window. Emission
    // rule mirrors q125: only windows the FINAL watermark strictly
    // passed ever fire their timeout.
    "q189_stream_throttle" -> { (s, dir) =>
      val kept = DataStream.throttleStream(eventsStream(s, dir),
        "ts", "user_id", "event_id", windowSec = 3600L, n = 2,
        delay = "1 hour")
      runStateful(s, kept, uniq("stream_throttle"), mode = "append")
        .select(F.col("k").as("user_id"), F.col("wstart"),
          F.col("id").as("event_id"))
    },

    // Streaming exact dedup at the door: dropDuplicates on the
    // (lang, 8-byte text hash) pair as documents stream in, then
    // kept-docs per lang. The dedup key INCLUDES lang: dup groups
    // span languages at sf0.1 (7 texts recur under a second lang —
    // the round-13 cross-scale sweep caught a text-only key
    // attributing each to whichever lang the stream saw first, a
    // race the batch oracle can't express), so per-lang keying is
    // what makes kept-docs-per-lang deterministic at every scale.
    // Bounded-state watermark variant in StreamSpec.
    "q96_stream_dedup" -> { (s, dir) =>
      val kept = tableStream(s, dir, "documents")
        .withColumn("__key", F.xxhash64(F.col("text")))
        .dropDuplicates("lang", "__key")
        .select("doc_id", "lang")
      runStateful(s, kept, uniq("stream_dedup"), mode = "append")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"))
    },

    // CDC latest-state compaction: maintain the materialized
    // latest-row-per-key table as changes stream in — the classic
    // change-data-capture consumer. Declarative form: max_by over an
    // event-time struct (state = one row per key, the minimal CDC
    // state); last-write-wins ordering is (ts, event_id), so ties are
    // impossible and both engines agree. StreamSpec pins the
    // stream-equals-batch-replay contract.
    "q254_stream_cdc" -> { (s, dir) =>
      val latest = eventsStream(s, dir)
        .groupBy("user_id")
        .agg(F.max_by(F.struct(F.col("event_type"), F.col("value")),
            F.struct(F.col("ts"), F.col("event_id"))).as("m"),
          F.count(F.lit(1)).as("n_events"))
      runStateful(s, latest, uniq("stream_cdc"))
        .select(F.col("user_id"), F.col("m.event_type").as("last_type"),
          F.round(F.col("m.value"), 6).as("last_value"),
          F.col("n_events"))
    },

    // Stream-batch reconciliation: distinct users per type estimated
    // IN the stream by an HLL++ sketch (mergeable per-key state, the
    // only distinct-count a stream can afford), reconciled against the
    // exact batch twin over the same source — the production pattern
    // for validating streaming sketches offline. Gate at ±5%.
    "q255_stream_acd" -> { (s, dir) =>
      val acd = eventsStream(s, dir).groupBy("event_type")
        .agg(F.approx_count_distinct(F.col("user_id"), 0.02).as("__acd"))
      val st = runStateful(s, acd, uniq("stream_acd"))
      val exact = _root_.graft.T.load(s, dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct(F.col("user_id")).as("n_users"))
      st.join(exact, "event_type")
        .select(F.col("event_type"), F.col("n_users"),
          (F.abs(F.col("__acd") - F.col("n_users")).cast("double")
            / F.col("n_users") <= 0.05).as("acd_ok"))
    },

    // Streaming quantile sketch reconciliation — q255's validation
    // pattern applied to the OTHER sketch a stream needs: per-key
    // median estimated in-stream by percentile_approx (mergeable
    // KLL-style state, the only quantile a stream can afford),
    // reconciled against the exact batch percentile over the same
    // source. Gate at ±5% relative error — the offline check run
    // before anyone trusts a streaming latency/value dashboard.
    // percentile-audit: BOUNDED — the exact side runs over `value`,
    // 2-decimal money, so the per-group value map is capped by the
    // cent domain (≤100·range+1), not the row count; it is the
    // offline validation instrument, the sketch is the stream path.
    // See SCALE.md §percentile-audit.
    "q280_stream_quantile" -> { (s, dir) =>
      val med = eventsStream(s, dir).groupBy("event_type")
        .agg(F.percentile_approx(F.col("value"), F.lit(0.5),
          F.lit(1000)).as("__p50"))
      val st = runStateful(s, med, uniq("stream_quant"))
      val exact = _root_.graft.T.load(s, dir, "events")
        .groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").as("p50"))
      st.join(exact, "event_type")
        .select(F.col("event_type"), F.round(F.col("p50"), 6).as("p50"),
          (F.abs(F.col("__p50") - F.col("p50"))
            / F.col("p50") <= 0.05).as("sketch_ok"))
    },

    // Stream-stream LEFT SEMI decontamination — the streaming twin of
    // q54/q106's batch n-gram gate, and the one stream-stream join
    // kind the suite lacked. Two standing streams over the document
    // feed (ONE source, filtered twice — q104's self-join shape): the
    // benchmark split (doc_id % 97 == 0) publishes its distinct
    // 3-gram shingle hashes; every corpus doc-shingle row semi-joins
    // against them, so a corpus doc is flagged the moment ANY of its
    // shingles matches the eval set — the n-gram-overlap
    // contamination rule (GPT-3 appendix C) evaluated online at the
    // ingest door instead of in a nightly batch. Semi join emits each
    // left row at most once; state is event-time-bounded by the
    // watermark + the ±30-day interval on both sides. Shuffles carry
    // (doc_id, 8-byte shingle hash) — never text. Event time is
    // synthesized as timestamp_seconds(doc_id) (the feed's arrival
    // order); the oracle replays the interval as the equivalent
    // doc_id-distance bound. The per-lang rollup runs batch over the
    // sink table (an unwindowed agg downstream of a stream-stream
    // join has no append-mode emission point — q104's note).
    "q282_stream_decontam" -> { (s, dir) =>
      val src = tableStream(s, dir, "documents")
        // +1: an event time of EXACTLY epoch 0 equals the join's
        // initial watermark and is discarded as late (measured: doc 0
        // and its 14 matches silently vanished); the offset keeps the
        // synthetic clock strictly past the watermark origin and
        // cancels in the distance bound
        .withColumn("__ets", F.expr("timestamp_seconds(doc_id + 1)"))
        .withColumn("__sh", F.explode(
          graft.plans.TextExpressions.wordShingles(F.col("text"), 3)))
      val corpus = src.filter(F.col("doc_id") % 97 =!= 0)
        .select(F.col("doc_id"), F.col("lang"), F.col("n_chars"),
          F.xxhash64(F.col("__sh")).as("__key"), F.col("__ets"))
        .withWatermark("__ets", streamJoinWatermark)
      val bench = src.filter(F.col("doc_id") % 97 === 0)
        .select(F.xxhash64(F.col("__sh")).as("__bkey"),
          F.col("__ets").as("__bets"))
        .withWatermark("__bets", streamJoinWatermark)
      val flagged = corpus.join(bench, F.expr(
        """__key = __bkey AND
           __bets >= __ets - INTERVAL 30 DAYS AND
           __bets <= __ets + INTERVAL 30 DAYS"""), "left_semi")
      runStateful(s, flagged, uniq("stream_decontam"), mode = "append")
        .select("doc_id", "lang", "n_chars").distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_contaminated"),
          F.sum("n_chars").as("contaminated_chars"))
    },

    // Streaming heavy-hitters — the Count-Min twin of q255/q280's
    // sketch-reconciliation pattern, closing the one sketch family
    // with no streaming counterpart (r7 verdict task 6). The 4×8192
    // counter array builds IN the stream: CounterArrayAgg is mergeable
    // partial-agg state, so each micro-batch bumps map-side counters
    // and ships one array into the (1-row) complete-mode state store —
    // per-batch cost is O(width·depth), independent of stream volume.
    // The batch twin then ranks the exact top-20 users by event count
    // and probes the streamed sketch per key; the CM contract gates —
    // est >= true (one-sided by construction: a LOST micro-batch
    // flips this false) and est <= true + 20·N/width (sizing bound) —
    // are q107's, asserted TRUE by the oracle against the exact side.
    "q314_stream_heavy_hitters" -> { (s, dir) =>
      import graft.sketch.CountMin
      import graft.functions.CounterArrayAgg
      val W = 8192; val D = 4
      val cells = eventsStream(s, dir)
        .select(F.explode(F.expr(
          CountMin.cellsOfHashExpr("xxhash64(user_id)", W, D))).as("__i"))
        .agg(CounterArrayAgg.counters(F.col("__i"), W * D).as("cm"))
      val cm = runStateful(s, cells, uniq("stream_hh"))
      val ev = T.load(s, dir, "events")
      val cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).as("c"))
      val tot = ev.agg(F.count(F.lit(1)).as("__n"))
      val top = cnt.orderBy(F.col("c").desc, F.col("user_id").asc)
        .limit(20) // TakeOrderedAndProject
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(F.col("c").desc, F.col("user_id").asc) // 20 rows
      top.crossJoin(F.broadcast(cm)).crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("__est", F.expr(
          CountMin.estimateExpr("cm", "xxhash64(user_id)", W, D)))
        .select(F.col("user_id"), F.col("c"), F.col("rank"),
          (F.col("__est") >= F.col("c")).as("cms_ge"),
          (F.col("__est") <= F.col("c") + F.lit(20L) * F.col("__n")
            / F.lit(W.toLong)).as("cms_close"))
    },

    // Online per-user anomaly detection — flatMapGroupsWithState
    // keeping EXACT integer moments (n, Σcents, Σcents²) per user
    // across micro-batches, flagging any event > 3σ from the user's
    // PRIOR history (prefix-exclusive, warmup n ≥ 5): the live
    // fraud/quality flagger whose batch replay is a pure window
    // query. Determinism: the state is integers, so μ/σ/z are
    // bit-identical to the oracle's prefix-sum windows; z is emitted
    // 6-dp. State per user is (long, long, BigInt≈decimal38) —
    // O(users active within the TTL horizon) as of round 10, never
    // O(events) and no longer monotone in stream lifetime. Σcents² accumulates in BigInt: in
    // int64, x·x wraps silently for |cents| ≳ 3e9 and the running sum
    // wraps past 2^63 for long-lived big-value users, while the
    // DuckDB oracle promotes sum() to HUGEINT — BigInt keeps engine
    // and oracle exact over the full long domain (same int64-wrap
    // class the Wilson/PQ/Krippendorff round-8 fixes closed).
    // Encode bound: Spark serializes the BigInt state as
    // Decimal(38,0), so the RUNNING Σx² must stay below 10^38 — two
    // events near |cents|=9.2e18 (the long extreme) would overflow
    // the state encode even though each x·x term is exact. That needs
    // |value| ≈ 9.2e16 dollars per event; real monetary streams sit
    // >10 orders of magnitude below, so the per-term exactness is the
    // operative guarantee and the encode bound is documented, not
    // guarded.
    "q340_stream_anomaly" -> { (s, dir) =>
      import s.implicits._
      // State lifecycle (round 10): keyed moments evict TTL past the
      // user's last event via EventTimeTimeout (see anomalyTransform)
      // — the state store is bounded by users active in the TTL
      // horizon, not stream lifetime. The verify run is one
      // AvailableNow batch, so no timeout fires and the oracle replay
      // is unchanged; StreamSpec proves the eviction across crafted
      // micro-batches. The watermarked ts column rides the tuple —
      // event-time timeout requires the watermark column to survive
      // into the grouped Dataset.
      val src = eventsStream(s, dir)
        .select(F.col("user_id"), F.col("event_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"),
          F.expr("cast(round(value * 100) as bigint)").as("cents"),
          F.col("ts"))
        .withWatermark("ts", streamJoinWatermark)
        .as[(Long, Long, Long, Long, java.sql.Timestamp)]
      runStateful(s,
          anomalyTransform(src, streamStateTtlMs)
            .toDF("user_id", "event_id", "cents", "z"),
          uniq("stream_anom"), mode = "append")
        .orderBy("user_id", "event_id")
    },

    // Streaming top-k maintenance — running part-popularity top-10
    // from the lineitem stream: complete-mode counts (mergeable
    // state, O(parts)) + a TakeOrdered on the sink table, reconciled
    // exactly against the batch twin. The dashboard primitive that
    // pairs with q314's sketch path when exact per-key state still
    // fits (it stops fitting at web scale — that's what q314 is for).
    // State lifecycle: the key is l_partkey — DIMENSION-bounded (the
    // part catalog), not user/stream-bounded, so unlike q340 there is
    // no monotone growth to evict. The CountMin fallback engages
    // AUTOMATICALLY when the key dimension outgrows the exact-state
    // budget (streamTopKAuto, round 13) — at verify scale the gate
    // stays on the exact path, so the oracle contract is unchanged.
    "q341_stream_topk" -> { (s, dir) => streamTopKAuto(s, dir) },

    // Streaming right-to-be-forgotten — the stream-side twin of
    // q234's batch cascade, closing the round-9 verdict's "batch can
    // forget a user while the stream remembers them indefinitely"
    // gap. Purchases by the q234 key set (user_id % 97 = 0) double as
    // forget requests (q104's filter-twice shape: ONE source, no
    // second control stream). A forget row is pure control — it wipes
    // the user's keyed state in place (GroupState.remove, not a
    // zeroed placeholder) and is itself never counted; later events
    // re-accumulate from zero. The output (running count + Σcents per
    // data event since the last forget) makes every wipe OBSERVABLE
    // row-by-row, so the batch oracle replays it exactly: segment id
    // = running count of forget rows, n/Σ restart per (user,
    // segment). State is (long, long) per user, evicted by the same
    // EventTimeTimeout TTL as q340 when a user goes idle; StreamSpec
    // proves cross-batch that a forgotten user's state is gone.
    "q343_stream_rtbf" -> { (s, dir) =>
      import s.implicits._
      val src = eventsStream(s, dir)
        .select(F.col("user_id"), F.col("event_id"),
          F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"),
          F.expr("cast(round(value * 100) as bigint)").as("cents"),
          F.expr("user_id % 97 = 0 AND event_type = 'purchase'")
            .as("forget"),
          F.col("ts"))
        .withWatermark("ts", streamJoinWatermark)
        .as[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)]
      runStateful(s,
          rtbfTransform(src, streamStateTtlMs)
            .toDF("user_id", "event_id", "n", "sum_cents"),
          uniq("stream_rtbf"), mode = "append")
        .orderBy("user_id", "event_id")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q254_stream_cdc" ->
      """SELECT user_id, event_type AS last_type,
           round(value, 6) + 0 AS last_value, n_events
         FROM (SELECT user_id, event_type, value,
                 CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_events,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1""",
    "q255_stream_acd" ->
      """SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS acd_ok
         FROM events GROUP BY 1""",
    // batch replay: prefix-exclusive exact-moment windows per user
    "q340_stream_anomaly" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) sec,
             CAST(round(value * 100) AS BIGINT) cents FROM events),
          p AS (SELECT user_id, event_id, cents,
             count(*) OVER w n, sum(cents) OVER w sx,
             sum(cents * cents) OVER w sxx
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          z AS (SELECT user_id, event_id, cents,
             (cents - sx::DOUBLE / n)
               / sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n)
                 / (n - 1)) z,
             (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n) / (n - 1) vr
           FROM p WHERE n >= 5)
          SELECT user_id, event_id, cents, round(z, 6) + 0 AS z
          FROM z WHERE vr > 0 AND abs(z) > 3
          ORDER BY user_id, event_id""",

    "q341_stream_topk" ->
      """SELECT l_partkey, count(*) n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) qty
         FROM lineitem GROUP BY 1
         ORDER BY n DESC, l_partkey LIMIT 10""",

    // batch replay of the forget semantics: segment id = running
    // count of forget rows per user (a forget row joins its own
    // segment count, so data rows after it land in the next segment);
    // n/Σcents = per-(user, segment) running windows over data rows
    "q343_stream_rtbf" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) sec,
             CAST(round(value * 100) AS BIGINT) cents,
             (user_id % 97 = 0 AND event_type = 'purchase') forget
           FROM events),
          g AS (SELECT *, count(*) FILTER (WHERE forget) OVER
              (PARTITION BY user_id ORDER BY sec, event_id) grp
            FROM e)
          SELECT user_id, event_id,
            CAST(row_number() OVER w AS BIGINT) n,
            CAST(sum(cents) OVER w AS BIGINT) sum_cents
          FROM g WHERE NOT forget
          WINDOW w AS (PARTITION BY user_id, grp ORDER BY sec, event_id)
          ORDER BY user_id, event_id""",

    // exact top-20 side is hash-checked; the two CM gates are
    // engine-verified and asserted TRUE (q107's pattern)
    "q314_stream_heavy_hitters" ->
      """WITH cnt AS (SELECT user_id, count(*) c FROM events
             GROUP BY 1),
          rk AS (SELECT user_id, c,
             row_number() OVER (ORDER BY c DESC, user_id) rank
           FROM cnt)
          SELECT user_id, CAST(c AS BIGINT) c, rank,
            TRUE AS cms_ge, TRUE AS cms_close
          FROM rk WHERE rank <= 20""",
    // the gate column is engine-verified (±5% vs the sketch); the
    // oracle hash-checks the exact side — q255's validation pattern
    "q280_stream_quantile" ->
      """SELECT event_type,
           round(quantile_cont(value, 0.5), 6) + 0 AS p50,
           TRUE AS sketch_ok
         FROM events GROUP BY 1""",
    // batch twin of the stream-stream semi join: EXISTS on shingle
    // equality + the same ±30-day (= 2 592 000 doc_id-seconds) bound
    "q282_stream_decontam" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, lang, n_chars,
             list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), x -> x != '') t
           FROM documents),
          s AS MATERIALIZED (SELECT doc_id, lang, n_chars,
             unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               for i in range(1, len(t) - 1)])) sh
           FROM t),
          hit AS (SELECT DISTINCT d.doc_id, d.lang, d.n_chars
                  FROM s d
                  WHERE d.doc_id % 97 != 0 AND EXISTS (
                    SELECT 1 FROM s b
                    WHERE b.doc_id % 97 = 0 AND b.sh = d.sh
                      AND abs(b.doc_id - d.doc_id) <= 2592000))
          SELECT lang, CAST(count(*) AS BIGINT) AS n_contaminated,
            CAST(sum(n_chars) AS BIGINT) AS contaminated_chars
          FROM hit GROUP BY 1""",
    "q117_stream_enrich" ->
      """SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""",
    "q71_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                       > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts, value,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS total
         FROM sess GROUP BY 1, 2""",
    "q60_stream_agg" ->
      """SELECT event_type, floor((sum(value)) * 1e2 + 0.5) / 1e2 AS total,
                floor((avg(value)) * 1e6 + 0.5) / 1e6 AS mean,
                floor((stddev_samp(value)) * 1e6 + 0.5) / 1e6 AS sd,
                floor((covar_samp(value, CAST(user_id AS DOUBLE))) * 1e4 + 0.5) / 1e4
                  AS cov_vu,
                count(*) AS n
         FROM events GROUP BY event_type""",
    "q61_stream_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                  AS window_start,
                event_type, count(*) AS n,
                round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2""",
    "q96_stream_dedup" ->
      """SELECT lang, count(DISTINCT text) AS n_docs
         FROM documents GROUP BY lang""",
    // EventTimeTimeout fires strictly AFTER the timeout timestamp, so
    // the emitted set is windows with end < final watermark (vs <= for
    // append-mode window aggs in q125)
    "q189_stream_throttle" ->
      """WITH wm AS (SELECT epoch_us(max(ts)) // 1000 - 3600000 AS wm_ms
                     FROM events),
          r AS (SELECT user_id,
                  CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
                  event_id,
                  row_number() OVER (
                    PARTITION BY user_id, floor(epoch(ts) / 3600)
                    ORDER BY epoch_us(ts), event_id) AS rn
                FROM events)
         SELECT user_id, wstart, event_id FROM r CROSS JOIN wm
         WHERE rn <= 2 AND (wstart + 3600) * 1000 < wm_ms""",
    // emitted set = windows whose END precedes the final watermark
    // (max event time truncated to ms, minus the 1 h delay)
    "q125_stream_append_window" ->
      """WITH wm AS (SELECT epoch_us(max(ts)) // 1000 - 3600000 AS wm_ms
                     FROM events)
         SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                  AS window_start,
                event_type, count(*) AS n,
                round(sum(value), 2) AS total
         FROM events CROSS JOIN wm
         WHERE (floor(epoch(ts) / 3600) * 3600 + 3600) * 1000 <= wm_ms
         GROUP BY 1, 2, wm_ms""",
    // q113's session reconstruction + q125's emission rule: sessions
    // whose window end (last event second + 1800) precedes the final
    // watermark (max second-truncated event time in ms − 1 h)
    "q165_stream_sessions" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                       > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged),
         wm AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) * 1000
                  - 3600000 AS wm_ms
                FROM events)
         SELECT user_id,
           min(CAST(floor(epoch(ts)) AS BIGINT)) AS session_start,
           max(CAST(floor(epoch(ts)) AS BIGINT)) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total
         FROM sess CROSS JOIN wm
         GROUP BY user_id, sid, wm_ms
         HAVING (max(CAST(floor(epoch(ts)) AS BIGINT)) + 1800) * 1000
                < wm_ms""",
    // same session semantics as q71's oracle, aggregated to sessions
    "q113_session_window" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                       > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id,
           min(CAST(floor(epoch(ts)) AS BIGINT)) AS session_start,
           max(CAST(floor(epoch(ts)) AS BIGINT)) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total
         FROM sess GROUP BY user_id, sid""",
    // epoch_us on both sides: the engine compares micros-rebuilt
    // timestamps, the oracle the parquet nanos truncated to micros
    // (the generated data has no sub-micro component, so identical)
    "q104_interval_join" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS tus FROM events
                    WHERE event_type = 'click'),
            r AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events
                  WHERE event_type = 'purchase')
         SELECT l.user_id AS user_id,
           count(*) AS n_pairs,
           round(sum(r.value), 2) AS sum_value
         FROM l JOIN r ON l.user_id = r.user_id
           AND r.tus >= l.tus AND r.tus <= l.tus + 43200000000
         GROUP BY 1""",
    // pairs emit unconditionally; a click emits unmatched (value NULL)
    // only once evicted — its 12 h window END strictly precedes the
    // final watermark, where the watermark is min over both sides' max
    // event time (ms-truncated, Spark's event-time stats unit) − 1 h
    "q155_stream_outer_join" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tus
                    FROM events WHERE event_type = 'click'),
          r AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events
                WHERE event_type = 'purchase'),
          wm AS (SELECT least(
                   (SELECT epoch_us(max(ts)) // 1000 FROM events
                    WHERE event_type = 'click'),
                   (SELECT epoch_us(max(ts)) // 1000 FROM events
                    WHERE event_type = 'purchase')) - 3600000 AS wm_ms),
          p AS (SELECT l.event_id, l.user_id, r.value
                FROM l JOIN r ON l.user_id = r.user_id
                  AND r.tus >= l.tus AND r.tus <= l.tus + 43200000000),
          um AS (SELECT l.event_id, l.user_id,
                   CAST(NULL AS DOUBLE) AS value
                 FROM l CROSS JOIN wm
                 WHERE l.tus + 43200000000 < wm_ms * 1000
                   AND NOT EXISTS (SELECT 1 FROM p
                                   WHERE p.event_id = l.event_id))
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(value) AS BIGINT) AS n_pairs,
                round(sum(coalesce(value, 0.0)), 2) AS sum_value
         FROM (SELECT user_id, value FROM p
               UNION ALL SELECT user_id, value FROM um)
         GROUP BY 1"""
  )
}
