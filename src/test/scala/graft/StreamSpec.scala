package graft

import java.sql.Timestamp
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Sessionize

final case class SessEvent(user_id: Long, ts: Timestamp, value: Double)

/** Stateful streaming operators vs their batch twins. */
class StreamSpec extends SparkSpec {

  test("native streaming session_window matches batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L
    def ev(u: Long, offSec: Long, v: Double) =
      SessEvent(u, new Timestamp((base + offSec) * 1000), v)
    // user 1: two sessions (gap 4000s > 1800); user 2: one session
    val events = Seq(
      ev(1, 0, 1.0), ev(1, 600, 2.0), ev(1, 1200, 3.0),
      ev(1, 5200, 4.0), ev(1, 5800, 5.0),
      ev(2, 100, 10.0), ev(2, 900, 20.0))
    val stream = MemoryStream[SessEvent]
    stream.addData(events)
    // q165's streaming form: watermarked session_window, append mode
    val q = stream.toDS().withWatermark("ts", "1 hour")
      .groupBy(F.col("user_id"),
        F.session_window(F.col("ts"), "1800 seconds").as("sw"))
      .agg(F.count(F.lit(1)).as("n_events"),
        F.round(F.sum("value"), 2).as("total"))
      .select(F.col("user_id"),
        F.unix_timestamp(F.col("sw.start")).as("session_start"),
        (F.unix_timestamp(F.col("sw.end")) - 1800).as("session_end"),
        F.col("n_events"), F.col("total"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_test").start()
    q.processAllAvailable()
    // advance watermark far past all sessions so they close and emit
    stream.addData(ev(99, 100000, 0.0))
    q.processAllAvailable()
    // one more batch so closed sessions flush
    stream.addData(ev(99, 100001, 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_test").filter(F.col("user_id") < 10)
    val batch = Sessionize.sessionizeBatch(
      events.toDF().withColumn("event_id",
        F.monotonically_increasing_id()),
      1800L)
      .select(F.col("user_id"), F.col("session_start"),
        F.col("session_end"), F.col("n_events"), F.col("total"))
    assert(got.count() == 3)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L
    def ev(u: Long, offSec: Long, v: Double) =
      SessEvent(u, new Timestamp((base + offSec) * 1000), v)
    val lEvents = Seq(ev(1, 0, 1.0), ev(1, 600, 2.0), ev(2, 0, 3.0))
    val rEvents = Seq(ev(1, 100, 10.0), ev(1, 3000, 20.0), ev(2, 30, 30.0),
      ev(3, 10, 40.0))
    val ls = MemoryStream[SessEvent]; ls.addData(lEvents)
    val rs = MemoryStream[SessEvent]; rs.addData(rEvents)
    val joined = graft.streaming.DataStream.intervalJoin(
      ls.toDS().toDF(), rs.toDS().toDF(),
      "user_id", "ts", "5 minutes", "1 hour")
      .select("l_user_id", "l_ts", "r_ts", "r_value")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ij_test").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ij_test")
    val batch = lEvents.toDF().as("l").join(rEvents.toDF().as("r"),
      F.expr("""l.user_id = r.user_id AND r.ts >= l.ts AND
                r.ts <= l.ts + INTERVAL 5 minutes"""))
      .select(F.col("l.user_id").as("l_user_id"), F.col("l.ts").as("l_ts"),
        F.col("r.ts").as("r_ts"), F.col("r.value").as("r_value"))
    // expected: (u1,0)x(100), (u2,0)x(30) — (u1,600)x(3000) is outside
    // the 5-minute bound, u3 has no left side
    assert(got.count() == 2)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("bounded-state streaming dedup keeps first row per key in-window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L
    def ev(u: Long, offSec: Long, v: Double) =
      SessEvent(u, new Timestamp((base + offSec) * 1000), v)
    val stream = MemoryStream[SessEvent]
    // duplicates (same user_id key) arriving within the 1h watermark
    stream.addData(Seq(
      ev(1, 0, 1.0), ev(1, 60, 2.0), ev(2, 0, 3.0),
      ev(2, 120, 4.0), ev(3, 30, 5.0)))
    val dedup = stream.toDS().toDF().withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id")
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_test").start()
    q.processAllAvailable()
    q.stop()
    // one row per key survives; the full-stream variant agrees with
    // batch distinct-count
    val kept = spark.table("dedup_test")
    assert(kept.select("user_id").distinct().count() == 3)
    assert(kept.count() == 3)
  }

  test("per-lang dedup key is arrival-order immune for cross-lang dup texts") {
    // q96 regression (round-13 cross-scale sweep): with a text-only
    // dedup key, a text recurring under a SECOND language was kept
    // only for whichever lang the stream saw first — per-lang counts
    // depended on arrival order. Keying on (lang, hash) must yield
    // the same per-lang counts for both arrival orders, equal to the
    // batch count(DISTINCT text) per lang.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(name: String, batches: Seq[Seq[(String, String)]]): Map[String, Long] = {
      val ms = MemoryStream[(String, String)]
      val src = ms.toDS().toDF("lang", "text")
        .withColumn("__key", F.xxhash64(F.col("text")))
      val kept = src.dropDuplicates("lang", "__key")
      val q = kept.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val enFirst = run("dedup_enfirst",
      Seq(Seq("en" -> "T", "en" -> "U"), Seq("de" -> "T", "en" -> "T")))
    val deFirst = run("dedup_defirst",
      Seq(Seq("de" -> "T"), Seq("en" -> "T", "en" -> "U", "en" -> "U")))
    val want = Map("en" -> 2L, "de" -> 1L) // batch DISTINCT text per lang
    assert(enFirst == want, s"en-first arrival: $enFirst")
    assert(deFirst == want, s"de-first arrival: $deFirst")
  }

  test("throttleStream keeps earliest-n and times out strictly after window end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, sec: Long, id: Long) =
      SessEvent(u, new Timestamp(sec * 1000), id.toDouble) // value = id
    val stream = MemoryStream[SessEvent]
    val thr = graft.streaming.DataStream.throttleStream(
      stream.toDS().toDF()
        .select(F.col("user_id"), F.col("ts"),
          F.col("value").cast("long").as("event_id")),
      "ts", "user_id", "event_id", windowSec = 3600L, n = 2,
      delay = "0 seconds")
    val q = thr.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("throttle_test").start()
    def rows() = spark.table("throttle_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // hour-aligned base well above epoch 0 (rows at ts <= the initial
    // watermark 0 would be dropped as late)
    val b = 1700000000L / 3600 * 3600
    // batch 1: 4 events in window [b, b+3600) — ids 1..4, earliest 2 =
    // 1,2 (id 4 arrives "first" in the seq to prove arrival-order
    // immunity) and 2 events in window [b+3600, b+7200).
    // processAllAvailable runs a trailing NO-DATA batch, so the
    // watermark ((b+3601)s, delay 0) already fires window 0's timeout.
    stream.addData(Seq(
      ev(1, b + 3, 4), ev(1, b, 1), ev(1, b + 1, 2), ev(1, b + 2, 3),
      ev(1, b + 3600, 5), ev(1, b + 3601, 6)))
    q.processAllAvailable()
    assert(rows() == Set((1L, b, 1L), (1L, b, 2L)),
      "first window fired with its 2 earliest ids; second still open")
    // batch 2: max event time = b+7200 → wm lands EXACTLY on window
    // [b+3600, b+7200)'s end. EventTimeTimeout is strict — no fire.
    stream.addData(Seq(ev(2, b + 7200, 10)))
    q.processAllAvailable()
    assert(rows() == Set((1L, b, 1L), (1L, b, 2L)),
      "window ending exactly at the watermark must not fire")
    // batch 3: wm moves 1 s past the boundary → the window fires
    stream.addData(Seq(ev(2, b + 7201, 11)))
    q.processAllAvailable()
    q.stop()
    assert(rows() == Set((1L, b, 1L), (1L, b, 2L),
      (1L, b + 3600L, 5L), (1L, b + 3600L, 6L)))
  }

  test("streaming CDC compaction equals the batch last-write-wins replay") {
    import org.apache.spark.sql.{functions => F}
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.StreamQueries
      .queries("q254_stream_cdc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(F.col("ts").desc, F.col("event_id").desc)
    val want = T.load(spark, dir, "events")
      .withColumn("rn", F.row_number().over(w))
      .withColumn("n_events",
        F.count(F.lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(F.col("rn") === 1)
      .select(F.col("user_id"), F.col("event_type"),
        F.round(F.col("value"), 6), F.col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("streaming anomaly flags equal the batch prefix-window replay") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.StreamQueries
      .queries("q340_stream_anomaly")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch replay with the same exact-integer prefix moments
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("sec", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val want = T.load(spark, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.expr("cast(floor(unix_timestamp(ts)) as bigint)").as("sec"),
        F.expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("n", F.count(F.lit(1)).over(w))
      .withColumn("sx", F.sum("cents").over(w))
      .withColumn("sxx", F.sum(F.expr("cents * cents")).over(w))
      .filter(F.col("n") >= 5)
      .withColumn("vr", F.expr(
        "(cast(sxx as double) - cast(sx as double) * sx / n) / (n - 1)"))
      .filter(F.col("vr") > 0)
      .withColumn("z", F.expr(
        "(cents - cast(sx as double) / n) / sqrt(vr)"))
      .filter(F.abs(F.col("z")) > 3)
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("q340 state TTL: an idle user's moments evict; an active user's survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def e(u: Long, id: Long, sec: Long, cents: Long) =
      (u, id, sec, cents, new Timestamp(sec * 1000))
    val ms = MemoryStream[(Long, Long, Long, Long, Timestamp)]
    val src = ms.toDS().withWatermark("_5", "0 seconds")
    val q = graft.queries.StreamQueries.anomalyTransform(src, ttlMs = 10000L)
      .toDF("user_id", "event_id", "cents", "z")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_test").start()
    // b1: 6 calm events each for user 1 (who then goes idle) and
    // user 2 (who stays active)
    val calm = Seq(1000L, 1001L, 1000L, 1001L, 1000L, 1001L)
    ms.addData((1 to 6).flatMap(i =>
      Seq(e(1, i, 100 + i, calm(i - 1)),
        e(2, 100 + i, 100 + i, calm(i - 1)))))
    q.processAllAvailable()
    // b2: far-future filler (user 3) advances the watermark far past
    // user 1's timeout (106 s + 10 s TTL); user 2 stays active, which
    // resets their timer to 10,010 s
    ms.addData(Seq(e(3, 900, 10000, 500), e(2, 901, 10000, 1000)))
    q.processAllAvailable()
    // b3: timeout pass runs against the b2-end watermark (10,000 s):
    // user 1 (no data, timeout 116 s) is evicted HERE. user 2 sends
    // another calm event at 20,000 s — staying genuinely active in
    // EVENT time, which is what the TTL measures: without it the
    // watermark (20,000 s after this batch) would pass their 10,010 s
    // timer and evict them too, in the finalization batch Spark runs
    // when an advanced watermark exposes expired timers
    ms.addData(Seq(e(3, 902, 20000, 500), e(2, 903, 20000, 1000)))
    q.processAllAvailable()
    // b4: identical outlier probes. user 2's history is intact → huge
    // z, flagged; user 1's history is GONE → n restarts at 1, no z
    ms.addData(Seq(e(1, 1000, 20001, 99999), e(2, 1001, 20001, 99999)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ttl_test").collect()
    assert(rows.exists(r => r.getLong(0) == 2 && r.getLong(1) == 1001),
      s"active user's outlier not flagged: ${rows.mkString(";")}")
    assert(!rows.exists(r => r.getLong(0) == 1),
      s"evicted user flagged from state that should be gone: " +
        rows.mkString(";"))
  }

  test("q343 RTBF: a forget request wipes state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def d(u: Long, id: Long, sec: Long, c: Long) =
      (u, id, sec, c, false, new Timestamp(sec * 1000))
    def fg(u: Long, id: Long, sec: Long) =
      (u, id, sec, 0L, true, new Timestamp(sec * 1000))
    val ms = MemoryStream[(Long, Long, Long, Long, Boolean, Timestamp)]
    val src = ms.toDS().withWatermark("_6", "0 seconds")
    val q = graft.queries.StreamQueries
      .rtbfTransform(src, ttlMs = 86400000L)
      .toDF("user_id", "event_id", "n", "sum_cents")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rtbf_test").start()
    // b1: user 10 accumulates twice then files a forget request as
    // their LAST word of the batch (the n==0 ⇒ GroupState.remove
    // path — state leaves the store, not a zeroed placeholder);
    // user 20 just accumulates
    ms.addData(Seq(d(10, 1, 100, 5), d(10, 2, 200, 7), fg(10, 3, 300),
      d(20, 1, 100, 11), d(20, 2, 200, 13)))
    q.processAllAvailable()
    // b2: both users return (strictly past the b1-end watermark of
    // 300 s — rows at-or-below it are late and dropped) — the
    // forgotten user restarts from zero ACROSS the batch boundary,
    // the other continues
    ms.addData(Seq(d(10, 4, 400, 9), d(20, 3, 500, 17)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rtbf_test").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got((10L, 1L)) == ((1L, 5L)) && got((10L, 2L)) == ((2L, 12L)))
    assert(got((10L, 4L)) == ((1L, 9L)),
      "forgotten user's state survived the batch boundary")
    assert(got((20L, 2L)) == ((2L, 24L)) && got((20L, 3L)) == ((3L, 41L)),
      "unaffected user was disturbed")
    assert(got.size == 6) // 3 data rows per user; forget rows emit nothing
  }

  test("streaming top-k equals the batch count ranking") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.StreamQueries
      .queries("q341_stream_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = T.load(spark, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("l_quantity").cast("long")).as("qty"))
      .orderBy(F.col("n").desc, F.col("l_partkey").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("streaming CountMin sketch satisfies both gates on the exact top-20") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.StreamQueries
      .queries("q314_stream_heavy_hitters")(spark, dir)
      .collect()
    // sf0.001 has fewer than 20 users — top-20 truncates to the corpus
    val nUsers = T.load(spark, dir, "events")
      .select("user_id").distinct().count().toInt
    val k = math.min(20, nUsers)
    assert(rows.length == k)
    assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to k))
    // est >= true for EVERY key (one-sided CM guarantee; a dropped
    // micro-batch would undercount and flip this false)
    assert(rows.forall(_.getBoolean(3)), "cms_ge violated")
    assert(rows.forall(_.getBoolean(4)), "cms_close violated")
    // exact side equals a direct batch recount
    val want = T.load(spark, dir, "events")
      .groupBy("user_id").agg(F.count(F.lit(1)).as("c"))
      .orderBy(F.col("c").desc, F.col("user_id").asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == want)
  }

  test("socket DataStream ingests typed rows from a live line channel") {
    // round-12 stretch: the reference's UNIX-pipe ingestion
    // (doc/sections/09_datastreams.md:36-62) on Spark's socket source —
    // lines written to a TCP channel arrive as schema-typed rows
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("n", IntegerType)))
    val server = new java.net.ServerSocket(0) // ephemeral port
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      Seq("alpha,1", "beta,2", "not-an-int,oops", "gamma,3")
        .foreach(out.println)
      out.flush()
      // keep the channel open until the reader is done (closing early
      // can fail the source mid-test); the main thread closes `server`
      Thread.sleep(30000)
    })
    writer.setDaemon(true)
    writer.start()
    val q = graft.streaming.DataStream
      .openSocketStream(spark, "localhost", port, schema)
      .writeStream.outputMode("append")
      .format("memory").queryName("socket_smoke").start()
    try {
      // socket data arrives asynchronously — poll the sink
      val deadline = System.currentTimeMillis() + 60000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.length < 4 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        rows = spark.table("socket_smoke").collect()
      }
      assert(rows.length == 4, s"got ${rows.length} rows")
      val byName = rows.map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(byName("alpha").contains(1) && byName("beta").contains(2)
        && byName("gamma").contains(3))
      // a malformed line types to null, it does not kill the channel
      assert(byName("not-an-int").isEmpty)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("q341 sketch fallback: exact top-10 with state independent of keys") {
    // round-12 verdict task 4: the CountMin + exact-recheck fallback
    // must return the SAME top-10 as the exact path, while its
    // streaming state stays ONE sketch row at BOTH key-cardinality
    // scales (the exact path's state is O(distinct keys) — 300 vs
    // 6000 here; past the documented 10⁹-key ceiling only the
    // fallback survives)
    import spark.implicits._
    val stateRows =
      scala.collection.concurrent.TrieMap[String, Long]()
    val listener = new org.apache.spark.sql.streaming
        .StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        if (p.name != null && rows > 0)
          stateRows.put(p.name, math.max(
            stateRows.getOrElse(p.name, 0L), rows))
      }
    }
    spark.streams.addListener(listener)
    val dirs = Seq("a", "b").map(tag => java.nio.file.Files
      .createTempDirectory(s"q341_sketch_$tag").toString)
    try {
      for ((nKeys, dir) <- Seq(300, 6000).zip(dirs)) {
        // skewed counts so the top-10 is well-separated: key i gets
        // 1 + (i % 97 == 0 ? 40 + i/97 : i % 3) rows
        val li = (0 until nKeys).flatMap { i =>
          val reps = 1 + (if (i % 97 == 0) 40 + i / 97 else i % 3)
          Seq.fill(reps)((i.toLong, (i % 7 + 1).toLong))
        }.toDF("l_partkey", "l_quantity")
        TestIO.writeSingleParquet(li, dir, "lineitem.parquet")
        TestIO.writeSingleParquet(
          (0 until nKeys).map(_.toLong).toDF("p_partkey"),
          dir, "part.parquet")
        val got = graft.queries.StreamQueries
          .streamTopKSketch(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val want = li.groupBy("l_partkey")
          .agg(F.count(F.lit(1)).as("n"),
            F.sum("l_quantity").as("qty"))
          .orderBy(F.col("n").desc, F.col("l_partkey").asc).limit(10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(got.toSeq == want.toSeq, s"nKeys=$nKeys")
      }
      // one state row per run — NOT 300 / 6000: the sketch is the
      // whole streaming state at every key cardinality
      val cmRuns = stateRows.filter(_._1.startsWith("stream_topk_cm"))
      assert(cmRuns.size == 2, s"expected 2 sketch runs: $stateRows")
      cmRuns.foreach { case (n, rows) =>
        assert(rows == 1L, s"$n state rows $rows != 1")
      }
    } finally {
      spark.streams.removeListener(listener)
      dirs.foreach(d => org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(d)))
    }
  }

  test("q341 auto-gate flips to the sketch path on key cardinality") {
    // round-12 verdict stretch 7: the fallback switches AUTOMATICALLY
    // on the key dimension's cardinality (streamTopKAuto). Crossing
    // the threshold must flip the PATH (observable in the streaming
    // state rows: O(keys) exact vs ONE sketch row) while the top-10
    // output stays identical.
    import spark.implicits._
    val stateRows =
      scala.collection.concurrent.TrieMap[String, Long]()
    val listener = new org.apache.spark.sql.streaming
        .StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        if (p.name != null && rows > 0)
          stateRows.put(p.name, math.max(
            stateRows.getOrElse(p.name, 0L), rows))
      }
    }
    spark.streams.addListener(listener)
    val dir = java.nio.file.Files.createTempDirectory("q341_autogate")
      .toString
    try {
      val nKeys = 300
      val li = (0 until nKeys).flatMap { i =>
        val reps = 1 + (if (i % 97 == 0) 40 + i / 97 else i % 3)
        Seq.fill(reps)((i.toLong, (i % 7 + 1).toLong))
      }.toDF("l_partkey", "l_quantity")
      TestIO.writeSingleParquet(li, dir, "lineitem.parquet")
      TestIO.writeSingleParquet(
        (0 until nKeys).map(_.toLong).toDF("p_partkey"),
        dir, "part.parquet")
      // 300 keys ≤ StreamTopKMaxExactKeys → exact path (O(keys) state)
      val exact = graft.queries.StreamQueries
        .streamTopKAuto(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // budget of 1 key → the same call flips to the sketch path
      val flipped = graft.queries.StreamQueries
        .streamTopKAuto(spark, dir, maxExactKeys = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(exact.toSeq == flipped.toSeq,
        s"paths disagree: ${exact.toSeq} vs ${flipped.toSeq}")
      val exactRuns = stateRows.filter(_._1.startsWith("stream_topk"))
        .filterNot(_._1.startsWith("stream_topk_cm"))
      val cmRuns = stateRows.filter(_._1.startsWith("stream_topk_cm"))
      assert(exactRuns.size == 1 && exactRuns.head._2 == nKeys.toLong,
        s"exact path state: $stateRows")
      assert(cmRuns.size == 1 && cmRuns.head._2 == 1L,
        s"sketch path state: $stateRows")
    } finally {
      spark.streams.removeListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** The settings [[graft.streaming.DataStream.runAvailableNow]] scopes
    * a stream start to. */
  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val isolationKey = "spark.sql.artifact.isolation.enabled"

  /** Runs `body` on a file stream over a one-file parquet of `n` ints
    * in a fresh temp dir, then deletes the dir. */
  private def withIntStream(n: Int)(
      body: org.apache.spark.sql.DataFrame => Unit): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_scope")
      .toString
    try {
      TestIO.writeSingleParquet((1 to n).toDF("x"), dir, "x.parquet")
      body(graft.streaming.DataStream.openStream(spark, dir,
        spark.read.parquet(s"$dir/x.parquet").schema))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("a stream query's rerun compiles no new classes") {
    // a stream runs in a clone session with a new id; with artifact
    // isolation on, each id gets its own classloader and the rerun
    // recompiles its byte-identical generated code
    import org.apache.spark.metrics.source.CodegenMetrics
    val q60 = SparkEntry.queries("q60_stream_agg")
    val first = q60(spark, sf).collect().toSet
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val again = q60(spark, sf).collect().toSet
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(again == first)
    assert(compiled == 0, s"the rerun compiled $compiled classes")
  }

  test("a stream started in the scope runs with the scope's settings") {
    val partitions = "spark.sql.shuffle.partitions"
    val seen = scala.collection.concurrent.TrieMap[String, String]()
    withIntStream(5) { src =>
      assert(graft.streaming.DataStream.runAvailableNow(spark,
        src.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val c = batch.sparkSession.conf
            Seq(managerKey, isolationKey, partitions)
              .foreach(k => seen.put(k, c.get(k)))
            ()
        }))
    }
    assert(seen.get(managerKey).contains(classOf[org.apache.spark.sql
      .execution.streaming.checkpointing
      .FileSystemBasedCheckpointFileManager].getName), s"$seen")
    assert(seen.get(isolationKey).contains("false"), s"$seen")
    assert(seen.get(partitions).contains(
      math.min(8, spark.conf.get(partitions).toInt).toString), s"$seen")
  }

  test("the stream scope restores the caller's conf, also on failure") {
    val q60 = SparkEntry.queries("q60_stream_agg")
    // the first run settles T.read's parquet setting, which is not
    // part of the stream scope
    q60(spark, sf)
    val before = spark.conf.getAll
    assert(!before.contains(managerKey) && !before.contains(isolationKey),
      s"$before")
    q60(spark, sf)
    assert(spark.conf.getAll == before)
    // complete mode without an aggregate: start() throws in the scope
    withIntStream(3) { src =>
      intercept[org.apache.spark.sql.AnalysisException] {
        graft.streaming.DataStream.runAvailableNow(spark, src.writeStream
          .outputMode("complete").format("memory")
          .queryName("scope_fails"))
      }
    }
    assert(spark.conf.getAll == before)
  }
}
