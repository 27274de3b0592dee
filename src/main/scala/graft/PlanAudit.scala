package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan audit: for every registered query, count the plan
  * features that matter at 100 TB — shuffles (Exchange), join
  * strategies, whole-stage codegen coverage, parquet filter pushdown
  * and column pruning. Run after bench; eyeball the RED flags.
  *
  * The plan-text columns read the FINAL QueryExecution only, which a
  * `localCheckpoint` truncates — an iterative query whose state is
  * pinned each round audits as `shuf=0` no matter how many shuffles
  * its rounds executed (round-6 verdict: q246). The `rt_*` columns
  * close that hole with RUNTIME truth from a SparkListener: every
  * stage that wrote shuffle data during the query's evaluation —
  * including stages run by checkpoint materialization — is counted,
  * with total shuffle-write bytes. `ckpt` is the number of RDDs the
  * query left pinned (localCheckpoint / cache), i.e. how much of the
  * plan the text columns CANNOT see. Read rt_shuf where ckpt > 0.
  *
  * Measurement lives in [[PlanAuditor]] (round-11 verdict task 4) so
  * the rt_mb regression tripwire runs BOTH as this CLI's WARN tail
  * and as a hard ScalaTest gate (PlanGateSpec) over the most
  * shuffle-heavy queries — a plan regression between manual PLANS.md
  * regenerations now fails `sbt test` instead of shipping silently.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [queryPrefix...]
  */
final class PlanAuditor(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val rtStages = new AtomicInteger(0)
  private val rtShufStages = new AtomicInteger(0)
  private val rtShufBytes = new AtomicLong(0L)
  private val lastEvent = new AtomicLong(System.nanoTime())
  sc.addSparkListener(new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      rtStages.incrementAndGet()
      val w = e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      if (w > 0) { rtShufStages.incrementAndGet(); rtShufBytes.addAndGet(w) }
      lastEvent.set(System.nanoTime())
    }
  })

  // listener events are async: wait for a 200 ms quiet period (2 s cap)
  private def drainEvents(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (System.nanoTime() - lastEvent.get() < 200000000L &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Run one registered query and report (formatted line, name, rt_mb);
    * rt_mb = −1 flags a query that threw. Releases the query's pins. */
  def auditOne(sfDir: String, name: String,
               fn: (SparkSession, String) => DataFrame)
      : (String, String, Double) =
    try {
      val pinnedBefore = sc.getPersistentRDDs.size
      rtStages.set(0); rtShufStages.set(0); rtShufBytes.set(0L)
      lastEvent.set(System.nanoTime())
      val df = fn(spark, sfDir)
      // execute THIS QueryExecution so AQE finalizes (a write/count
      // would spawn a separate one); audit runs at small sf.
      df.collect()
      drainEvents()
      val ckpt = sc.getPersistentRDDs.size - pinnedBefore
      val plan = df.queryExecution.executedPlan.toString()
      val shuffles = "Exchange hashpartitioning".r
        .findAllIn(plan).size
      // A SinglePartition exchange is the scale red flag ONLY when
      // it funnels data rows through one task. The final step of a
      // global scalar aggregate (child = HashAggregate(keys=[]))
      // moves one partial-agg row per map task — O(partitions),
      // benign by construction — and is counted apart as `scalar`.
      val planLines = plan.linesIterator.toArray
      // "ReusedExchange [...], Exchange SinglePartition" is AQE
      // re-referencing an exchange counted at its definition site —
      // counting the reuse line would double-book it (and misread
      // a reused SCALAR exchange as a data funnel, since the
      // defining HashAggregate(keys=[]) is not adjacent here).
      val singleIdx = planLines.zipWithIndex.collect {
        case (l, i) if l.contains("Exchange SinglePartition")
          && !l.contains("ReusedExchange") => i
      }
      val scalarAgg = singleIdx.count(i =>
        planLines.slice(i + 1, i + 4)
          .exists(_.contains("HashAggregate(keys=[]")))
      val singleParts = singleIdx.length - scalarAgg
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      val smj = "SortMergeJoin".r.findAllIn(plan).size
      val shj = "ShuffledHashJoin".r.findAllIn(plan).size
      // codegen'd operators print as "*(id) Op"; count distinct spans
      val codegen = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
      val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
      val widecols = "ReadSchema: [^\\n]{220,}".r.findAllIn(plan).size
      val mb = rtShufBytes.get() / 1048576.0
      (f"$name%-22s shuf=$shuffles%2d single=$singleParts%2d " +
        f"scalar=$scalarAgg%2d bhj=$bhj%2d smj=$smj%2d shj=$shj%2d " +
        f"wscg=$codegen%2d pushed=$pushed%2d wide_scan=$widecols%2d " +
        f"ckpt=$ckpt%2d rt_shuf=${rtShufStages.get()}%3d " +
        f"rt_mb=$mb%8.1f", name, mb)
    } catch {
      // a fatal error propagates: PlanAudit.main stops the run on it
      case NonFatal(e) =>
        (f"$name%-22s PLAN-ERROR ${String.valueOf(e.getMessage).take(60)}", name, -1.0)
    } finally {
      // release this query's pins so ckpt deltas don't compound
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
}

object PlanAudit {

  /** Committed rt_mb priors parsed from PLANS.md. */
  def priorMb(plansPath: String = "PLANS.md"): Map[String, Double] =
    try {
      // explicit UTF-8 (the file's prose has non-ASCII); the forked
      // JVM's default charset is locale-dependent and a decode error
      // here would silently disable the tripwire
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(plansPath)), "UTF-8")
      txt.linesIterator.flatMap { l =>
        "^(q[0-9a-z_]+)\\s.*rt_mb=\\s*([0-9.]+)".r.findFirstMatchIn(l)
          .map(m => m.group(1) -> m.group(2).toDouble)
      }.toMap
    } catch {
      // NonFatal only (round-10 ADVICE): the intended catch is a
      // missing PLANS.md; a fatal error must not silently disable
      // the tripwire
      case NonFatal(_) => Map.empty
    }

  /** The tripwire predicate: a >2.5× jump over the committed prior is
    * a real plan regression (shuffle bytes at a fixed sf are
    * deterministic); the 0.3 MiB floor keeps sf0.001 one-decimal
    * rounding jitter quiet. Shared by the CLI WARN and PlanGateSpec. */
  def regressed(prior: Double, now: Double): Boolean =
    now > prior * 2.5 && now >= 0.3

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = Session.local(8, 8)
    // rt_mb regression tripwire (round-10 verdict task 7). Prior map
    // is read BEFORE the run so regenerating PLANS.md in place still
    // diffs against the committed numbers.
    val prior = priorMb()
    val auditor = new PlanAuditor(spark)
    val rows = ArrayBuffer.empty[(String, String, Double)]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        rows += (try auditor.auditOne(sfDir, name, fn) catch {
          case e: Throwable if !NonFatal(e) =>
            Harness.abort("plan-audit", name, e) {
              rows.foreach { case (line, _, _) => println(line) }
              println(f"$name%-22s FATAL $e")
            }
        })
      }
    rows.foreach { case (line, _, _) => println(line) }
    val regressions = rows.collect { case (_, name, mb)
        if mb >= 0 && prior.get(name).exists(p => regressed(p, mb)) =>
      f"WARN rt_mb regression: $name ${prior(name)}%.1f -> $mb%.1f MiB " +
        "(>2.5x committed PLANS.md -- check for an extra shuffle or a " +
        "lost broadcast)"
    }
    regressions.foreach(println)
    println(if (regressions.isEmpty)
      s"rt_mb tripwire: clean (${prior.size} committed priors)"
    else s"rt_mb tripwire: ${regressions.size} regression(s)")
    spark.stop()
  }
}
