package perfbench

import org.json4s._
import org.json4s.JsonDSL._

import Main.{Cores, median}

/** Per-layer metrics of a traced run, from its spans and listener
  * records. The population is the timed, successful query executions;
  * check spans and the warm-up pass are left out. Sums are divided by
  * the number of timed passes, so a run that fits more passes into its
  * seconds reports the same per-pass figures.
  *
  * Jobs, stages and tasks count every Spark job a query submitted, in
  * its build (eager jobs of the query function, stream runs) as well
  * as in its exec (the noop write); `build.jobs` is the part submitted
  * during build. `exec.gc_s` is the JVM's collection time during the
  * timed phases, on any thread.
  */
final class Layers(t: Tracer, execs: Seq[Exec], passes: Int) {
  private val MB = 1024.0 * 1024.0
  private val P = math.max(1, passes).toDouble
  private val byId = t.spans.map(s => s.id -> s).toMap
  private val timed = execs.filter(e => e.timed && e.failed.isEmpty)
  private val phasesOf: Map[Int, Seq[t.Span]] = t.spans.toSeq
    .filter(s => Set("build", "exec", "unpersist")(s.kind))
    .groupBy(_.parent)

  /** The (query span, phase) a benchmark span belongs to. */
  private def owner(id: Int): Option[(Int, String)] =
    byId.get(id).flatMap { s =>
      if (Set("build", "exec", "unpersist", "check")(s.kind))
        Some(s.parent -> s.kind)
      else None
    }

  private val querySpans = timed.map(_.span).toSet
  private def phases(qs: Set[Int]) = qs.toSeq.flatMap(q => phasesOf.getOrElse(q, Nil))

  private val (jobs, stages, plannings, progress) = t.synchronized {
    (t.jobs.values.toSeq, t.stages.values.toSeq, t.plannings.toSeq, t.progress.toSeq)
  }
  private val jobsOf = jobs.flatMap(j => owner(j.span).map(o => j -> o))
  private val timedJobs = jobsOf.collect { case (j, (q, ph)) if querySpans(q) && ph != "check" => j }
  private val buildJobs = jobsOf.collect { case (j, (q, "build")) if querySpans(q) => j }
  private val timedStages = {
    val ids = timedJobs.map(_.id).toSet
    stages.filter(s => s.tasks > 0 && t.stageJob.get(s.id).exists(ids))
  }

  /** Whether `ms` falls inside a build or exec span of a timed query. */
  private val windows = phases(querySpans).filter(s => s.kind != "unpersist")
    .map(s => (s.startMs, s.endMs, s.kind)).sortBy(_._1)
  private def inside(ms: Long, kinds: Set[String]): Boolean =
    windows.exists { case (a, b, k) => kinds(k) && ms >= a && ms <= b }

  private val timedPlans = plannings.filter(p => inside(p.startMs, Set("build", "exec")))
  private val timedProgress = progress.filter(p => inside(p.startMs, Set("build")))

  private def compiles(qs: Set[Int]): (Long, Double) = {
    val ps = phases(qs)
    (ps.map(_.attrs("compiles")).sum.toLong, ps.map(_.attrs("compile_s")).sum)
  }

  /** rep 1 minus the median of the later reps, summed over queries. */
  private def firstRunExtra: Double =
    execs.filter(_.failed.isEmpty).groupBy(_.query).values.toSeq.flatMap { es =>
      val first = es.filter(_.rep == 1).map(_.wallS)
      val later = es.filter(_.rep >= 2).map(_.wallS)
      if (first.isEmpty || later.isEmpty) None else Some(first.head - median(later))
    }.sum

  /** The per-layer metrics of BENCHMARK.json: those that measure
    * something on both of its workloads. */
  def perLayer(setups: Seq[(Double, Double)]): Seq[(String, Double, String)] = {
    val taskS = timedStages.map(_.runMs).sum / 1000.0
    val busyWall = timed.map(e => e.buildS + e.execS).sum
    Seq(
      ("session.start_s", median(setups.map(_._1)), "s"),
      ("session.warmup_s", median(setups.map(_._2)), "s"),
      ("build.wall_s", timed.map(_.buildS).sum / P, "s"),
      ("build.jobs", buildJobs.size / P, "count"),
      ("plan.analysis_ms", timedPlans.map(_.analysisMs).sum / P, "ms"),
      ("plan.optimization_ms", timedPlans.map(_.optimizationMs).sum / P, "ms"),
      ("plan.planning_ms", timedPlans.map(_.planningMs).sum / P, "ms"),
      ("plan.executions", timedPlans.size / P, "count"),
      ("codegen.first_run_extra_s", firstRunExtra, "s"),
      ("exec.wall_s", timed.map(_.execS).sum / P, "s"),
      ("exec.jobs", timedJobs.size / P, "count"),
      ("exec.stages", timedStages.size / P, "count"),
      ("exec.tasks", timedStages.map(_.tasks).sum / P, "count"),
      ("exec.task_s", taskS / P, "s"),
      ("exec.cpu_s", timedStages.map(_.cpuNs).sum / 1e9 / P, "s"),
      ("exec.sched_wait_s", timedStages.map(_.waitMs).sum / 1000.0 / P, "s"),
      ("exec.busy_frac", if (busyWall > 0) taskS / (busyWall * Cores) else 0.0, "fraction"),
      ("exec.shuffle_write_mb", timedStages.map(_.shuffleWrite).sum / MB / P, "MB"),
      ("exec.unpersist_s", timed.map(_.unpersistS).sum / P, "s"))
  }

  /** Metrics kept in the trace file only, because one of
    * BENCHMARK.json's workloads would report them as a constant zero:
    * pins (neither pins), compiles (none once csv_roundtrip is warm),
    * GC, spill and task memory (zero or next to it on both), and the
    * streaming layer, from StreamingQueryListener progress of the timed
    * queries' stream runs. */
  def traceOnly: Seq[(String, Double, String)] = {
    val warmExecs = execs.filter(e => e.rep >= 2 && e.failed.isEmpty)
    val warmPasses = math.max(1, warmExecs.map(_.pass).distinct.size).toDouble
    def d(k: String*) = timedProgress.map(p => k.map(p.durations.getOrElse(_, 0L)).sum).sum / P
    Seq(
      ("build.pinned_rdds", querySpans.toSeq.flatMap(byId.get)
        .map(_.attrs.getOrElse("pinned_rdds", 0.0)).sum / P, "count"),
      ("codegen.compiles", compiles(querySpans)._1 / P, "count"),
      ("codegen.warm_compiles", compiles(warmExecs.map(_.span).toSet)._1 / warmPasses, "count"),
      ("codegen.compile_s", compiles(querySpans)._2 / P, "s"),
      ("exec.gc_s", timed.map(_.gcS).sum / P, "s"),
      ("exec.spill_mb", timedStages.map(_.spill).sum / MB / P, "MB"),
      ("exec.peak_task_mem_mb", (0L +: timedStages.map(_.peakMem)).max / MB, "MB"),
      ("stream.batches", timedProgress.size / P, "count"),
      ("stream.input_rows", timedProgress.map(_.inputRows).sum / P, "count"),
      ("stream.trigger_ms", d("triggerExecution"), "ms"),
      ("stream.query_planning_ms", d("queryPlanning"), "ms"),
      ("stream.add_batch_ms", d("addBatch"), "ms"),
      ("stream.wal_commit_ms", d("walCommit", "commitOffsets"), "ms"),
      ("stream.state_commit_ms", timedProgress.map(_.stateCommitMs).sum / P, "ms"),
      ("stream.state_mem_mb", (0L +: timedProgress.map(_.stateMemBytes)).max / MB, "MB"))
  }

  /** The span tree (benchmark spans, then Spark jobs and stages as
    * children of the span that submitted them) and one record per
    * query execution. Times are ms since the run started. */
  def dump: JObject = {
    val o = t.originMs
    val bench = t.spans.toList.map(s => ("id" -> s"b${s.id}") ~
      ("parent" -> (if (s.parent < 0) JNull else JString(s"b${s.parent}"))) ~
      ("kind" -> s.kind) ~ ("name" -> s.name) ~ ("start_ms" -> (s.startMs - o)) ~
      ("end_ms" -> (s.endMs - o)) ~ ("attrs" -> JObject(s.attrs.toList.map {
        case (k, v) => k -> Main.num(v) })))
    val jobSpans = jobs.filter(_.span >= 0).toList.map(j => ("id" -> s"j${j.id}") ~
      ("parent" -> s"b${j.span}") ~ ("kind" -> "job") ~ ("name" -> s"job ${j.id}") ~
      ("start_ms" -> (j.startMs - o)) ~ ("end_ms" -> (j.endMs - o)))
    val jobIds = jobs.filter(_.span >= 0).map(_.id).toSet
    val stageSpans = stages.filter(s => t.stageJob.get(s.id).exists(jobIds)).toList.map(s =>
      ("id" -> s"s${s.id}.${s.attempt}") ~ ("parent" -> s"j${t.stageJob(s.id)}") ~
        ("kind" -> "stage") ~ ("name" -> s"stage ${s.id}") ~
        ("start_ms" -> (s.submitMs - o)) ~ ("end_ms" -> (s.endMs - o)) ~
        ("attrs" -> ("tasks" -> s.tasks) ~ ("task_ms" -> s.runMs) ~
          ("shuffle_write" -> s.shuffleWrite)))
    val records = execs.toList.map { e =>
      val js = jobsOf.collect { case (j, (q, ph)) if q == e.span && ph != "check" => j }
      val ids = js.map(_.id).toSet
      val st = stages.filter(s => s.tasks > 0 && t.stageJob.get(s.id).exists(ids))
      val span = byId.get(e.span)
      val pl = span.toSeq.flatMap(s => plannings.filter(p =>
        p.startMs >= s.startMs && p.startMs <= s.endMs))
      ("query" -> e.query) ~ ("pass" -> e.pass) ~ ("rep" -> e.rep) ~ ("timed" -> e.timed) ~
        ("wall_s" -> e.wallS) ~ ("build_s" -> e.buildS) ~ ("exec_s" -> e.execS) ~
        ("unpersist_s" -> e.unpersistS) ~ ("failed" -> e.failed.fold[JValue](JNull)(JString(_))) ~
        ("jobs" -> js.size) ~ ("stages" -> st.size) ~ ("tasks" -> st.map(_.tasks).sum) ~
        ("task_s" -> st.map(_.runMs).sum / 1000.0) ~
        ("shuffle_write_mb" -> st.map(_.shuffleWrite).sum / MB) ~
        ("compiles" -> compiles(Set(e.span))._1) ~
        ("planning_ms" -> pl.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum) ~
        ("pinned_rdds" -> span.flatMap(_.attrs.get("pinned_rdds")).fold[JValue](JNull)(JDouble(_)))
    }
    ("spans" -> (bench ++ jobSpans ++ stageSpans)) ~ ("query_records" -> records)
  }
}
