package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the engine, around the calls into each
  * layer, plus the counts Spark's public listeners report.
  *
  * Spans form a tree (run → setup | workload → pass → query → build |
  * exec | check | unpersist) and stay in memory until the run ends.
  * Every Spark job carries the id of the span that was open when it
  * was submitted, in the local property [[SpanKey]]; Spark copies
  * local properties into the threads it starts (stream execution,
  * broadcast, AQE stages), so jobs of a stream run inside a query's
  * build are tied to that build. Planning phases and stream progress
  * carry no properties; they are tied to the span whose interval holds
  * their start, which is exact because the load is a closed loop with
  * one client.
  *
  * When disabled the tracer only times: no listener, no local
  * property and no span is kept, which is how every end-to-end number
  * is measured.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  val originMs: Long = System.currentTimeMillis()
  private val originNs = System.nanoTime()

  final class Span(val id: Int, val parent: Int, val kind: String,
                   val name: String, val startNs: Long) {
    var endNs: Long = -1L
    val attrs = mutable.LinkedHashMap[String, Double]()
    def startMs: Long = originMs + (startNs - originNs) / 1000000L
    def endMs: Long = originMs + (endNs - originNs) / 1000000L
  }

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var spark: Option[SparkSession] = None

  /** Runs `body` inside a new span; returns its result and wall
    * seconds. The wall is measured whether or not tracing is on. */
  def span[T](kind: String, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val s = new Span(spans.size, open.headOption.fold(-1)(_.id), kind, name, t0)
    spans += s
    open = s :: open
    setSpanProperty(s.id)
    val c0 = Codegen.compiles()
    val n0 = Codegen.compileNs()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.endNs = System.nanoTime()
      s.attrs("compiles") = (Codegen.compiles() - c0).toDouble
      s.attrs("compile_s") = (Codegen.compileNs() - n0) / 1e9
      open = open.tail
      setSpanProperty(open.headOption.fold(-1)(_.id))
    }
  }

  def current: Option[Span] = open.headOption

  private def setSpanProperty(id: Int): Unit =
    spark.foreach(_.sparkContext.setLocalProperty(SpanKey,
      if (id < 0) null else id.toString))

  // ---- listener-side records (written on the listener bus threads)

  final case class Job(id: Int, span: Int, startMs: Long) {
    var endMs: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int, val submitMs: Long) {
    var endMs = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }
  final case class Planning(startMs: Long, analysisMs: Long,
                            optimizationMs: Long, planningMs: Long)
  final case class Progress(startMs: Long, inputRows: Long,
                            durations: Map[String, Long],
                            stateCommitMs: Long, stateMemBytes: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  val stageJob = mutable.HashMap[Int, Int]()
  val plannings = mutable.ArrayBuffer[Planning]()
  val progress = mutable.ArrayBuffer[Progress]()
  @volatile var streamsStarted = 0
  @volatile var streamsEnded = 0

  /** Attaches the listeners to a session (no-op when disabled). */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = Some(s)
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
    setSpanProperty(open.headOption.fold(-1)(_.id))
  }

  /** Waits until the listener buses have delivered every event of the
    * work done so far: a marker job's end proves the shared queue is
    * drained; stream events are counted in. */
  def drain(s: SparkSession): Unit = if (enabled) {
    val marker = s.sparkContext.parallelize(Seq(1), 1)
    s.sparkContext.setLocalProperty(SpanKey, MarkerSpan.toString)
    marker.count()
    setSpanProperty(open.headOption.fold(-1)(_.id))
    val deadline = System.nanoTime() + 10000000000L
    def done = synchronized {
      jobs.values.exists(j => j.span == MarkerSpan && j.endMs >= 0)
    } && streamsEnded >= streamsStarted
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
    synchronized { jobs.filterInPlace((_, j) => j.span != MarkerSpan) }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(e.jobId, span, e.time)
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId,
          i.attemptNumber(), i.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        stages.get((i.stageId, i.attemptNumber())).foreach(
          _.endMs = i.completionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach { st =>
        st.tasks += 1
        st.waitMs += math.max(0L, e.taskInfo.launchTime - st.submitMs)
        val m = e.taskMetrics
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.diskBytesSpilled
          st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
        Tracer.this.synchronized {
          plannings += Planning(ph.values.map(_.startTimeMs).min,
            ms("analysis"), ms("optimization"), ms("planning"))
        }
      }
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted += 1
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded += 1
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Tracer.this.synchronized {
        progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, d, p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val MarkerSpan = -2
}

/** Spark's JVM-wide codegen counters (public metric sources). */
object Codegen {
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
