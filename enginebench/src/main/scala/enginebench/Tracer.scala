package enginebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side observations, recorded as immutable events on the
  * listener bus thread and aggregated on the driver thread once the
  * bus has drained (see [[Tracer.drain]]). `span` is the value of the
  * [[Tracer.SpanKey]] local property the job was submitted under. */
private[enginebench] sealed trait Ev
private[enginebench] final case class JobStartEv(job: Int, span: String,
    ms: Long) extends Ev
private[enginebench] final case class JobEndEv(job: Int, ms: Long) extends Ev
private[enginebench] final case class StageEv(stage: Int, span: String)
    extends Ev
private[enginebench] final case class TaskEv(stage: Int, failed: Boolean,
    runMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, inBytes: Long, inRecords: Long) extends Ev
/** One executed QueryExecution: its Catalyst phase times (ms) and the
  * number of in-memory (cached relation) scans in its final plan. */
private[enginebench] final case class QeEv(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, cachedScans: Int) extends Ev

/** Per-layer observer registered from outside the engine: one
  * SparkListener (jobs, stages, tasks and their metrics) and one
  * QueryExecutionListener (Catalyst phase times, cached scans). It
  * records only while [[enabled]], which is checked when the bus
  * delivers an event, so callers [[drain]] before turning it off. Jobs
  * are attributed to spans by the [[Tracer.SpanKey]] local property,
  * which Spark copies to every job the driver thread starts, including
  * AQE and broadcast jobs. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var enabled = false
  private val events = new ConcurrentLinkedQueue[Ev]
  private val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
  @volatile private var sentinelsEnded = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def spanOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Tracer.SpanKey)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    if (span == Tracer.Sentinel) sentinelJobs.add(e.jobId)
    else if (enabled && span != null)
      events.add(JobStartEv(e.jobId, span, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (sentinelJobs.remove(e.jobId)) sentinelsEnded += 1
    else if (enabled) events.add(JobEndEv(e.jobId, e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    if (enabled && span != null && span != Tracer.Sentinel)
      events.add(StageEv(e.stageInfo.stageId, span))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled) {
      val m = e.taskMetrics
      val failed = !e.reason.isInstanceOf[org.apache.spark.Success.type]
      if (m == null) events.add(TaskEv(e.stageId, failed, 0, 0, 0, 0, 0, 0, 0))
      else events.add(TaskEv(e.stageId, failed, m.executorRunTime,
        m.executorCpuTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    if (enabled) {
      val ph = qe.tracker.phases
      def dur(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.get(QueryPlanningTracker.ANALYSIS)
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: InMemoryTableScanExec => s
      }.size
      events.add(QeEv(start, dur(QueryPlanningTracker.ANALYSIS),
        dur(QueryPlanningTracker.OPTIMIZATION),
        dur(QueryPlanningTracker.PLANNING), scans))
    }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Blocks until every event posted before this call has been
    * delivered: runs a one-task sentinel job and waits for its end
    * event, which the bus delivers after all earlier events. */
  def drain(): Unit = {
    val sc: SparkContext = spark.sparkContext
    val before = sentinelsEnded
    val old = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, Tracer.Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanKey, old)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sentinelsEnded == before && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(sentinelsEnded > before, "listener bus did not drain within 60 s")
  }

  /** All events recorded so far, in delivery order. */
  def take(): Seq[Ev] = {
    val out = mutable.ArrayBuffer[Ev]()
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.toSeq
  }
}

object Tracer {
  val SpanKey = "enginebench.span"
  val Sentinel = "enginebench.sentinel"
}

/** Counters of one span; summed over the jobs, stages and tasks that
  * started under it. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill = 0L
  var inBytes, inRecords = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var cachedScans = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inBytes += o.inBytes; inRecords += o.inRecords
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; cachedScans += o.cachedScans
  }
}

/** A timed interval of the trace tree. Wall-clock bounds are epoch
  * milliseconds (the unit Spark's listener events use); `durS` is the
  * precise nanoTime-based duration where the harness measured it. */
final class Span(val name: String, val startMs: Long, val endMs: Long,
    val durS: Double) {
  val counters = new Counters
  val attrs = mutable.LinkedHashMap[String, Double]()
  val children = mutable.ArrayBuffer[Span]()

  /** Duration minus the time covered by child spans. */
  def selfS: Double = math.max(0.0, durS - Span.covered(children.toSeq))
}

object Span {
  /** Seconds covered by the union of the spans' intervals. */
  def covered(spans: Seq[Span]): Double = {
    val iv = spans.map(s => (s.startMs, s.endMs)).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (iv.nonEmpty) total += curE - curS
    total / 1000.0
  }

  /** Hangs listener events under the build/execute spans they belong
    * to: jobs (as child spans), stages and tasks by the span id
    * property, Catalyst callbacks by the wall-clock window their
    * analysis started in (ties go to the later span). `byId` maps the
    * span id property to its span. */
  def attach(events: Seq[Ev], byId: Map[String, Span]): Unit = {
    val windows = byId.values.toSeq.sortBy(_.startMs)
    val jobSpan = mutable.Map[Int, (Span, Long)]()
    val stageSpan = mutable.Map[Int, Span]()
    events.foreach {
      case JobStartEv(job, id, ms) if byId.contains(id) =>
        jobSpan(job) = (byId(id), ms)
        byId(id).counters.jobs += 1
      case JobEndEv(job, ms) if jobSpan.contains(job) =>
        val (parent, start) = jobSpan(job)
        parent.children += new Span(s"job $job", start, ms, (ms - start) / 1000.0)
      case StageEv(stage, id) if byId.contains(id) =>
        stageSpan(stage) = byId(id)
        byId(id).counters.stages += 1
      case t: TaskEv if stageSpan.contains(t.stage) =>
        val c = stageSpan(t.stage).counters
        c.tasks += 1
        if (t.failed) c.failedTasks += 1
        c.taskRunMs += t.runMs; c.taskCpuNs += t.cpuNs
        c.shuffleRead += t.shuffleRead; c.shuffleWrite += t.shuffleWrite
        c.spill += t.spill; c.inBytes += t.inBytes; c.inRecords += t.inRecords
      case q: QeEv =>
        windows.filter(w => w.startMs <= q.startMs && q.startMs <= w.endMs)
          .lastOption.foreach { w =>
            val c = w.counters
            c.analysisMs += q.analysisMs; c.optimizationMs += q.optimizationMs
            c.planningMs += q.planningMs; c.cachedScans += q.cachedScans
          }
      case _ => ()
    }
  }

  def toJson(s: Span): String = {
    val c = s.counters
    val counts = Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "failed_tasks" -> c.failedTasks, "task_run_ms" -> c.taskRunMs,
      "task_cpu_ns" -> c.taskCpuNs, "shuffle_read_bytes" -> c.shuffleRead,
      "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
      "input_bytes" -> c.inBytes, "input_records" -> c.inRecords,
      "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
      "planning_ms" -> c.planningMs, "cached_scans" -> c.cachedScans)
      .filter(_._2 != 0).map { case (k, v) => s""""$k":$v""" }
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
    val fields = Seq(s""""name":${Json.str(s.name)}""",
      s""""start_ms":${s.startMs}""", s""""dur_s":${Json.num(s.durS)}""",
      s""""self_s":${Json.num(s.selfS)}""") ++ counts ++ attrs ++
      (if (s.children.isEmpty) Nil
       else Seq(s.children.map(toJson).mkString(""""children":[""", ",", "]")))
    fields.mkString("{", ",", "}")
  }
}

object Json {
  def str(s: String): String = graft.Sessions.jsonEscape(s)
  /** Full-precision number; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
