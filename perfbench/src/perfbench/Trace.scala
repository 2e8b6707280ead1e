package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed span. Times are epoch nanoseconds; `parent` is 0 at the top. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** One Spark job as the listener saw it. `label` is the span id the job
  * carried as a local property when it was submitted, if any. Times are
  * epoch ns at the listener's millisecond resolution. */
final class JobRec(val jobId: Int, val submit: Long, val label: Option[Int]) {
  var end: Long = submit
  var failed = false
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  /** executorRunTime (ms) of each task, per stage */
  val taskRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Planning time of one Dataset action, from its QueryPlanningTracker. */
final case class QeRec(start: Long, planningMs: Long)

/** Pure interval arithmetic behind self time and job attribution. */
object TraceMath {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Span time minus the part of it its children cover. */
  def selfTime(span: Span, children: Seq[(Long, Long)]): Long =
    span.dur - covered(span.start, span.end, children)

  /** Depth of each span (top level = 0). */
  def depths(spans: Seq[Span]): Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(id: Int): Int = byId.get(id).filter(_.parent != 0)
      .map(s => 1 + depth(s.parent)).getOrElse(0)
    spans.map(s => s.id -> depth(s.id)).toMap
  }

  /** Span a job submitted at `t` belongs to. A label is trusted only when
    * its span was open at `t`: a pool thread created inside one span
    * inherits that span's label and keeps it for later work. Otherwise
    * the job goes to the innermost span open at `t` — exact while one
    * call runs at a time. `slack` absorbs the listener's millisecond
    * clock; among equally deep candidates the later-starting span wins. */
  def attribute(spans: Seq[Span], depth: Map[Int, Int], label: Option[Int],
                t: Long, slack: Long): Option[Int] = {
    def open(s: Span) = s.start - slack <= t && t <= s.end + slack
    val labelled = label.flatMap(l => spans.find(_.id == l)).filter(open)
    labelled.map(_.id).orElse {
      val cands = spans.filter(open)
      if (cands.isEmpty) None
      else Some(cands.maxBy(s => (depth(s.id), s.start)).id)
    }
  }
}

/** Records spans around calls into the program's layers and, when
  * enabled, the Spark jobs and query plans they cause. Disabled, `span`
  * only runs its body: untraced runs register no listener at all. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  // epoch-ns clock anchored on a millisecond tick, so span times and the
  // listener's System.currentTimeMillis stamps share one origin
  private val (anchorNano, anchorEpochNs) = {
    val ms0 = System.currentTimeMillis()
    var ms = ms0
    while (ms == ms0) ms = System.currentTimeMillis()
    (System.nanoTime(), ms * 1000000L)
  }
  private def now(): Long = anchorEpochNs + (System.nanoTime() - anchorNano)

  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Int, Long)] = Nil // id, name, request, start
  private var nextId = 1
  private var nextRequest = 1

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty(Label)))
        .map(_.toInt)
      val j = new JobRec(e.jobId, e.time * 1000000L, label)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time * 1000000L
        j.failed = e.jobResult != JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        val info = e.taskInfo
        j.tasks += 1
        if (!info.successful) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runNs += m.executorRunTime * 1000000L
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
          val fetch =
            if (info.gettingResultTime > 0) info.launchTime + info.duration - info.gettingResultTime
            else 0L
          j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch)
          j.taskRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      qes.synchronized(qes += QeRec(start * 1000000L, planning))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `f` as a span named `name`; `request` starts a new request id
    * (one per top-level call), otherwise the parent's is inherited. */
  def span[A](name: String, request: Boolean = false)(f: => A): A = {
    if (!enabled) return f
    val id = nextId; nextId += 1
    val req =
      if (request || stack.isEmpty) { val r = nextRequest; nextRequest += 1; r }
      else stack.head._3
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, name, req, now()) :: stack
    sc.setLocalProperty(Label, id.toString)
    try f
    finally {
      val (_, _, _, start) = stack.head
      stack = stack.tail
      closed += Span(id, name, parent, req, start, now())
      sc.setLocalProperty(Label, if (parent == 0) null else parent.toString)
    }
  }

  /** Stop listening and return everything recorded. */
  def finish(): TraceLog = {
    if (enabled) {
      org.apache.spark.PerfbenchAccess.drainListeners(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    TraceLog(closed.toVector, jobs.values.toVector, qes.synchronized(qes.toVector))
  }
}

object Tracer {
  val Label = "perfbench.span"
  /** listener timestamps are whole milliseconds */
  val SlackNs: Long = 1000000L
}

/** Spans, jobs and planning records of one traced run, with the job
  * attribution and the per-span roll-ups derived from them. */
final case class TraceLog(spans: Vector[Span], jobs: Vector[JobRec], qes: Vector[QeRec]) {
  private val depth = TraceMath.depths(spans)

  /** job id → owning span id (jobs outside every span are dropped) */
  lazy val jobSpan: Map[Int, Int] = jobs.flatMap { j =>
    TraceMath.attribute(spans, depth, j.label, j.submit, Tracer.SlackNs).map(j.jobId -> _)
  }.toMap

  lazy val qeSpan: Seq[(QeRec, Int)] = qes.flatMap { q =>
    TraceMath.attribute(spans, depth, None, q.start, Tracer.SlackNs).map(q -> _)
  }

  private lazy val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)

  /** the span and all its descendants */
  def subtree(id: Int): Vector[Int] =
    id +: children.getOrElse(id, Vector.empty).flatMap(c => subtree(c.id))

  /** jobs attributed to the span or any descendant */
  def jobsUnder(id: Int): Vector[JobRec] = {
    val ids = subtree(id).toSet
    jobs.filter(j => jobSpan.get(j.jobId).exists(ids))
  }

  def planningMsUnder(id: Int): Long = {
    val ids = subtree(id).toSet
    qeSpan.collect { case (q, s) if ids(s) => q.planningMs }.sum
  }

  /** span time not covered by child spans or by jobs attributed to it */
  def selfNs(s: Span): Long = {
    val kids = children.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end))
    val own = jobs.filter(j => jobSpan.get(j.jobId).contains(s.id)).map(j => (j.submit, j.end))
    TraceMath.selfTime(s, kids ++ own)
  }

  /** span time not covered by any job under it: the driver-side gap */
  def driverGapNs(s: Span): Long =
    s.dur - TraceMath.covered(s.start, s.end, jobsUnder(s.id).map(j => (j.submit, j.end)))

  def named(name: String): Vector[Span] = spans.filter(_.name == name)
}
