package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the benchmark's own call tree: run, pass, query, the
  * build / execute / count steps of a query, and the planning phases of a
  * build or execute step (kind `plan`, named after the phase). Times are
  * epoch ns.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** One Spark job, attributed to the span whose thread launched it (-1 when
  * no span was open). `callSite` is the short call site of its result stage.
  */
final case class Job(id: Int, span: Int, start: Long, end: Long,
    callSite: String, stages: Seq[Int])

/** Task totals of one stage attempt set. */
final class StageStats {
  val taskRunMs = ArrayBuffer.empty[Long]
  var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inputRecords,
      inputBytes, outputBytes, outputRecords, failedTasks = 0L
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, xs: Iterable[(Long, Long)]): Long = {
    val clipped = xs.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var s = 0L
    var e = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > e) {
        if (e != Long.MinValue) total += e - s
        s = a; e = b
      } else e = math.max(e, b)
    }
    if (e != Long.MinValue) total += e - s
    total
  }
}

/** Spans and jobs of a finished traced run, with the tree arithmetic. */
final class Tree(val spans: Seq[Span], val jobs: Seq[Job],
    val stages: collection.Map[Int, StageStats]) {
  val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
  private val childSpans = spans.groupBy(_.parent)
  private val childJobs = jobs.groupBy(_.span)

  /** A span's duration minus the part of it its child spans and jobs cover. */
  def selfTime(id: Int): Long = {
    val s = byId(id)
    val kids = childSpans.getOrElse(id, Nil).map(c => (c.start, c.end)) ++
      childJobs.getOrElse(id, Nil).map(j => (j.start, j.end))
    s.dur - Intervals.covered(s.start, s.end, kids)
  }

  /** The nearest ancestor-or-self span of `id` with the given kind. */
  def enclosing(id: Int, kind: String): Option[Span] =
    byId.get(id) match {
      case Some(s) if s.kind == kind => Some(s)
      case Some(s) => enclosing(s.parent, kind)
      case None => None
    }

  def jobsUnder(root: Int): Seq[Job] =
    jobs.filter(j => isUnder(j.span, root))

  def isUnder(id: Int, root: Int): Boolean =
    id == root || (byId.get(id) match {
      case Some(s) => isUnder(s.parent, root)
      case None => false
    })

  def stagesOf(js: Seq[Job]): Seq[StageStats] =
    js.flatMap(_.stages).distinct.flatMap(stages.get)
}

/** Records spans around the benchmark's calls into the engine. The span id
  * travels to Spark as a local property, so each job names its launcher.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Prop
  private val sc = spark.sparkContext
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(-1)
  private var next = 0
  val recorder = new Recorder
  private val planner = new PlanRecorder
  private var attached = false

  def now: Long = baseEpochNs + (System.nanoTime() - baseNano)

  /** Turn recording on or off (off means no listener on the bus). */
  def listen(on: Boolean): Unit = if (on != attached) {
    if (on) {
      sc.addSparkListener(recorder)
      spark.listenerManager.register(planner)
    } else {
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.removeSparkListener(recorder)
      spark.listenerManager.unregister(planner)
    }
    attached = on
  }

  def current: Int = stack.head

  /** Id of the span that closed last. */
  var last: Int = -1

  def apply[T](kind: String, name: String)(f: => T): T = {
    val id = next
    next += 1
    val parent = stack.head
    stack = id :: stack
    sc.setLocalProperty(Prop, id.toString)
    val t0 = now
    try f
    finally {
      spans += Span(id, parent, kind, name, t0, now)
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.head.toString)
      last = id
    }
  }

  /** Planning phases of the query executions the session reported since
    * the last call, as (phase, start ns, end ns). Waits until the bus has
    * delivered them.
    */
  def planned(): Seq[(String, Long, Long)] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    planner.take()
  }

  /** Adds `phases` as finished `plan` spans under `parent`. */
  def addPlan(parent: Int, phases: Seq[(String, Long, Long)]): Unit =
    phases.foreach { case (phase, start, end) =>
      spans += Span(next, parent, "plan", phase, start, end)
      next += 1
    }

  def tree(): Tree = {
    listen(false)
    new Tree(spans.toSeq, recorder.jobs.values.toSeq.sortBy(_.id),
      recorder.stages)
  }
}

/** Keeps the planning phases of every query execution the session reports.
  * For `df.write...save()` that is the write's own execution, whose plan is
  * the one that ran.
  */
final class PlanRecorder extends QueryExecutionListener {
  private val phases = ArrayBuffer.empty[(String, Long, Long)]

  private def record(qe: QueryExecution): Unit = synchronized {
    phases ++= PlanRecorder.phasesOf(qe)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def take(): Seq[(String, Long, Long)] = synchronized {
    val r = phases.toSeq.sortBy(_._2)
    phases.clear()
    r
  }
}

object PlanRecorder {
  /** The phases `qe` has been through so far, as (phase, start ns, end ns). */
  def phasesOf(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq.map { case (phase, s) =>
      (phase, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L)
    }.sortBy(_._2)
}

object Tracer {
  val Prop = "graftbench.span"
}

/** Collects jobs and per-stage task totals from the listener bus. */
final class Recorder extends SparkListener {
  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.Map.empty[Int, StageStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(e.jobId, span, e.time * 1000000L, e.time * 1000000L,
      site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time * 1000000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new StageStats)
    if (e.reason != org.apache.spark.Success) st.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.taskRunMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.diskBytesSpilled
      st.inputRecords += m.inputMetrics.recordsRead
      st.inputBytes += m.inputMetrics.bytesRead
      st.outputBytes += m.outputMetrics.bytesWritten
      st.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}
