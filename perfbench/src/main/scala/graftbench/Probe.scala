package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals of the jobs that ran under one job group. */
final class Agg {
  var jobs, stages, tasks, failedTasks = 0L
  var taskWaitMs, runMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var bytesWritten, recordsWritten, bytesRead = 0L
  def +=(o: Agg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskWaitMs += o.taskWaitMs; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten; bytesRead += o.bytesRead
  }
}

/** Scheduler listener: per-job-group task totals, plus job and stage spans.
  * The benchmark names each job group `<op>:<phase>`, so every job is tied
  * to the operation and layer call that started it. Events arrive on the
  * listener-bus thread; read the state only after draining the bus. */
final class SchedulerProbe extends SparkListener {
  val byGroup = mutable.LinkedHashMap.empty[String, Agg]
  /** (job id, group, start ms, end ms) */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  /** (job id, start ms, end ms) */
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    agg(g).jobs += 1
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach { s => stageJob(s) = e.jobId; stageGroup(s) = g }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t0) => jobSpans += ((e.jobId, g, t0, e.time)) }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    if (!stageGroup.contains(id)) stageGroup(id) = groupOf(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    agg(stageGroup.getOrElse(id, "none")).stages += 1
    val t0 = e.stageInfo.submissionTime.orElse(stageSubmit.get(id)).getOrElse(0L)
    stageSpans += ((stageJob.getOrElse(id, -1), t0,
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    stageSubmit.get(e.stageId).foreach(s => a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.recordsWritten += m.outputMetrics.recordsWritten
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

/** Catalyst phase times (QueryPlanningTracker) of every finished query. */
final class PlanningProbe extends QueryExecutionListener {
  val phaseMs = mutable.LinkedHashMap("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    phaseMs.keys.foreach(k => ph.get(k).foreach(s => phaseMs(k) += s.durationMs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** JVM heap and GC accounting. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** JMX high water mark of the heap pools since the last reset. */
  def poolPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Heap still in use after a full collection: the retained set. */
  def liveBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** One traced interval; `parent` 0 is the root. */
final case class Span(id: Int, parent: Int, name: String, op: Long, startUs: Long, endUs: Long)

/** In-memory span recorder. Spans carry wall-clock microseconds so that
  * Spark's job and stage times (epoch milliseconds) line up with them. */
final class Tracer(val enabled: Boolean) {
  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  /** (op, phase) -> id of the layer span that owns that job group */
  val groupSpan = mutable.HashMap.empty[String, Int]
  private var open = List.empty[Int]
  private var nextId = 1

  def span[T](name: String, op: Long, group: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      if (group != null) groupSpan(group) = id
      open = id :: open
      val t0 = nowUs
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, op, t0, nowUs)
      }
    }

  /** Append Spark job and stage spans under the layer spans that caused them. */
  def addSchedulerSpans(p: SchedulerProbe): Unit = if (enabled) {
    val jobSpanId = mutable.HashMap.empty[Int, Int]
    p.jobSpans.foreach { case (job, group, t0, t1) =>
      val id = nextId; nextId += 1
      jobSpanId(job) = id
      val op = group.takeWhile(_ != ':').dropWhile(!_.isDigit)
      spans += Span(id, groupSpan.getOrElse(group, 0), "spark.job",
        if (op.nonEmpty) op.toLong else -1L, t0 * 1000, t1 * 1000)
    }
    val opOfSpan = spans.map(s => s.id -> s.op).toMap
    p.stageSpans.foreach { case (job, t0, t1) =>
      val parent = jobSpanId.getOrElse(job, 0)
      spans += Span(nextId, parent, "spark.stage", opOfSpan.getOrElse(parent, -1L), t0 * 1000, t1 * 1000)
      nextId += 1
    }
  }
}
