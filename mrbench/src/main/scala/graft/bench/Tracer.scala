package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the id of the span
  * that caused it (-1 for an op's root span); spans of one op share `op`.
  */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int, op: Int)

/** Per-stage counters, summed over the stage's tasks. */
final class StageRec(val id: Int, val op: Int) {
  var submittedMs = Double.NaN
  var firstLaunchMs = Double.NaN
  var completedMs = Double.NaN
  var tasks = 0
  var runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes = 0L
  var spillBytes, peakExecMem, inputBytes, inputRecords = 0L
  def wallMs: Double = completedMs - submittedMs
}

final case class JobRec(id: Int, op: Int, startMs: Double, var endMs: Double)

/** Planning phases of one QueryExecution that ran an action. */
final case class PlanRec(atMs: Double, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** The traced run's recorder: a SparkListener for jobs, stages and tasks,
  * a QueryExecutionListener for planning phases, and the benchmark's own
  * spans around each call into the engine. Spark jobs are tied to an op
  * through the `OpProperty` local property the benchmark sets around it.
  * Everything stays in memory until the run ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val openJobs = mutable.HashMap.empty[Int, JobRec]

  private def now: Double = System.currentTimeMillis().toDouble

  /** Record `body` as span `name` of `op` under `parent`; returns its
    * result and the span id. No span is kept while tracing is off.
    */
  def span[T](name: String, op: Int, parent: Int)(body: Int => T): T = {
    if (!enabled) return body(-1)
    val id = synchronized { spans += Span(spans.size, name, now, Double.NaN, parent, op); spans.size - 1 }
    try body(id)
    finally synchronized { spans(id) = spans(id).copy(endMs = now) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toInt).getOrElse(-1)
    if (op >= 0) synchronized {
      val j = JobRec(e.jobId, op, e.time.toDouble, Double.NaN)
      jobs += j
      openJobs(e.jobId) = j
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec(s, op)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submittedMs = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(now)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val t = e.taskInfo.launchTime.toDouble
      if (s.firstLaunchMs.isNaN || t < s.firstLaunchMs) s.firstLaunchMs = t
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.completedMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(now)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Planning phases of `qe`, stamped with the end of its last phase so
    * the run can place it inside the op that caused it.
    */
  def recordPlan(qe: QueryExecution): Unit = if (enabled) {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = if (ph.isEmpty) now else ph.values.map(_.endTimeMs).max.toDouble
    synchronized { plans += PlanRec(at, ms("analysis"), ms("optimization"), ms("planning")) }
  }
}

object Tracer {
  val OpProperty = "graft.bench.op"
}
