package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One Spark job with the task metrics summed over its tasks. */
final class JobSpan(val id: Int, val startMs: Double, val cut: Boolean) {
  var endMs: Double = Double.NaN
  var tasks, busyMs, inBytes, inRows, shufRead, shufWrite, spill, outBytes,
    gcMs = 0L
}

/** A streaming trigger as reported by its progress event. */
final case class TriggerSpan(startMs: Double, endMs: Double, inputRows: Long,
  durations: Map[String, Long], stateRows: Long, stateMemBytes: Long,
  stateCommitMs: Long, runId: String)

/** Catalyst phase times of one action, from `QueryExecution.tracker`. */
final case class PlanSpan(phases: Map[String, (Double, Double)])

/** Sums streaming input rows and trigger time. Always registered: the
  * `streaming.events_per_s` figure needs it even in untraced passes.
  *
  * Streaming progress is read from the Spark listener bus, where every
  * streaming query event is also posted, not through a
  * StreamingQueryListener: the streaming bus passes on progress only
  * for run ids it still holds as active, and on Spark 4.1 no progress
  * of graft's short `Trigger.AvailableNow` drains reached one. */
final class StreamCounter extends SparkListener {
  @volatile var inputRows = 0L
  @volatile var triggerMs = 0L
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      inputRows += p.progress.numInputRows
      triggerMs += Option(p.progress.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
    }
    case _ =>
  }
}

/** The benchmark's listeners: Spark jobs, SQL actions and streaming
  * triggers (read from the Spark listener bus, as in [[StreamCounter]]),
  * kept in memory until the run ends. Spans are attributed to
  * queries afterwards by time, since queries run one at a time. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer[JobSpan]()
  val plans = ArrayBuffer[PlanSpan]()
  val triggers = ArrayBuffer[TriggerSpan]()
  private val byStage = scala.collection.mutable.Map[Int, JobSpan]()
  private val byId = scala.collection.mutable.Map[Int, JobSpan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a stage's details is the long call site of the action that made
    // the job; checkpoint cuts of the iterative kernels go through
    // graft.operators.Iterate.cut
    val cut = e.stageInfos.exists(_.details.contains("graft.operators.Iterate$.cut"))
    val j = new JobSpan(e.jobId, e.time.toDouble, cut)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.busyMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRows += m.inputMetrics.recordsRead
      j.shufRead += m.shuffleReadMetrics.totalBytesRead
      j.shufWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
    synchronized { plans += PlanSpan(ph) }
  }
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case ev: QueryProgressEvent =>
      val p = ev.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      val t = TriggerSpan(start, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, d, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum,
        p.runId.toString)
      synchronized { triggers += t }
    case _ =>
  }
}
