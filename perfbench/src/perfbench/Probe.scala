package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.shuffle.perfbench.TracingShuffleManager
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

final case class TaskRec(jobStage: Int, stageAttempt: Int, taskAttemptId: Long, launchMs: Long,
    finishMs: Long, runMs: Long, overheadMs: Long, gcMs: Long, retry: Boolean, isMap: Boolean,
    writeBytes: Long, writeRecords: Long, writeNs: Long, readBytes: Long, readRecords: Long,
    blocks: Long, fetchWaitMs: Long, spillBytes: Long) {
  def durMs: Long = finishMs - launchMs
}

final case class StageRec(stageId: Int, attempt: Int, submitMs: Long, doneMs: Long)

final case class JobRec(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

final case class QueryRec(planMs: Double, exchanges: Int, scans: Int)

/** Everything the listeners saw between two [[Probe.take]] calls. */
final case class Window(tasks: Seq[TaskRec], stages: Seq[StageRec], jobs: Seq[JobRec],
    queries: Seq[QueryRec])

/** Driver-side observer: a `SparkListener` for jobs, stages and tasks,
  * and a `QueryExecutionListener` for Catalyst planning time and the
  * exchanges and scans of each executed plan. */
final class Probe(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val queries = ArrayBuffer.empty[QueryRec]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t, ids) => jobs += JobRec(e.jobId, t, e.time, ids) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime)
      stages += StageRec(i.stageId, i.attemptNumber(), s, d)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i == null || m == null) return
    val w = m.shuffleWriteMetrics
    val r = m.shuffleReadMetrics
    val overhead = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    val rec = TaskRec(e.stageId, e.stageAttemptId, i.taskId, i.launchTime, i.finishTime,
      m.executorRunTime, overhead, m.jvmGCTime, i.attemptNumber > 0 || !i.successful,
      e.taskType == "ShuffleMapTask", w.bytesWritten, w.recordsWritten, w.writeTime,
      r.totalBytesRead, r.recordsRead, r.remoteBlocksFetched + r.localBlocksFetched,
      r.fetchWaitTime, m.diskBytesSpilled)
    synchronized { tasks += rec }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val (ex, sc) = Probe.count(qe.executedPlan)
    synchronized { queries += QueryRec(planMs, ex, sc) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Deliver queued events, then hand over and forget what was seen. */
  def take(): Window = {
    TracingShuffleManager.drainListeners(sc)
    synchronized {
      val w = Window(tasks.toSeq, stages.toSeq, jobs.toSeq, queries.toSeq)
      tasks.clear(); stages.clear(); jobs.clear(); queries.clear()
      w
    }
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): (Int, Int) = {
    val ex = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val scans = collectWithSubqueries(plan) {
      case s: FileSourceScanLike => s
      case b: BatchScanExec => b
    }.size
    (ex, scans)
  }
}
