package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Records of the traced run, all captured by Spark's public listener
  * interfaces. Jobs and stages carry the operation id through the job
  * property [[Trace.OpProperty]]; query executions and streaming
  * batches are attributed to the operation whose window holds their
  * start time (operations run one at a time). */
object Trace {
  val OpProperty = "perfbench.op"

  final case class Job(op: Int, jobId: Int, startMs: Long, endMs: Long)
  final case class Stage(op: Int, stageId: Int, numTasks: Int, startMs: Long, endMs: Long,
                         runMs: Long, cpuMs: Double, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, resultBytes: Long,
                         taskMs: Vector[Long])
  final case class Qe(startMs: Long, endMs: Long, analysisMs: Long, optimizationMs: Long,
                      physicalMs: Long, failed: Boolean)
  final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long, planningMs: Long,
                         walCommitMs: Long, stateRows: Long, stateBytes: Long,
                         stateCommitMs: Long, queryName: String, batchId: Long)
}

final class JobRecorder extends SparkListener {
  import Trace._
  val jobs = new ConcurrentLinkedQueue[Job]
  val stages = new ConcurrentLinkedQueue[Stage]
  private val jobStarts = new ConcurrentHashMap[Int, (Int, Long)]
  private val stageOp = new ConcurrentHashMap[Int, Int]
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
  @volatile var lastJobEndMs: Long = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).foreach { op =>
      jobStarts.put(e.jobId, (op.toInt, e.time))
      e.stageIds.foreach(s => stageOp.putIfAbsent(s, op.toInt))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach { case (op, start) =>
      jobs.add(Job(op, e.jobId, start, e.time))
    }
    lastJobEndMs = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOp.containsKey(e.stageId) && e.taskMetrics != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long])
        .add(e.taskMetrics.executorRunTime)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (stageOp.containsKey(si.stageId) && si.taskMetrics != null) {
      val tm = si.taskMetrics
      val times = Option(taskMs.remove(si.stageId)).map(_.asScala.toVector)
        .getOrElse(Vector.empty)
      stages.add(Stage(stageOp.get(si.stageId), si.stageId, si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        tm.executorRunTime, tm.executorCpuTime / 1e6, tm.jvmGCTime,
        tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.resultSize, times))
    }
  }
}

/** Planning phases of every executed query, from the QueryPlanningTracker. */
final class PlanRecorder extends QueryExecutionListener {
  val qes = new ConcurrentLinkedQueue[Trace.Qe]

  private def record(qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    qes.add(Trace.Qe(start, System.currentTimeMillis(), ms("analysis"), ms("optimization"),
      ms("planning"), failed))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, failed = true)
}

/** Micro-batch progress of every streaming query. */
final class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches = new ConcurrentLinkedQueue[Trace.Batch]

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    batches.add(Trace.Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
      d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit"),
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, Option(p.name).getOrElse(""), p.batchId))
  }
}
