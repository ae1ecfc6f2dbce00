package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timeline for driver-side spans and Spark's event timestamps:
  * milliseconds since the harness started, as a Double. Driver spans come
  * from `System.nanoTime`; listener events carry epoch milliseconds. */
object Clock {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()

  def now: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs).toDouble
  def fromIso(ts: String): Double = fromEpochMs(java.time.Instant.parse(ts).toEpochMilli)
}

final case class JobRec(id: Int, start: Double, end: Double, stageIds: Seq[Int])

final case class StageRec(
    id: Int, attempt: Int, start: Double, end: Double, tasks: Int,
    cpuNs: Long, runMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long,
    inputRows: Long, inputBytes: Long)

final case class BatchRec(
    runId: String, start: Double, inputRows: Long,
    durations: Map[String, Long], stateRows: Long, stateMemory: Long)

/** Scheduler-level records (jobs, stages, failed tasks) from Spark's
  * public `SparkListener` API. */
final class ExecRecorder extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  /** Epoch-timeline instants of failed task attempts. */
  val taskFailures = new ConcurrentLinkedQueue[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (Clock.fromEpochMs(e.time), e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stageIds) = Option(jobStarts.remove(e.jobId))
      .getOrElse((Clock.fromEpochMs(e.time), Seq.empty[Int]))
    jobs.add(JobRec(e.jobId, start, Clock.fromEpochMs(e.time), stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val end = i.completionTime.map(Clock.fromEpochMs).getOrElse(Clock.now)
    val start = i.submissionTime.map(Clock.fromEpochMs).getOrElse(end)
    if (m == null)
      stages.add(StageRec(i.stageId, i.attemptNumber(), start, end, i.numTasks,
        0, 0, 0, 0, 0, 0, 0))
    else
      stages.add(StageRec(i.stageId, i.attemptNumber(), start, end, i.numTasks,
        m.executorCpuTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) taskFailures.add(Clock.fromEpochMs(e.taskInfo.finishTime))
}

/** Micro-batch progress from Spark's public `StreamingQueryListener`;
  * every batch of every streaming query the workload runs lands here. */
final class BatchRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
    batches.add(BatchRec(
      p.runId.toString, Clock.fromIso(p.timestamp), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }

  def all: Seq[BatchRec] = batches.asScala.toSeq
}
