package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Collects job, stage, task and micro-batch records through Spark's public
  * listener bus and ties each to the timed execution that caused it.
  *
  * The timed thread stamps every job it submits with two local properties,
  * [[LayerListener.Qid]] (execution id) and [[LayerListener.Phase]] (`build`
  * or `action`). Threads started during an execution (stream execution,
  * broadcast and AQE stage submission) inherit them, so recursion drains and
  * micro-batch jobs count against the query that ran them. Stages and tasks
  * map to a query through their job. Streaming progress carries no local
  * properties, so it is matched by its trigger timestamp against the
  * execution windows afterwards.
  *
  * Events arrive asynchronously; read the queues only after `spark.stop()`,
  * which drains the bus.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val stageQid = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Qid))).foreach { q =>
      val qid = q.toLong
      jobs.add(JobRec(qid, e.properties.getProperty(Phase, ""), e.jobId, e.time))
      e.stageIds.foreach(s => stageQid.put(s, qid))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageQid.get(i.stageId)).foreach { qid =>
      stages.add(StageRec(qid, i.stageId, i.attemptNumber(), i.numTasks,
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageQid.get(e.stageId)).foreach { qid =>
      val m = Option(e.taskMetrics)
      def v(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
      tasks.add(TaskRec(qid, e.stageId, e.taskInfo.taskId,
        e.taskInfo.launchTime, e.taskInfo.finishTime,
        cpuNs = v(_.executorCpuTime), gcMs = v(_.jvmGCTime),
        shuffleRead = v(_.shuffleReadMetrics.totalBytesRead),
        shuffleWrite = v(_.shuffleWriteMetrics.bytesWritten),
        spill = v(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        output = v(_.outputMetrics.bytesWritten),
        failed = e.reason != Success))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val pr = p.progress
      val ops = Option(pr.stateOperators).map(_.toSeq).getOrElse(Nil)
      batches.add(BatchRec(Instant.parse(pr.timestamp).toEpochMilli, pr.runId.toString,
        pr.batchId, Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum))
    case _ =>
  }

  def jobEnd(jobId: Int): Long = Option(jobEnds.get(jobId)).map(_.longValue).getOrElse(-1L)
  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def stageList: Seq[StageRec] = stages.asScala.toSeq
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def batchList: Seq[BatchRec] = batches.asScala.toSeq
}

/** Counts failed or retried tasks; cheap enough to stay on in untraced runs. */
final class FailedTasks extends SparkListener {
  val count = new java.util.concurrent.atomic.AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) count.incrementAndGet()
}

object LayerListener {
  val Qid = "perfbench.qid"
  val Phase = "perfbench.phase"

  final case class JobRec(qid: Long, phase: String, jobId: Int, startMs: Long)
  final case class StageRec(qid: Long, stageId: Int, attempt: Int, numTasks: Int,
                            startMs: Long, endMs: Long)
  final case class TaskRec(qid: Long, stageId: Int, taskId: Long, startMs: Long, endMs: Long,
                           cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                           spill: Long, output: Long, failed: Boolean)
  final case class BatchRec(startMs: Long, runId: String, batchId: Long, durationMs: Long,
                            stateRows: Long, commitMs: Long)
}
