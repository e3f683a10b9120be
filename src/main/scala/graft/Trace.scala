package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{ExceptionFailure, SparkContext, Success, TaskFailedReason, TaskKilled}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.functions.Registry

/** Per-query execution statistics, from what Spark already computes: one
  * listener on the context's bus.
  *
  * [[run]] runs a block as one traced query. It stamps the local property
  * [[Trace.Key]] with the query's id, so every job the block launches
  * carries it, whether from this thread or from a thread the block starts
  * (stream executions, broadcasts and adaptive stage submissions inherit
  * local properties). A block run inside another counts toward both.
  * Everything else is tied to a query through its jobs:
  *  - a stage and its tasks, through the job that submitted the stage;
  *  - an SQL execution's planner tracker, through the execution id its
  *    jobs carry. The execution-end event reports the tracker for every
  *    session of the context, so a frame built in a child session (a
  *    stream run's) is traced like any other. The last execution to end
  *    wins: for `graft.Bench` that is the noop write;
  *  - a micro-batch, through its stream run id, which Spark sets as the
  *    job group of the run's jobs.
  *
  * Codegen counters are process-wide and read on the calling thread around
  * the block, so they hold for one query at a time. Events arrive
  * asynchronously: read [[query]] after `spark.stop()`, which drains the
  * bus, or after [[fence]].
  */
final class Trace private (sc: SparkContext) extends SparkListener {
  import Trace._

  private val nextId = new AtomicLong()
  private val queries = new ConcurrentHashMap[Long, Acc]()
  private val codegen = new ConcurrentHashMap[Long, (Long, Long)]()
  private val stageOwners = new ConcurrentHashMap[Int, Seq[Long]]()
  private val execOwners = new ConcurrentHashMap[Long, Seq[Long]]()
  private val runOwners = new ConcurrentHashMap[String, Seq[Long]]()
  private val batches = new ConcurrentLinkedQueue[(String, Batch)]()

  /** A fresh query id. */
  def newId(): Long = nextId.incrementAndGet()

  /** Runs `body` as traced query `id`. */
  def run[A](id: Long)(body: => A): A = {
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, Option(outer).fold(id.toString)(o => s"$o,$id"))
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    try body
    finally {
      codegen.put(id, (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        CodeGenerator.compileTime - compileNs0))
      sc.setLocalProperty(Key, outer)
    }
  }

  /** Returns once the bus has delivered every event posted before the
    * call: a marker job starts after them, so once its start is seen they
    * are in.
    */
  def fence(): Unit = {
    val id = newId()
    run(id)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!queries.containsKey(id) && System.nanoTime() < deadline) Thread.sleep(10)
    require(queries.containsKey(id), "listener bus did not deliver the fence job")
    forget(id)
  }

  /** Spark jobs launched while `body` runs on this thread. */
  def jobsDuring(body: => Unit): Int = {
    val id = newId()
    run(id)(body)
    fence()
    try query(id).jobs.toInt finally forget(id)
  }

  /** What query `id` ran (zeros for a query that launched no job). */
  def query(id: Long): Query = {
    val a = Option(queries.get(id)).getOrElse(new Acc)
    val (compiles, compileNs) = Option(codegen.get(id)).getOrElse((0L, 0L))
    val runs = runOwners.asScala.collect { case (run, ids) if ids.contains(id) => run }.toSet
    Query(a.planning, compiles, compileNs / 1e6, a.jobs, a.stages, a.tasks, a.taskMs,
      a.cpuNs / 1e6, a.gcMs, a.shuffleRead, a.shuffleWrite, a.spill, a.failed, a.retried,
      Option(a.failure), batches.asScala.collect { case (r, b) if runs(r) => b }.toSeq)
  }

  private def forget(id: Long): Unit = { queries.remove(id); codegen.remove(id) }

  // Listener callbacks run on the bus thread, one event at a time.
  private def acc(id: Long): Acc = queries.computeIfAbsent(id, _ => new Acc)

  private def owners(p: Properties): Option[Seq[Long]] =
    Option(p).flatMap(p => Option(p.getProperty(Key))).map(_.split(',').toSeq.map(_.toLong))

  override def onJobStart(e: SparkListenerJobStart): Unit = owners(e.properties).foreach { ids =>
    e.stageIds.foreach(stageOwners.put(_, ids))
    Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
      .foreach(x => execOwners.put(x.toLong, ids))
    Option(e.properties.getProperty(JobGroup)).foreach(runOwners.put(_, ids))
    ids.foreach(acc(_).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwners.get(e.stageInfo.stageId)).foreach(_.foreach(acc(_).stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwners.get(e.stageId)).foreach { ids =>
      val m = Option(e.taskMetrics)
      def v(f: TaskMetrics => Long) = m.fold(0L)(f)
      val failure = e.reason match {
        case Success | _: TaskKilled => None
        case f: ExceptionFailure => Some(s"${f.className}: ${f.description}")
        case r: TaskFailedReason => Some(s"${r.getClass.getName}: ${r.toErrorString}")
        case _ => None
      }
      val i = e.taskInfo
      ids.map(acc).foreach { a =>
        a.tasks += 1
        a.taskMs += i.finishTime - i.launchTime
        a.cpuNs += v(_.executorCpuTime)
        a.gcMs += v(_.jvmGCTime)
        a.shuffleRead += v(_.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite += v(_.shuffleWriteMetrics.bytesWritten)
        a.spill += v(t => t.memoryBytesSpilled + t.diskBytesSpilled)
        if (i.attemptNumber > 0) a.retried += 1
        failure.foreach { f =>
          a.failed += 1
          if (a.failure == null) a.failure = f
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => batches.add(p.progress.runId.toString -> Batch(p.progress))
    case end: SparkListenerSQLExecutionEnd =>
      Option(execOwners.remove(end.executionId)).foreach { ids =>
        Option(GraftColumnBridge.queryExecution(end)).foreach { qe =>
          val planning = Planning(qe.tracker)
          ids.foreach(acc(_).planning = planning)
        }
      }
    case _ =>
  }
}

object Trace {

  /** The local property that names the running traced queries, as a
    * comma-separated list of ids, innermost last.
    */
  val Key = "graft.trace.query"

  /** The local property Spark sets to a stream run's id on its jobs. */
  private val JobGroup = "spark.jobGroup.id"

  /** A trace on `spark`'s context. */
  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `x` rounded to three decimals. */
  def ms(x: Double): Double = math.rint(x * 1000) / 1000

  /** Running totals of one query; written only on the bus thread. */
  private final class Acc {
    var jobs, stages, tasks, taskMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, failed, retried = 0L
    var failure: String = null
    var planning: Planning = Planning.Empty
  }

  /** Phase times of one SQL execution's planner tracker, and the time
    * spent in each graft optimizer rule.
    */
  final case class Planning(analysisMs: Long, optimizationMs: Long, planningMs: Long,
                            ruleMs: ListMap[String, Double])

  object Planning {
    val Empty: Planning = Planning(0, 0, 0, ListMap.empty)

    def apply(t: QueryPlanningTracker): Planning = {
      def phase(p: String) = t.phases.get(p).fold(0L)(_.durationMs)
      Planning(phase(QueryPlanningTracker.ANALYSIS), phase(QueryPlanningTracker.OPTIMIZATION),
        phase(QueryPlanningTracker.PLANNING),
        ListMap(Registry.OptimizerRules.map { r =>
          r.getClass.getSimpleName.stripSuffix("$") ->
            t.rules.get(r.ruleName).fold(0L)(_.totalTimeNs) / 1e6
        }: _*))
    }
  }

  /** One micro-batch: Spark's `durationMs` breakdown, the state rows held
    * after it and the state commit time, summed over stateful operators.
    */
  final case class Batch(batchId: Long, durationMs: ListMap[String, Long], stateRows: Long,
                         commitMs: Long)

  object Batch {
    def apply(p: StreamingQueryProgress): Batch = {
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      Batch(p.batchId,
        ListMap(p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.longValue }: _*),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum)
    }
  }

  /** What one traced query ran. */
  final case class Query(planning: Planning, codegenCompiles: Long, codegenMs: Double,
                         jobs: Long, stages: Long, tasks: Long, taskMs: Long, cpuMs: Double,
                         gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, failedTasks: Long, retriedTasks: Long,
                         firstFailure: Option[String], batches: Seq[Batch]) {

    /** The record as `bench_full.json` fields, in a fixed order. */
    def fields: ListMap[String, Any] = ListMap(
      "analysis_ms" -> planning.analysisMs,
      "optimization_ms" -> planning.optimizationMs,
      "planning_ms" -> planning.planningMs,
      "rule_ms" -> planning.ruleMs.map { case (r, t) => r -> ms(t) },
      "codegen_compiles" -> codegenCompiles,
      "codegen_ms" -> ms(codegenMs),
      "jobs" -> jobs,
      "stages" -> stages,
      "tasks" -> tasks,
      "task_ms" -> taskMs,
      "cpu_ms" -> ms(cpuMs),
      "gc_ms" -> gcMs,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes,
      "failed_tasks" -> failedTasks,
      "retried_tasks" -> retriedTasks,
      "first_failure" -> firstFailure.orNull,
      "batches" -> batches.map(b => ListMap(
        "batch" -> b.batchId,
        "duration_ms" -> b.durationMs,
        "state_rows" -> b.stateRows,
        "commit_ms" -> b.commitMs)))
  }

  /** `fields` as one JSON object. */
  def toJson(fields: ListMap[String, Any]): String = json.writeValueAsString(fields)
}
