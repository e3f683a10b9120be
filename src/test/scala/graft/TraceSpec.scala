package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.functions.Registry

/** [[Trace]] on the shared session: a query executed the way `graft.Bench`
  * executes it gets a record of what it ran.
  */
class TraceSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"
  private def trace = SparkTestBase.trace

  test("a multi-job catalogue query's record counts its jobs, stages, tasks and rules") {
    Bench.execute(spark, trace, dir, "q58_semi_anti_join") // warm
    var e: Bench.Exec = null
    val fenced = trace.jobsDuring { e = Bench.execute(spark, trace, dir, "q58_semi_anti_join") }
    assert(e.seconds >= 0 && e.buildMs >= 0)
    val q = trace.query(e.id)
    assert(fenced > 1, "q58 should launch more than one job")
    assert(q.jobs == fenced)
    assert(q.stages > 0 && q.tasks > 0 && q.taskMs >= 0)
    assert(q.failedTasks == 0 && q.firstFailure.isEmpty)
    // the noop write's planner tracker timed each graft rule
    assert(q.planning.ruleMs.size == Registry.OptimizerRules.size)
    assert(q.planning.ruleMs.values.forall(_ > 0), q.planning.ruleMs)
    assert(q.batches.isEmpty)
  }

  test("a stream query's record holds every micro-batch the stream reported") {
    val progress = new ConcurrentLinkedQueue[Long]()
    val terminated = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.batchId)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    val e = try Bench.execute(spark, trace, dir, "st07_stream_ref_dedup")
      finally {
        // the terminated event follows every progress event of the run
        assert(terminated.await(30, TimeUnit.SECONDS), "stream did not report termination")
        spark.streams.removeListener(listener)
      }
    assert(e.seconds >= 0)
    trace.fence()
    val q = trace.query(e.id)
    assert(q.batches.nonEmpty)
    assert(q.batches.map(_.batchId) == progress.asScala.toSeq)
    assert(q.batches.forall(_.durationMs.contains("triggerExecution")))
    assert(q.jobs > 0 && q.stages > 0 && q.tasks > 0)
  }

  test("a task whose UDF throws is recorded as one failed task with the exception") {
    val boom = udf((x: Long) => if (x == 3) throw new IllegalStateException(s"boom at $x") else x)
    val id = trace.newId()
    intercept[Exception](trace.run(id) {
      spark.range(0, 8, 1, 1).select(boom(col("id"))).write.mode("overwrite").format("noop").save()
    })
    trace.fence()
    val q = trace.query(id)
    assert(q.failedTasks == 1)
    assert(q.firstFailure.exists(_.contains("IllegalStateException")), q.firstFailure)
  }
}
