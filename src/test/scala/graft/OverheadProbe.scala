package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Phase-level profiling probe for bench queries (guide §1: measure
  * first). For each named query it reports, over `reps` warm runs:
  *
  *   build  — closure invocation: dialect passes + view binding +
  *            analysis (everything before an action);
  *   plan   — executedPlan force (optimization + physical planning +
  *            AQE initial plan);
  *   exec   — the noop write (job scheduling + tasks + codegen lookup).
  *
  * Plus cumulative task time and task count from a listener, so
  * scheduling overhead (exec wall − task time / cores) is visible.
  *
  * Usage: sbt "Test/runMain graft.OverheadProbe q14_math q01_scan_project"
  */
object OverheadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val spark = GraftSession.getOrCreate(s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var taskNanos = 0L
    @volatile var nTasks = 0L
    @volatile var nStages = 0L
    @volatile var nJobs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        taskNanos += sc.stageInfo.taskMetrics.executorRunTime * 1000000L
        nTasks += sc.stageInfo.numTasks
        nStages += 1
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = nJobs += 1
    })

    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_scan_project", "q14_math")

    // one cold warmup of each to amortize codegen/JIT out of the numbers
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => println(s"[probe] warmup $n FAILED: ${e.getMessage}") }
    }

    println(f"${"query"}%-28s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s ${"taskS"}%8s ${"tasks"}%6s ${"stages"}%6s ${"jobs"}%5s")
    names.foreach { n =>
      var bBuild, bPlan, bExec = Double.MaxValue
      var bTask = 0.0; var bT, bS, bJ = 0L
      (1 to reps).foreach { _ =>
        taskNanos = 0; nTasks = 0; nStages = 0; nJobs = 0
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t3 = System.nanoTime()
        Thread.sleep(50) // let stage-completed events drain
        val (build, plan, exec) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        if (build + plan + exec < bBuild + bPlan + bExec) {
          bBuild = build; bPlan = plan; bExec = exec
          bTask = taskNanos / 1e9; bT = nTasks; bS = nStages; bJ = nJobs
        }
      }
      println(f"$n%-28s $bBuild%8.3f $bPlan%8.3f $bExec%8.3f ${bBuild + bPlan + bExec}%8.3f $bTask%8.2f $bT%6d $bS%6d $bJ%5d")
    }
    spark.stop()
  }
}
