package graft

import org.apache.spark.sql.functions._

/** Streaming micro-batch cost probe (guide §1: measure first, round 19).
  *
  * Runs one declared streaming query end to end and prints every
  * StreamingQueryProgress the engine recorded: per-batch durationMs
  * breakdown (addBatch / getBatch / latestOffset / queryPlanning /
  * walCommit / commitOffsets) and per-operator state metrics — the
  * evidence VERDICT r18 #2 asks for (where do st-class seconds go:
  * state store, re-planning, sink, or task work).
  *
  * The declared queries build their own streaming query inside the
  * closure, so this probe re-creates the PIPELINE (not the memory-sink
  * harness) for the three headline shapes, reusing the exact operator
  * entry points the queries call.
  *
  * Usage: sbt "Test/runMain graft.StProgressProbe st21 st04 st01"
  */
object StProgressProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outer = GraftSession.getOrCreate(s"local[$cpus]")
    outer.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq("st21", "st04", "st01")

    // stage-level accounting: wall-bounded per-stage task sums, printed
    // after each run so addBatch decomposes into scan/shuffle/state work
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    outer.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stages.add(f"    stage=${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"run=${m.executorRunTime}%6dms cpu=${m.executorCpuTime / 1000000}%6dms " +
            f"srRows=${m.shuffleReadMetrics.recordsRead}%8d " +
            f"swRows=${m.shuffleWriteMetrics.recordsWritten}%8d " +
            f"in=${m.inputMetrics.recordsRead}%8d  ${si.name.takeWhile(_ != '(')}")
        }
      })

    def run(name: String): Unit = {
      val s = GraftSession.streamSession(outer)
      sys.env.get("SPARK_GRAFT_ST_PARTS").foreach(p =>
        s.conf.set("spark.sql.shuffle.partitions", p))
      sys.env.get("SPARK_GRAFT_ST_PROVIDER").foreach(p =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      sys.env.get("SPARK_GRAFT_ST_CKPT").foreach(d =>
        s.conf.set("spark.sql.streaming.checkpointLocation",
          d + "/ckpt_" + java.util.UUID.randomUUID))
      val E = graft.streaming.Events
      val out = name match {
        case "st21" =>
          val ev = E.readStream(s, dir).withColumn("ts", col("ts").cast("timestamp"))
          val views = ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
          val buys = ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
          E.streamingAsOfEnrich(views, buys, "user_id", "p_user_id", "view_ts", "p_ts",
            probeIdCol = "purchase_id", quotePayload = Seq("view_id"),
            horizonSeconds = 1800L, windowDuration = "1 hour", watermark = "2 hours")
        case "st04" =>
          E.streamingHourlyClosed(E.readStream(s, dir))
        case "st01" =>
          E.streamingSessionize(E.readStream(s, dir)).toDF
        case other => sys.error(s"unknown probe $other")
      }
      val sink = "stprobe_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val t0 = System.nanoTime()
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"=== $name wall=${f"$wall%.2f"}s batches=${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        println(s"  batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
        p.stateOperators.foreach { so =>
          println(s"    state op=${so.operatorName} rows=${so.numRowsTotal} " +
            s"updated=${so.numRowsUpdated} commitMs=${so.commitTimeMs} " +
            s"mem=${so.memoryUsedBytes} shufflePartitions=${so.numShufflePartitions}")
        }
      }
      Thread.sleep(200)
      while (!stages.isEmpty) println(stages.poll())
    }
    names.foreach(run)
    outer.stop()
  }
}
