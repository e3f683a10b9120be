package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Micro-batch cost breakdown for the streaming operator family
  * (guide §1): runs one representative stateful stream (the st13 dedup
  * shape) and prints every StreamingQueryProgress's durationMs map and
  * state-operator metrics, so the per-batch overhead (planning vs WAL
  * commit vs state commit vs addBatch) is visible.
  *
  * Usage: sbt "Test/runMain graft.StreamProbe [shufflePartitions]"
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val parts = if (args.nonEmpty) args(0) else "8"
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outer = GraftSession.getOrCreate(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    outer.sparkContext.setLogLevel("ERROR")
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.shuffle.partitions", parts)

    val ev = graft.streaming.Events.readStream(s, dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = ev
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    val q = out.writeStream.format("memory").queryName("probe_sink")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    println(f"[probe] wall ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
      s"parts=$parts, batches=${q.recentProgress.length}")
    q.recentProgress.foreach { p =>
      println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=${p.durationMs}")
      p.stateOperators.foreach { so =>
        println(s"[probe]   state op=${so.operatorName} " +
          s"commitMs=${so.commitTimeMs} rowsUpd=${so.numRowsUpdated} " +
          s"mem=${so.memoryUsedBytes} custom=${so.customMetrics}")
      }
    }
    outer.stop()
  }
}
