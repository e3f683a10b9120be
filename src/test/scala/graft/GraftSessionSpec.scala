package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.streaming.Replay

/** The one session path: the [[GraftSession]] builder's confs, the
  * [[GraftSession.streamSession]] child and [[Replay.runToCompletion]].
  */
class GraftSessionSpec extends GraftSuite {

  private val Rules = Seq(graft.sql.MergePercentiles,
    graft.sql.DeferExpensiveProjection, graft.sql.ReverseSuffixFrames)

  /** A file-stream source in a stream session over three parquet files
    * of (k, v): six rows, keys 0..2 twice each, one file per micro-batch.
    */
  private def replaySource() = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_session_spec_").toString
    (0 until 3).foreach { f =>
      Seq((f.toLong, 2L * f), (((f + 1) % 3).toLong, 2L * f + 1)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    GraftSession.streamSession(spark).readStream.schema("k LONG, v LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  test("streamSession installs functions and rules at 8 shuffle partitions, parent conf untouched") {
    val parentParts = spark.conf.get("spark.sql.shuffle.partitions")
    val s = GraftSession.streamSession(spark)
    assert(s ne spark)
    assert(s.sql("SELECT to_int('42') AS v").head.getLong(0) == 42L)
    Rules.foreach(r => assert(s.experimental.extraOptimizations.contains(r), r))
    assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parentParts)
    // a bare child inherits neither: the helper is what installs them
    val bare = spark.newSession()
    assert(!bare.catalog.functionExists("to_int"))
    assert(Rules.forall(r => !bare.experimental.extraOptimizations.contains(r)))
  }

  test("runToCompletion returns every row of a file-stream replay in append mode") {
    val got = Replay.runToCompletion(replaySource(), "append").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 0L), (1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L), (0L, 5L)))
  }

  test("runToCompletion returns the final aggregate in complete mode") {
    val agg = replaySource().groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val got = Replay.runToCompletion(agg, "complete").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 2L, 5L), (1L, 2L, 3L), (2L, 2L, 7L)))
  }

  test("two runs write distinct sinks and leave no active stream") {
    def sinks = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_sink_")).map(_.name).toSet
    val before = sinks
    val src = spark.readStream.schema("k LONG, v LONG").parquet(
      Files.createTempDirectory("graft_session_spec_empty_").toString)
    val a = Replay.runToCompletion(src, "append")
    val b = Replay.runToCompletion(src, "append")
    assert((sinks -- before).size == 2)
    assert(a.count() == 0 && b.count() == 0)
    assert(spark.streams.active.isEmpty)
  }

  test("the GraftSession-built session reports sorted bucketed scans") {
    assert(spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
  }

  test("a stream replayed in a fresh stream session compiles no class again") {
    def replay(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = Replay.runToCompletion(replaySource()
        .select((col("k") * 13 + 5).as("graft_replay_k"), (col("v") % 3).as("r")), "append")
      assert(out.agg(sum(col("graft_replay_k")), max(col("r"))).collect().length == 1)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    replay()
    assert(replay() == 0L, "the second replay recompiled generated classes")
  }
}
