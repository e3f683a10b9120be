package graft

import org.apache.spark.sql.SparkSession

import graft.functions.Registry

/** Session factory for the graft engine: the one place a session is
  * configured. Bench, Verify, the tests and the test mains all build through
  * [[builder]]; a caller that needs one more conf adds `.config(...)` on
  * top.
  *
  * The reference engine's only execution knob is a process-global batch size
  * (reference: vinum/__init__.py:52-62); on Spark the equivalents are shuffle
  * partitioning, adaptive execution and codegen, configured here once.
  *
  * Scale notes (100 TB design): shuffle partitions are set low for local[32]
  * testing; on a real cluster the AQE coalescing below makes the initial
  * number a ceiling, not a tuning burden. All graft operators avoid
  * driver-side collection and express work as Catalyst plans so the same
  * code runs unchanged on a 1000-executor cluster.
  */
object GraftSession {

  /** Shuffle partitions of a [[streamSession]]: the streaming state store
    * keeps one store per partition per micro-batch, so the replayed
    * streams' few thousand keys want few partitions, not one per core.
    */
  private val StreamShufflePartitions = 8

  /** The builder every graft session starts from.
    *
    * It turns Spark's session artifact isolation off. Spark keys its
    * generated-class cache on (context class loader, source), and with
    * isolation on every new session (each [[streamSession]] child, each
    * stream run's cloned session) runs under a class loader of its own,
    * so a query replayed in a fresh session recompiles every class it
    * compiled before. All sessions of this engine share one classpath and
    * graft adds no session artifacts, so one loader serves them all.
    *
    * It also keeps local file I/O in process. Without the native Hadoop
    * library, Hadoop's local file system forks a `chmod` for every file and
    * directory it creates, and FileContext forks a `readlink` for every
    * link-status call, milliseconds each; a stream's offset-log commit took
    * about 30 ms. So `fs.file.impl` is [[graft.io.NioLocalFileSystem]],
    * which sets permissions through java.nio (a mode java.nio cannot set,
    * such as the sticky bit, still forks), and streams use Spark's
    * FileSystem-based checkpoint manager, which asks for no link status:
    * the default FileContext one reaches Hadoop's forking class through
    * `local.RawLocalFs`, whatever `fs.file.impl` says. Offset,
    * commit and source logs, stream metadata and the state store's deltas
    * and snapshots then go through the same file system as table writes.
    */
  def builder(master: String = "local[*]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      // Static conf (read once, before the first codegen): the default
      // 100-entry generated-class cache thrashes on plan-diverse
      // workloads (this suite's 420 queries produce a few thousand
      // codegen units), recompiling every fragment on every revisit.
      // Workload-sized, not host-sized; ~8k small classes of driver
      // metaspace.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // report per-bucket sort order from bucketed scans (io16/Pq write
      // bucketBy+sortBy with one file per bucket): lets a co-located
      // merge join skip BOTH its Exchange and its Sort. Off by default
      // upstream only because the check lists files at planning time —
      // the right trade wherever a sorted bucketed layout is the point
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")

  /** Get or create a session with all graft SQL functions registered. */
  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    Registry.registerAll(spark)
    spark
  }

  /** Child session for one stream run. `newSession()` shares the parent's
    * context but not its temp functions, optimizer rules or planner
    * strategy, so they are installed here; the shuffle-partition setting (and any conf the
    * caller adds) stays scoped to the child, nothing to save or restore.
    */
  def streamSession(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
    Registry.registerAll(s)
    s
  }
}
