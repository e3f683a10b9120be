package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.util.Random
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.functions.Registry
import graft.sql.Dialect

/** Closed-loop, one-client harness for the `SparkEntry` catalogue.
  *
  * It builds the session, records how long that took from `--spawn-ns` (the
  * launcher's wall clock when it started this JVM), then runs the
  * `--queries` list: one cold pass in the listed order (each query's first
  * run in this JVM), then whole warm passes, each in an order drawn from
  * `--seed` and the pass number, until `--seconds` have passed and at
  * least [[MinWarmSamples]] warm latencies exist. Each execution is timed
  * from outside the library: the catalogue function (build), the optimizer
  * and planner phases forced on the returned DataFrame's own
  * QueryExecution, and `collect()` on that same QueryExecution, which runs
  * the plan that was timed without re-optimizing it. Every result is hashed;
  * each query's first result is written as parquet for the launcher's DuckDB
  * oracle check and every later result must hash the same.
  *
  * With `--trace 1` the odd warm passes are traced: a [[LayerListener]]
  * records jobs, stages, tasks and micro-batches, the planner tracker is
  * read, and spans are written to `spans.jsonl`. The even passes stay
  * untraced so the launcher can state the tracing overhead.
  *
  * Everything measured goes to `run.json` in `--out`; the launcher turns it
  * into metrics.
  */
object Harness {

  /** With the inclusive quantile the launcher uses, 92 samples leave ten
    * above p90.
    */
  val MinWarmSamples = 92
  /** Warm passes stop here even if [[MinWarmSamples]] is not reached. */
  val MaxWarmSeconds = 110.0
  private val Rules = Seq("graft.sql.MergePercentiles",
    "graft.sql.DeferExpensiveProjection", "graft.sql.ReverseSuffixFrames")

  final case class Exec(qid: Long, name: String, pass: Int, traced: Boolean,
                        startMs: Double, buildNs: Long, optimizeNs: Long, planNs: Long,
                        actionNs: Long, error: String, hash: Long,
                        analysisMs: Long, optimizeMs: Long, planMs: Long,
                        rulesNs: Long, ruleCalls: Long, ruleEffective: Long,
                        compileNs: Long, compiles: Long) {
    def totalNs: Long = buildNs + optimizeNs + planNs + actionNs
    def endMs: Double = startMs + totalNs / 1e6
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def epochNs(): Long = {
    val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano
  }

  private def setUp(cores: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]").getOrCreate()
    Registry.registerAll(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spawnNs = o("spawn-ns").toLong
    val cores = o("cores").toInt
    val spark = setUp(cores)
    val setupS = (epochNs() - spawnNs) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get(o("out"))
    Files.createDirectories(out)
    val report = new Run(spark, o, out).apply() + ("setup_s" -> setupS)
    Files.write(out.resolve("run.json"), json.writeValueAsBytes(report))
    // the session is stopped; skip the shutdown hooks that sweep scratch
    // dirs, the launcher wipes them before the next run
    Runtime.getRuntime.halt(0)
  }

  /** Order-sensitive hash of a collected result, deep over nested values
    * and exact over doubles (bit patterns), so any changed cell shows.
    */
  def resultHash(rows: Array[Row]): Long = {
    def h(v: Any): Int = v match {
      case null => 0x5bd1e995
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case r: Row => MurmurHash3.orderedHash(r.toSeq.map(h))
      case m: scala.collection.Map[_, _] =>
        MurmurHash3.unorderedHash(m.map { case (k, x) => (h(k), h(x)) })
      case s: scala.collection.Seq[_] => MurmurHash3.orderedHash(s.map(h))
      case d: Double => java.lang.Long.hashCode(java.lang.Double.doubleToRawLongBits(d))
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case x => x.hashCode
    }
    (MurmurHash3.orderedHash(rows.iterator.map(h)).toLong << 32) ^ rows.length.toLong
  }

  final class Run(spark: SparkSession, o: Map[String, String], out: Path) {
    private val sc = spark.sparkContext
    private val sfDir = o("sf-dir")
    private val names = o("queries").split(",").toSeq
    private val seed = o("seed").toLong
    private val seconds = o("seconds").toDouble
    private val trace = o("trace") == "1"
    private val listener = new LayerListener
    private var nextQid = 0L
    private val firstResult = collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

    def apply(): Map[String, Any] = {
      // a renamed or dropped catalogue entry must not shrink the workload
      val missing = names.filterNot(SparkEntry.queries.contains) ++
        names.filterNot(SparkEntry.oracleSql.contains).map(_ + " (no oracle)")
      if (missing.nonEmpty) {
        System.err.println(s"[perfbench] not in SparkEntry: ${missing.mkString(", ")}")
        sys.exit(3)
      }
      val direct = if (trace) directLayers() else Map.empty[String, Double]
      val failedTasks = new FailedTasks
      sc.addSparkListener(failedTasks)
      if (trace) sc.addSparkListener(listener)
      val loadStart = loadAvg

      val cold = order(0).map(n => execute(n, 0, traced = false))
      val warm = collection.mutable.ArrayBuffer.empty[Exec]
      val w0 = System.nanoTime()
      def warmS = (System.nanoTime() - w0) / 1e9
      var pass = 1
      while ((warmS < seconds || warm.size < MinWarmSamples) && warmS < MaxWarmSeconds) {
        warm ++= order(pass).map(n => execute(n, pass, traced = trace && pass % 2 == 1))
        pass += 1
      }
      val warmWallS = warmS
      val loadEnd = loadAvg
      val rssMb = vmHwmMb

      val oracle = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
      Files.write(out.resolve("oracle.json"), json.writeValueAsBytes(oracle))
      writeResults()
      val firstHash = (cold ++ warm).filter(_.error == null)
        .groupBy(_.name).map { case (n, es) => n -> es.minBy(_.qid).hash }
      spark.stop()

      val execs = (cold ++ warm).map { e =>
        Map("qid" -> e.qid, "name" -> e.name, "pass" -> e.pass, "traced" -> e.traced,
          "ms" -> e.totalNs / 1e6, "error" -> e.error,
          "same_as_first" -> (e.error == null && firstHash.get(e.name).contains(e.hash)))
      }
      if (trace) writeSpans(cold ++ warm)
      Map("executions" -> execs, "warm_wall_s" -> warmWallS, "warm_passes" -> (pass - 1),
        "peak_rss_mb" -> rssMb, "failed_tasks" -> failedTasks.count.get,
        "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "layers" -> (if (trace) direct ++ layers(warm.filter(_.traced).toSeq, cold.toSeq) else Map.empty))
    }

    /** The cold pass keeps the listed order: whichever query runs first in
      * the JVM absorbs the one-time class loading, so a seeded cold order
      * moves that cost between queries and swings the cold median. Warm
      * passes each get their own order from the seed.
      */
    private def order(pass: Int): Seq[String] =
      if (pass == 0) names else new Random(seed * 1000003L + pass).shuffle(names)

    private def execute(name: String, pass: Int, traced: Boolean): Exec = {
      val qid = nextQid; nextQid += 1
      if (traced) {
        sc.setLocalProperty(LayerListener.Qid, qid.toString)
        sc.setLocalProperty(LayerListener.Phase, "build")
      }
      val compile0 = CodeGenerator.compileTime
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val startMs = epochNs() / 1e6
      val t0 = System.nanoTime()
      var t1, t2, t3 = t0
      var error: String = null
      var rows = Array.empty[Row]
      var qe: org.apache.spark.sql.execution.QueryExecution = null
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        t1 = System.nanoTime()
        qe = df.queryExecution
        qe.optimizedPlan
        t2 = System.nanoTime()
        qe.executedPlan
        t3 = System.nanoTime()
        if (traced) sc.setLocalProperty(LayerListener.Phase, "action")
        rows = df.collect()
        if (!firstResult.contains(name)) firstResult(name) = (df.schema, rows)
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] $name failed: $error")
      }
      val t4 = System.nanoTime()
      if (traced) {
        sc.setLocalProperty(LayerListener.Qid, null)
        sc.setLocalProperty(LayerListener.Phase, null)
      }
      def stage(a: Long, b: Long) = if (error == null) b - a else 0L
      val (phases, rules) =
        if (traced && qe != null) (qe.tracker.phases, qe.tracker.rules.filter(r => Rules.contains(r._1)))
        else (Map.empty[String, org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary],
          Map.empty[String, org.apache.spark.sql.catalyst.QueryPlanningTracker.RuleSummary])
      def phase(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      Exec(qid, name, pass, traced, startMs,
        buildNs = if (error == null) t1 - t0 else t4 - t0,
        optimizeNs = stage(t1, t2), planNs = stage(t2, t3), actionNs = stage(t3, t4),
        error = error, hash = resultHash(rows),
        analysisMs = phase("analysis"), optimizeMs = phase("optimization"), planMs = phase("planning"),
        rulesNs = rules.values.map(_.totalTimeNs).sum,
        ruleCalls = rules.values.map(_.numInvocations).sum,
        ruleEffective = rules.values.map(_.numEffectiveInvocations).sum,
        compileNs = CodeGenerator.compileTime - compile0,
        compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    }

    /** Each query's first result as parquet, for the DuckDB oracle check. */
    private def writeResults(): Unit = firstResult.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve("results").resolve(name).toString)
    }

    /** Layers cheap enough to time directly, outside any query. */
    private def directLayers(): Map[String, Double] = {
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def timeMs(f: => Unit) = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
      val register = (1 to 25).map(_ => timeMs(Registry.registerAll(spark)))
      val texts = names.map(SparkEntry.oracleSql)
      val dialect = (1 to 9).map(_ => timeMs(texts.foreach { t =>
        try Dialect.rewrite(t) catch { case _: Exception => () }
      }) / texts.size)
      Map("functions.register_ms" -> median(register.drop(5)),
        "sql.dialect_ms" -> median(dialect.drop(2)))
    }

    /** Per-query means over the traced warm executions (see LayerListener). */
    private def layers(ex: Seq[Exec], cold: Seq[Exec]): Map[String, Double] = {
      import LayerListener._
      val n = ex.size.max(1).toDouble
      val ids = ex.map(_.qid).toSet
      val jobs = listener.jobList.filter(j => ids(j.qid))
      val tasks = listener.taskList.filter(t => ids(t.qid))
      val stages = listener.stageList.filter(s => ids(s.qid))
      val tasksBy = tasks.groupBy(_.qid)
      def mean(f: Exec => Double) = ex.map(f).sum / n
      // wall time of each execution with no task running
      val idleMs = ex.map { e =>
        val ivs = tasksBy.getOrElse(e.qid, Nil)
          .map(t => (t.startMs.toDouble.max(e.startMs), t.endMs.toDouble.min(e.endMs)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var busy, end = e.startMs
        var covered = 0.0
        ivs.foreach { case (a, b) =>
          if (a > end) { covered += end - busy; busy = a }
          end = end.max(b)
        }
        covered += end - busy
        (e.totalNs / 1e6 - covered).max(0.0)
      }.sum
      val taskMs = tasks.map(t => (t.endMs - t.startMs).toDouble).sum
      val batches = batchesOf(ex)
      val finalStateRows = batches.groupBy(x => (x._1.qid, x._2.runId))
        .values.map(_.maxBy(_._2.batchId)._2.stateRows).sum
      val ruleCalls = ex.map(_.ruleCalls).sum
      val cn = cold.size.max(1).toDouble
      Map(
        "api.build_ms" -> mean(_.buildNs / 1e6),
        "api.build_jobs" -> jobs.count(_.phase == "build") / n,
        "sql.rules_ms" -> mean(_.rulesNs / 1e6),
        "sql.rules_effective_ratio" ->
          (if (ruleCalls == 0) 0.0 else ex.map(_.ruleEffective).sum.toDouble / ruleCalls),
        "catalyst.analysis_ms" -> mean(_.analysisMs.toDouble),
        "catalyst.optimize_ms" -> mean(_.optimizeMs.toDouble),
        "catalyst.plan_ms" -> mean(_.planMs.toDouble),
        "codegen.compile_ms" -> mean(_.compileNs / 1e6),
        "codegen.compiles" -> mean(_.compiles.toDouble),
        "codegen.cold_compile_ms" -> cold.map(_.compileNs / 1e6).sum / cn,
        "codegen.cold_compiles" -> cold.map(_.compiles.toDouble).sum / cn,
        "sched.jobs" -> jobs.size / n,
        "sched.stages" -> stages.size / n,
        "sched.tasks" -> tasks.size / n,
        "sched.idle_ms" -> idleMs / n,
        "exec.task_ms" -> taskMs / n,
        "exec.cpu_ms" -> tasks.map(_.cpuNs / 1e6).sum / n,
        "exec.gc_ms" -> tasks.map(_.gcMs.toDouble).sum / n,
        "exec.busy_cores" -> taskMs / ex.map(_.totalNs / 1e6).sum.max(1e-9),
        "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead.toDouble).sum / n,
        "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite.toDouble).sum / n,
        "exec.spill_bytes" -> tasks.map(_.spill.toDouble).sum / n,
        "exec.output_bytes" -> tasks.map(_.output.toDouble).sum / n,
        "exec.failed_tasks" -> tasks.count(_.failed) / n,
        "streaming.batches" -> batches.size / n,
        "streaming.batch_ms" -> batches.map(_._2.durationMs.toDouble).sum / n,
        "streaming.state_rows" -> finalStateRows / n,
        "streaming.state_commit_ms" -> batches.map(_._2.commitMs.toDouble).sum / n)
    }

    /** Micro-batches by the execution whose wall-clock window holds their
      * trigger time (progress events carry no local properties).
      */
    private def batchesOf(ex: Seq[Exec]): Seq[(Exec, LayerListener.BatchRec)] =
      listener.batchList.flatMap { b =>
        ex.find(e => b.startMs >= e.startMs - 1 && b.startMs <= e.endMs + 1).map(_ -> b)
      }

    /** query → build/optimize/plan/execute spans, plus job, stage, task and
      * micro-batch spans carrying the same query id, one JSON object per line.
      */
    private def writeSpans(ex: Seq[Exec]): Unit = {
      val w = Files.newBufferedWriter(out.resolve("spans.jsonl"), StandardCharsets.UTF_8)
      def emit(m: Map[String, Any]): Unit = { w.write(json.writeValueAsString(m)); w.newLine() }
      ex.filter(_.traced).foreach { e =>
        emit(Map("span" -> "query", "qid" -> e.qid, "name" -> e.name, "pass" -> e.pass,
          "start_ms" -> e.startMs, "end_ms" -> e.endMs, "error" -> e.error))
        var t = e.startMs
        Seq("build" -> e.buildNs, "optimize" -> e.optimizeNs, "plan" -> e.planNs,
          "execute" -> e.actionNs).foreach { case (s, ns) =>
          emit(Map("span" -> s, "qid" -> e.qid, "start_ms" -> t, "end_ms" -> (t + ns / 1e6)))
          t += ns / 1e6
        }
      }
      listener.jobList.foreach(j => emit(Map("span" -> "job", "qid" -> j.qid, "job" -> j.jobId,
        "phase" -> j.phase, "start_ms" -> j.startMs, "end_ms" -> listener.jobEnd(j.jobId))))
      listener.stageList.foreach(s => emit(Map("span" -> "stage", "qid" -> s.qid,
        "stage" -> s.stageId, "attempt" -> s.attempt, "tasks" -> s.numTasks,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      batchesOf(ex.filter(_.traced)).foreach { case (e, b) => emit(Map("span" -> "batch",
        "qid" -> e.qid, "run" -> b.runId, "batch" -> b.batchId, "start_ms" -> b.startMs,
        "end_ms" -> (b.startMs + b.durationMs), "state_rows" -> b.stateRows,
        "state_commit_ms" -> b.commitMs)) }
      listener.taskList.foreach(t => emit(Map("span" -> "task", "qid" -> t.qid,
        "stage" -> t.stageId, "task" -> t.taskId, "start_ms" -> t.startMs, "end_ms" -> t.endMs,
        "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs, "shuffle_read" -> t.shuffleRead,
        "shuffle_write" -> t.shuffleWrite, "spill" -> t.spill, "failed" -> t.failed)))
      w.close()
    }
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), MiB. */
  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
