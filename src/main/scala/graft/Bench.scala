package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): times every declared query
  * at SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Measurement notes:
  *  - results go to the `noop` sink so the FULL plan executes (a bare
  *    count() would let the optimizer drop sorts and projections);
  *  - one warmup execution of the flagship query amortizes JVM/codegen
  *    startup out of the numbers;
  *  - repetitions are INTERLEAVED WHOLE PASSES over the query set, and the
  *    reported per-query time is the MIN across passes. The round-2 driver
  *    run showed contention arrives in multi-minute windows (consecutive
  *    queries inflated 50-200x while the rest of the set ran clean), so
  *    back-to-back reps of one query all land in the same window and a
  *    median cannot recover; passes separated in time can. Min is the
  *    right estimator here because external load only ever ADDS time;
  *  - SPARK_GRAFT_BENCH_BUDGET_SEC (default 2100) caps total measurement
  *    wall-clock: pass 1 always completes (every query needs a number),
  *    later passes start/continue only while under budget. Keeps a noisy
  *    driver machine from turning 3 passes into an hour;
  *  - the stdout JSON must survive the driver's 2000-char stdout tail
  *    capture (round 2's 68-query full map overflowed it and the driver
  *    recorded parsed:null). So stdout carries a headline subset of
  *    per-query times at millisecond precision, plus the total over ALL
  *    queries; the complete per-query map is written to bench_full.json
  *    in the working directory. The line is printed AFTER spark.stop()
  *    so no shutdown logging can trail it;
  *  - SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the query set (iteration);
  *  - the session is [[GraftSession]]'s, the one the tests and Verify use;
  *  - every execution is a [[Trace]]d query, and bench_full.json's `trace`
  *    map gives each query the record of the pass that produced its
  *    reported min (of its last pass when every pass failed), plus the
  *    catalogue call's `build_ms`. The counters come from listener events
  *    on the timed pass, read after spark.stop() has drained the bus.
  */
object Bench {

  /** One representative per operator family — kept short enough that the
    * stdout JSON line always fits the driver's tail window.
    */
  private val Headline: Seq[String] = Seq(
    "q01_scan_project", "q03_arithmetic", "q06_agg_global", "q07_agg_group",
    "q11_topk", "q14_math", "q24_column_udf", "j01_join_bcast",
    "j04_join_shuffle", "w01_window_running", "cd01_count_distinct",
    "sub02_correlated", "r01_rollup", "io01_csv_roundtrip", "a01_asof_join",
    "d01_dedup_exact", "d02_minhash_pairs", "d04_ngram_jaccard",
    "d06_dedup_segments", "s01_ann_brute", "s02_ann_lsh", "t03_tokens",
    "t06_repetition", "m02_codec_decode", "e02_sessionize",
    "p01_pipeline_e2e", "st01_stream_sessionize", "s06_quantize_int8",
    "d10_decontaminate", "j06_range_join", "t09_lm_score", "u01_upsert",
    "e04_funnel", "st04_stream_append", "w04_rolling_range", "s08_ann_pq",
    "s11_ann_ivfpq_persisted", "t11_bpe_tokens",
    "gr07_recursive_sql", "d21_cdc_chunk_dedup", "st21_stream_asof_enrich",
    "d22_exact_substr", "t25_bpe_train", "io16_bucketed_join",
    "gr08_ktruss")

  /** Host 1-minute load average (ratio of runnable tasks to nothing — NOT
    * normalized by core count) via the JMX OS bean; -1 where unsupported.
    * Sampled at bench start and end so the driver can mechanically
    * discount a contended run instead of archaeologically comparing
    * per-query explosions across rounds: on this 32-core box a quiet run
    * sees load well under the core count, a contended one far above.
    */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** One execution of a query: its [[Trace]] id, wall seconds (-1 when it
    * failed) and the catalogue call's share in ms (-1 when that failed).
    */
  private[graft] final case class Exec(id: Long, seconds: Double, buildMs: Double)

  /** Times `name` the way every pass does, as one traced query: the
    * catalogue call, then the full plan into the `noop` sink.
    */
  private[graft] def execute(spark: SparkSession, trace: Trace, sfDir: String,
                             name: String): Exec = {
    val id = trace.newId()
    val t0 = System.nanoTime()
    var buildMs = -1.0
    try trace.run(id) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      buildMs = (System.nanoTime() - t0) / 1e6
      df.write.mode("overwrite").format("noop").save()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return Exec(id, -1.0, buildMs)
    }
    Exec(id, (System.nanoTime() - t0) / 1e9, buildMs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // 2100: at 283 queries a cold pass runs ~400-450s and warm passes
    // ~270s, so 960 was down to TWO passes by round 11 — and min-of-2
    // has visibly less contention immunity than min-of-3 (the r11 run's
    // unchanged-code queries drifted +15%). By round 12 the suite hit
    // 317 queries (~810s of measured time for 3 passes, more with cold
    // overhead), leaving 1500 with no headroom for further growth, so
    // the default rises ahead of the round-13 additions. The floor below
    // guarantees minPasses complete regardless; the budget only gates
    // passes beyond it, so a contended box still can't stretch the bench
    // unboundedly.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2100").toDouble
    val minPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_PASSES", "3").toInt
      .max(1).min(reps)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.getOrCreate(s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    val trace = Trace.install(spark)
    def execute(name: String): Exec = Bench.execute(spark, trace, sfDir, name)

    // warmup: flagship + one ops query, results discarded
    execute("q07_agg_group")
    execute("t04_fingerprint")

    val loadStart = loadAvg
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val clock0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - clock0) / 1e9

    // pass 1 completes unconditionally; later passes run while under
    // budget. Each pass starts at a rotated offset so a budget abort
    // doesn't always truncate the same tail of the sorted name list, and
    // `passes` counts only passes that ran to completion (an aborted pass
    // would otherwise overstate how many samples queries received).
    val execs = collection.mutable.Map.empty[String, List[Exec]]
    var passes = 0
    var p = 0
    while (p < reps && (p < minPasses || elapsed < budgetSec)) {
      var aborted = false
      val off = if (names.isEmpty) 0 else (p * names.size / reps) % names.size
      val order = names.drop(off) ++ names.take(off)
      order.foreach { n =>
        if (p < minPasses || (!aborted && elapsed < budgetSec)) {
          execs(n) = execute(n) :: execs.getOrElse(n, Nil)
        } else aborted = true
      }
      if (!aborted) passes += 1
      p += 1
    }

    val results = names.map { n =>
      val ts = execs.getOrElse(n, Nil).map(_.seconds).filter(_ >= 0)
      val best = if (ts.isEmpty) -1.0 else ts.min
      val spread = if (ts.isEmpty || ts.min == 0) 1.0 else ts.max / ts.min
      (n, best, spread)
    }
    // the execution each query reports: its min pass, else its last one
    val reported = names.map { n =>
      val es = execs(n)
      n -> es.filter(_.seconds >= 0).minByOption(_.seconds).getOrElse(es.head)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val maxSpread = if (results.isEmpty) 1.0 else results.map(_._3).max

    // Locale.ROOT: the default-locale f"" interpolator would emit a comma
    // decimal separator under e.g. de_DE and break the driver's JSON parse.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qmap(rs: Seq[(String, Double, Double)]): String =
      rs.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

    // `cpus` is the host's processor count; `cores_conf` is the N of the
    // local[N] master this run configured (SPARK_GRAFT_CPUS)
    val loadJson =
      s""""load":{"avg_start":${fmt(loadStart)},"avg_end":${fmt(loadAvg)},""" +
        s""""cpus":${Runtime.getRuntime.availableProcessors}},"cores_conf":$cpus"""

    val head = results.filter(r => Headline.contains(r._1))
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qmap(head)},""" +
        s""""n_queries":${results.size},"passes":$passes,"max_pass_spread":${fmt(maxSpread)},""" +
        s"""$loadJson,"full":"bench_full.json","sf":"$sfDir"}"""

    spark.stop()
    // after stop(): the listener bus has delivered every event
    val traces = reported.map { case (n, e) =>
      "\"" + n + "\":" + Trace.toJson(
        ListMap("build_ms" -> Trace.ms(e.buildMs)) ++ trace.query(e.id).fields)
    }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qmap(results)},""" +
        s""""n_queries":${results.size},"passes":$passes,"max_pass_spread":${fmt(maxSpread)},""" +
        s"""$loadJson,"sf":"$sfDir","trace":$traces}"""
    Files.write(Paths.get("bench_full.json"), fullJson.getBytes(StandardCharsets.UTF_8))
    println(line)
    Console.out.flush()
  }
}
