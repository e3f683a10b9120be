package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.Replay

/** Measures the streaming state-store footprint of the two stateful
  * dedup families (st02 transformWithState owner map, st13
  * dropDuplicatesWithinWatermark) at sf0.1 and at the derived sf1
  * (10x rows, 10x distinct keys — built by [[ScaleStress.buildScaled]]).
  *
  * The 100 TB claim under test: RocksDB state grows with DISTINCT KEYS,
  * not with event volume — replaying each corpus with a 3x duplicate
  * amplification must leave state rows (and SST bytes) at the key count,
  * while input rows are 3x larger. Evidence comes from
  * `StreamingQueryProgress.stateOperators` (numRowsTotal, RocksDB
  * customMetrics) — the same numbers a production monitor scrapes.
  *
  * Run: `sbt -batch "Test/runMain graft.StreamingStateScale"`; emits one
  * markdown table (for SCALE.md) plus a JSONL dump.
  */
object StreamingStateScale {

  private val Sf01 = "/root/testdata/sf0.1"
  private val Sf1 = "target/sf1_derived"

  private case class Meas(query: String, sf: String, inputRows: Long,
                          batches: Int, maxBatchRows: Long,
                          distinctKeys: Long, stateRows: Long,
                          rocksdbSstBytes: Long, rocksdbMemBytes: Long)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    ScaleStress.buildScaled(spark, 10, Sf1)

    val out = new StringBuilder
    val rows = Seq(
      measureOwners(spark, "st02_owner_map", "sf0.1", Sf01),
      measureOwners(spark, "st02_owner_map", "sf1", Sf1),
      measureWatermarkDedup(spark, "st13_wm_dedup", "sf0.1", Sf01),
      measureWatermarkDedup(spark, "st13_wm_dedup", "sf1", Sf1),
      measureIntervalJoin(spark, "st18_interval_join", "sf0.1", Sf01),
      measureIntervalJoin(spark, "st18_interval_join", "sf1", Sf1),
      measureIntervalJoinBounded(spark, "st18_bounded_delay", "sf0.1", Sf01),
      measureIntervalJoinBounded(spark, "st18_bounded_delay", "sf1", Sf1),
      measureAsOfEnrich(spark, "st21_asof_enrich", "sf0.1", Sf01),
      measureAsOfEnrich(spark, "st21_asof_enrich", "sf1", Sf1),
      measureDriftPsi(spark, "st22_drift_psi", "sf0.1", Sf01),
      measureDriftPsi(spark, "st22_drift_psi", "sf1", Sf1),
      measureQuasiIdSizes(spark, "st23_k_anon", "sf0.1", Sf01),
      measureQuasiIdSizes(spark, "st23_k_anon", "sf1", Sf1),
      measureQualityGate(spark, "st24_quality_gate", "sf0.1", Sf01),
      measureQualityGate(spark, "st24_quality_gate", "sf1", Sf1),
      measureSessionWindow(spark, "st25_session_window", "sf0.1", Sf01),
      measureSessionWindow(spark, "st25_session_window", "sf1", Sf1))

    out ++= "| query | sf | input rows | batches | max rows/batch | distinct keys | state rows | RocksDB SST | RocksDB mem |\n"
    out ++= "|---|---|---|---|---|---|---|---|---|\n"
    rows.foreach { m =>
      out ++= f"| ${m.query} | ${m.sf} | ${m.inputRows}%,d | ${m.batches} | ${m.maxBatchRows}%,d | ${m.distinctKeys}%,d | ${m.stateRows}%,d | ${mb(m.rocksdbSstBytes)} | ${mb(m.rocksdbMemBytes)} |\n"
    }
    println(out.toString)
    rows.foreach { m =>
      println(s"""{"query":"${m.query}","sf":"${m.sf}","input_rows":${m.inputRows},""" +
        s""""batches":${m.batches},"max_batch_rows":${m.maxBatchRows},""" +
        s""""distinct_keys":${m.distinctKeys},"state_rows":${m.stateRows},""" +
        s""""rocksdb_sst_bytes":${m.rocksdbSstBytes},"rocksdb_mem_bytes":${m.rocksdbMemBytes}}""")
    }
    // the claims, asserted: dedup-family state rows == distinct keys at
    // BOTH scales despite the 3x duplicate amplification; the symmetric
    // join's state == TOTAL buffered rows (both sides, delay covers the
    // replay — its worst case, and why the delay is the sizing knob).
    // For the BOUNDED-delay rows the `distinct keys` column carries the
    // watermark-derived retention UPPER BOUND instead: state must land
    // at or under it, and far under the worst-case total (the plateau
    // claim the 100 TB sizing argument rests on — batch-exactness of
    // the bounded join is asserted inside its measure function).
    rows.foreach { m =>
      if (m.query.startsWith("st18_bounded") || m.query.startsWith("st21") ||
          m.query.startsWith("st22") || m.query.startsWith("st23") ||
          m.query.startsWith("st24") || m.query.startsWith("st25")) {
        require(m.stateRows > 0 && m.stateRows <= m.distinctKeys,
          s"${m.query}@${m.sf}: state rows ${m.stateRows} outside " +
            s"(0, bound ${m.distinctKeys}]")
      } else {
        require(m.stateRows == m.distinctKeys,
          s"${m.query}@${m.sf}: state rows ${m.stateRows} != expected ${m.distinctKeys}")
        if (!m.query.startsWith("st18"))
          require(m.inputRows >= 3 * m.distinctKeys,
            s"${m.query}@${m.sf}: amplification missing (${m.inputRows} input rows)")
      }
    }
    println("STATE-SCALE OK")
    spark.stop()
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%.1f MiB"

  /** st02 shape: transformWithState first-owner map over document text
    * digests, RocksDB provider, each doc delivered 3x. State keys =
    * distinct md5(text) digests.
    */
  private def measureOwners(outer: SparkSession, q: String, sf: String,
                            dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val src = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val feed = s"target/tmp/state_scale_${q}_$sf"
    // 3x amplification: the SAME (id, text) redelivered with shifted ids
    // (same text -> same state key). Range-split into 4 files so the
    // replay yields multiple micro-batches.
    src.unionByName(src.withColumn("doc_id", col("doc_id") + 20000000L))
      .unionByName(src.withColumn("doc_id", col("doc_id") + 40000000L))
      .repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(feed)
    val schema = s.read.parquet(feed).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val outDs = graft.streaming.Events.streamingDedupOwners(stream, "doc_id", "text")
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(outDs.writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    val distinctKeys = src.select(md5(col("text"))).distinct().count()
    harvest(q, sf, query.recentProgress.toSeq, distinctKeys)
  }

  /** st13 shape: dropDuplicatesWithinWatermark on event_id, each event
    * delivered 3x with jittered ts. State keys = distinct event ids
    * (nothing ages out under AvailableNow: the 31-day delay covers the
    * corpus span, which is the worst case for state size — exactly what
    * we want to measure).
    */
  private def measureWatermarkDedup(outer: SparkSession, q: String,
                                    sf: String, dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val MpM = graft.streaming.Events.MicrosPerMinute
    // readRaw normalizes ts to long microseconds (the raw parquet column
    // is TIMESTAMP_NTZ), matching the st13 driver query's feed shape
    val ev = graft.streaming.Events.readRaw(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val feed = s"target/tmp/state_scale_${q}_$sf"
    ev.unionByName(ev.withColumn("ts", col("ts") + lit(5L * MpM)))
      .unionByName(ev.withColumn("ts", col("ts") + lit(9L * MpM)))
      .repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(feed)
    val schema = "event_id LONG, ts LONG, event_type STRING, value DOUBLE"
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
      .withColumn("tst", expr("timestamp_micros(ts)"))
      .withWatermark("tst", "31 days")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete"))
    val distinctKeys = ev.select(col("event_id")).distinct().count()
    harvest(q, sf, query.recentProgress.toSeq, distinctKeys,
      opNameContains = Some("dedupe"))
  }

  /** st18 shape: symmetric-hash stream-stream interval join (views x
    * purchases, 30-min window) with a delay covering the whole replay —
    * the WORST case for join state: every row of both sides stays
    * buffered until the end, so state rows must equal views + purchases
    * exactly. The production sizing knob is the delay; this measures
    * the ceiling it bounds.
    */
  private def measureIntervalJoin(outer: SparkSession, q: String,
                                  sf: String, dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ev = graft.streaming.Events.readRaw(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val feed = s"target/tmp/state_scale_${q}_$sf"
    ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("timestamp_micros(ts)").as("view_ts"))
      .repartitionByRange(4, col("view_ts"))
      .write.mode("overwrite").parquet(s"$feed/v")
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        expr("timestamp_micros(ts)").as("p_ts"))
      .repartitionByRange(4, col("p_ts"))
      .write.mode("overwrite").parquet(s"$feed/b")
    val vS = s.readStream.schema(s.read.parquet(s"$feed/v").schema)
      .option("maxFilesPerTrigger", 2).parquet(s"$feed/v")
    val bS = s.readStream.schema(s.read.parquet(s"$feed/b").schema)
      .option("maxFilesPerTrigger", 2).parquet(s"$feed/b")
    val out = graft.streaming.Events.streamingIntervalJoin(
      vS, bS, "user_id", "p_user_id", "view_ts", "p_ts",
      windowSeconds = 1800L, watermark = "62 days")
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(out.select(col("view_id"), col("purchase_id"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    val buffered = s.read.parquet(s"$feed/v").count() +
      s.read.parquet(s"$feed/b").count()
    harvest(q, sf, query.recentProgress.toSeq, buffered,
      opNameContains = Some("join"))
  }

  /** The (views, buys) feed shared by the bounded-delay probes:
    * time-range-split into `files` parquet files per side so a
    * maxFilesPerTrigger=1 replay advances the watermark `files` times
    * and old join buffers actually EVICT mid-run.
    */
  private def timeOrderedFeed(s: SparkSession, dir: String, feed: String,
                              files: Int): Unit = {
    val ev = graft.streaming.Events.readRaw(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("timestamp_micros(ts)").as("view_ts"))
      .repartitionByRange(files, col("view_ts"))
      .write.mode("overwrite").parquet(s"$feed/v")
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        expr("timestamp_micros(ts)").as("p_ts"))
      .repartitionByRange(files, col("p_ts"))
      .write.mode("overwrite").parquet(s"$feed/b")
    Seq("v", "b").foreach(side => restampInOrder(s"$feed/$side"))
  }

  /** FileStreamSource admits files in MODIFICATION-TIME order, and one
    * batch write stamps every part file with the same mtime — leaving
    * admission order arbitrary, which under a short delay late-drops
    * whole files (the st13 disorder rule). Re-stamp strictly increasing
    * mtimes in range order (partition index == range rank under
    * repartitionByRange) so the replay is genuinely time-ordered. ONE
    * copy of the rule — every probe feed goes through here.
    */
  private def restampInOrder(dir: String): Unit = {
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val parts =
      try stream.toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      finally stream.close()
    parts.zipWithIndex.foreach { case (p, k) =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 60000L))
    }
  }

  /** Single-stream probe feed: time-range-split into `files` parquet
    * files with in-order mtimes.
    */
  private def writeSingleFeed(df: org.apache.spark.sql.DataFrame,
                              feed: String, files: Int): Unit = {
    df.repartitionByRange(files, col("ts"))
      .write.mode("overwrite").parquet(feed)
    restampInOrder(feed)
  }

  /** Open-tumbling-window retention UPPER BOUND at the lag-safe
    * watermark wmS = maxTs − delay − 2·(span/files): distinct windows
    * whose end is at or after wmS.
    */
  private def openWindowBound(s: SparkSession, feed: String,
                              windowMicros: Long, delayMicros: Long,
                              files: Int): Long = {
    val stats = s.read.parquet(feed)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head
    val (mn, mx) = (stats.getLong(0), stats.getLong(1))
    val wmS = mx - delayMicros - 2L * ((mx - mn) / files)
    s.read.parquet(feed)
      .filter(expr(s"(unix_micros(ts) div $windowMicros + 1) " +
        s"* $windowMicros >= $wmS"))
      .select((unix_micros(col("ts")) / windowMicros).cast("long"))
      .distinct().count()
  }

  /** Watermark-derived retention UPPER BOUND for the bounded-delay
    * probes. Final global watermark wmF = min(both sides' max ts) −
    * delay, but eviction can lag it by up to one admitted file per
    * side, so the bound is evaluated at wmS = wmF − 2 × (span / files):
    * kept views satisfy view_ts + window >= wmS (they can still match a
    * future purchase), kept purchases satisfy p_ts >= wmS (they can
    * still match a future view), open agg windows end at or after wmS.
    */
  private def retentionBound(s: SparkSession, feed: String, files: Int,
                             delayMicros: Long, windowMicros: Long,
                             aggWindowMicros: Long): Long = {
    val v = s.read.parquet(s"$feed/v")
    val b = s.read.parquet(s"$feed/b")
    def agg(df: org.apache.spark.sql.DataFrame, c: String, f: String => org.apache.spark.sql.Column) =
      df.agg(f(c)).head.getTimestamp(0).toInstant.toEpochMilli * 1000L
    val maxV = agg(v, "view_ts", c => max(col(c)))
    val maxB = agg(b, "p_ts", c => max(col(c)))
    val minV = agg(v, "view_ts", c => min(col(c)))
    val span = maxV.max(maxB) - minV
    val wmS = maxV.min(maxB) - delayMicros - 2L * (span / files)
    val keptV = v.filter(expr(s"unix_micros(view_ts) + $windowMicros >= $wmS")).count()
    val keptB = b.filter(expr(s"unix_micros(p_ts) >= $wmS")).count()
    // open tumbling agg windows (st21 only): matched purchases whose
    // window end is at or after wmS — bounded above by ALL purchases in
    // that tail, which is what we use (aggWindowMicros = 0 disables)
    val keptAgg =
      if (aggWindowMicros <= 0) 0L
      else b.filter(expr(
        s"(unix_micros(p_ts) div $aggWindowMicros + 1) * $aggWindowMicros >= $wmS")).count()
    keptV + keptB + keptAgg
  }

  /** st18 with a delay ≪ the replay span (1 h vs 30 days, 24 admitted
    * files per side): join state must PLATEAU at (delay + window +
    * admission granularity) × arrival rate — far under the buffered
    * total the worst-case row shows — while the emitted pair set stays
    * exactly the batch inner join (asserted here: eviction never drops
    * a live match, because delay > window covers every in-order pair).
    */
  private def measureIntervalJoinBounded(outer: SparkSession, q: String,
                                         sf: String, dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val feed = s"target/tmp/state_scale_${q}_$sf"
    val files = 24
    timeOrderedFeed(s, dir, feed, files)
    val vS = s.readStream.schema(s.read.parquet(s"$feed/v").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/v")
    val bS = s.readStream.schema(s.read.parquet(s"$feed/b").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/b")
    val out = graft.streaming.Events.streamingIntervalJoin(
      vS, bS, "user_id", "p_user_id", "view_ts", "p_ts",
      windowSeconds = 1800L, watermark = "1 hour")
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(out.select(col("view_id"), col("purchase_id"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    // batch-exactness under eviction: emitted pairs == the batch join
    val batch = s.read.parquet(s"$feed/v")
      .join(s.read.parquet(s"$feed/b"),
        col("user_id") === col("p_user_id") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 1800 SECONDS"))
      .select(col("view_id"), col("purchase_id"))
    val emitted = s.table(sink)
    require(emitted.count() == batch.count() &&
      emitted.exceptAll(batch).isEmpty && batch.exceptAll(emitted).isEmpty,
      s"$q@$sf: bounded-delay join output diverged from the batch join")
    val bound = retentionBound(s, feed, files,
      delayMicros = 3600L * 1000000L, windowMicros = 1800L * 1000000L,
      aggWindowMicros = 0L)
    harvest(q, sf, query.recentProgress.toSeq, bound,
      opNameContains = Some("join"))
  }

  /** st21 shape (streamingAsOfEnrich: interval join chained into the
    * windowed latest-prior argmax) under the driver query's own knobs
    * (30-min horizon, 1-h tumbling windows, 2-h delay) on the 24-file
    * time-ordered replay. State = join buffers + open agg windows,
    * summed across the operators; the bound column is the same
    * watermark-derived retention ceiling.
    */
  private def measureAsOfEnrich(outer: SparkSession, q: String,
                                sf: String, dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val feed = s"target/tmp/state_scale_${q}_$sf"
    val files = 24
    timeOrderedFeed(s, dir, feed, files)
    val vS = s.readStream.schema(s.read.parquet(s"$feed/v").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/v")
    val bS = s.readStream.schema(s.read.parquet(s"$feed/b").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/b")
    val out = graft.streaming.Events.streamingAsOfEnrich(
      vS, bS, "user_id", "p_user_id", "view_ts", "p_ts",
      probeIdCol = "purchase_id", quotePayload = Seq("view_id"),
      horizonSeconds = 1800L, windowDuration = "1 hour",
      watermark = "2 hours")
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(out.select(col("purchase_id"), col("view_id"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    require(s.table(sink).count() > 0, s"$q@$sf: no enriched rows emitted")
    val bound = retentionBound(s, feed, files,
      delayMicros = 2L * 3600L * 1000000L, windowMicros = 1800L * 1000000L,
      aggWindowMicros = 3600L * 1000000L)
    harvest(q, sf, query.recentProgress.toSeq, bound)
  }

  /** st22 shape: windowed PSI drift monitor — state is ONE row per OPEN
    * tumbling window (bins fold map-side into conditional sums; the
    * broadcast reference histogram holds no state), so state rows are
    * bounded by open windows — a TIME quantity, identical at sf0.1 and
    * sf1 even though sf1 feeds 10× the rows. The `distinct keys` column
    * carries the watermark-derived open-window UPPER BOUND.
    */
  private def measureDriftPsi(outer: SparkSession, q: String, sf: String,
                              dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val feed = s"target/tmp/state_scale_${q}_$sf"
    val files = 24
    writeSingleFeed(graft.streaming.Events.readRaw(s, dir)
      .filter(col("value").isNotNull)
      .select(expr("timestamp_micros(ts)").as("ts"), col("value")),
      feed, files)
    // reference histogram from the feed's first 7 days (the st22 recipe)
    val t0 = s.read.parquet(feed).agg(min(unix_micros(col("ts"))))
      .head.getLong(0)
    val bucket = least(greatest(
      floor(col("value") / 25.0).cast("long"), lit(0L)), lit(7L))
    val refRows = s.read.parquet(feed)
      .filter(unix_micros(col("ts")) < t0 + 7L * 86400000000L)
      .groupBy(bucket.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = (0 until 8).map(i => refRows.getOrElse(i.toLong, 0L))
    val src = s.readStream.schema(s.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val out = graft.streaming.Events.streamingDriftPsi(src, "value", "ts",
      ref, lo = 0.0, width = 25.0, windowDuration = "3 days",
      watermark = "1 day")
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(out.writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    require(s.table(sink).count() > 0, s"$q@$sf: no PSI windows emitted")
    harvest(q, sf, query.recentProgress.toSeq,
      openWindowBound(s, feed, 3L * 86400000000L, 86400000000L, files))
  }

  /** st23 shape: per-window quasi-identifier group sizes — state is one
    * row per (open window, observed combo): a CARDINALITY × time bound,
    * identical at sf0.1 and sf1 (10× the events, same combos, same
    * windows). `distinct keys` carries the bound = distinct combos ×
    * open windows at the lag-safe watermark.
    */
  private def measureQuasiIdSizes(outer: SparkSession, q: String,
                                  sf: String, dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val feed = s"target/tmp/state_scale_${q}_$sf"
    val files = 24
    writeSingleFeed(graft.streaming.Events.readRaw(s, dir)
      .select(expr("timestamp_micros(ts)").as("ts"), col("event_type"),
        coalesce(col("user_id") % 10, lit(-1L)).as("ub")),
      feed, files)
    val src = s.readStream.schema(s.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val out = graft.streaming.Events.streamingQuasiIdSizes(src, "ts",
      Seq("event_type", "ub"), "7 days", "1 day")
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(out.writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    require(s.table(sink).count() > 0, s"$q@$sf: no closed windows emitted")
    val combos = s.read.parquet(feed)
      .select(col("event_type"), col("ub")).distinct().count()
    harvest(q, sf, query.recentProgress.toSeq, combos *
      openWindowBound(s, feed, 7L * 86400000000L, 86400000000L, files))
  }

  /** st24 shape: streaming quality gate — scoring is MAP-ONLY (the
    * model is a literal map, no scoring state at all), so state is one
    * row per OPEN WINDOW: independent of event volume AND of model
    * size. The bound is the open-window count alone.
    */
  private def measureQualityGate(outer: SparkSession, q: String,
                                 sf: String, dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val feed = s"target/tmp/state_scale_${q}_$sf"
    val files = 24
    writeSingleFeed(graft.streaming.Events.readRaw(s, dir)
      .select(expr("timestamp_micros(ts)").as("ts"), col("props")),
      feed, files)
    val src = s.readStream.schema(s.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val out = graft.streaming.Events.streamingQualityGate(src, "ts",
      "props", graft.streaming.Events.demoQualityWeights, 0L,
      "7 days", "1 day")
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(out.writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    require(s.table(sink).count() > 0, s"$q@$sf: no closed windows emitted")
    harvest(q, sf, query.recentProgress.toSeq,
      openWindowBound(s, feed, 7L * 86400000000L, 86400000000L, files))
  }

  /** st25 shape: native session_window aggregation — state is one row
    * per OPEN session (sessions whose end the watermark has not passed);
    * the bound is computed exactly from the batch gap-and-islands view
    * of the same feed. Event volume beyond the open horizon never
    * touches the store.
    */
  private def measureSessionWindow(outer: SparkSession, q: String,
                                   sf: String, dir: String): Meas = {
    val s = GraftSession.streamSession(outer)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val feed = s"target/tmp/state_scale_${q}_$sf"
    val files = 24
    writeSingleFeed(graft.streaming.Events.readRaw(s, dir)
      .select(expr("timestamp_micros(ts)").as("ts"), col("user_id")),
      feed, files)
    val src = s.readStream.schema(s.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val out = src.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val sink = "state_scale_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = Replay.drain(out.writeStream.format("memory").queryName(sink)
      .outputMode("append"))
    require(s.table(sink).count() > 0, s"$q@$sf: no closed sessions emitted")
    // exact open-session bound from the batch gap-islands view: sessions
    // whose end (last + gap) the final watermark (max - delay) has NOT
    // strictly passed are still open
    val open = s.read.parquet(feed)
      .selectExpr("user_id", "unix_micros(ts) AS tus")
      .withColumn("__brk", when(coalesce(col("tus") -
        lag(col("tus"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tus"))),
        lit(Long.MaxValue)) > 1800000000L, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__brk")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("tus")).rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("__sid"))
      .agg((max(col("tus")) + 1800000000L).as("__we"))
      .crossJoin(broadcast(s.read.parquet(feed)
        .agg(max(expr("unix_micros(ts)")).as("__t1"))))
      .filter(!(col("__we") < col("__t1") - 3600000000L))
      .count()
    harvest(q, sf, query.recentProgress.toSeq, open)
  }

  /** Fold a progress sequence into totals. `opNameContains` picks the
    * dedup operator by name when the query has several stateful
    * operators (st13 also carries the complete-mode agg's state).
    */
  private def harvest(q: String, sf: String,
                      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                      distinctKeys: Long,
                      opNameContains: Option[String] = None): Meas = {
    val withInput = progress.filter(_.numInputRows > 0)
    val inputRows = withInput.map(_.numInputRows).sum
    val maxBatch = if (withInput.isEmpty) 0L else withInput.map(_.numInputRows).max
    val lastState = progress.reverse
      .find(_.stateOperators.nonEmpty)
      .map { p =>
        val ops = p.stateOperators.toSeq
        opNameContains match {
          case Some(frag) =>
            val hit = ops.filter(o =>
              Option(o.operatorName).exists(_.toLowerCase.contains(frag)))
            require(hit.nonEmpty,
              s"no state operator matching '$frag' in ${ops.map(_.operatorName).mkString(",")}")
            hit
          case None => ops
        }
      }
      .getOrElse(Seq.empty)
    def metric(name: String): Long =
      lastState.map { o =>
        val m = o.customMetrics
        if (m != null && m.containsKey(name)) m.get(name).longValue() else 0L
      }.sum
    Meas(q, sf, inputRows, withInput.size, maxBatch, distinctKeys,
      lastState.map(_.numRowsTotal).sum,
      metric("rocksdbSstFileSize"), metric("rocksdbTotalMemoryUsage"))
  }
}
