package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One event's session assignment from [[Events.streamingSessionize]]. */
case class SessionOut(user_id: Long, event_id: Long, session_seq: Long)

/** Keyed session state: last event time + running session counter. */
case class SessState(lastTsMicros: Long, seq: Long)

/** One (doc, band) bucket-claim flag from
  * [[Events.streamingNearDupFlags]]; `dup_of == doc_id` means this doc
  * claimed the bucket (no earlier owner).
  */
case class BandFlag(doc_id: Long, band: Int, dup_of: Long)

/** Per-arrival dedup verdict from [[Events.streamingDedupOwners]]:
  * `owner_id` is the first document that carried this content
  * (owner_id == doc_id for the first arrival, is_dup == false).
  */
case class DupVerdict(doc_id: Long, owner_id: Long, is_dup: Boolean)

/** transformWithState processor backing [[Events.streamingSessionizeTws]]:
  * per-user (lastTs, seq) ValueState plus ONE event-time timer at
  * lastTs + gap. When the watermark passes the timer, no in-order event
  * can extend the session — state is CLEARED, so per-user state lives
  * only while the user is active plus one gap (the boundedness the
  * NoTimeout flatMapGroupsWithState variant cannot offer). Trade-off,
  * documented: a user who returns after state reclamation restarts
  * session numbering at 1.
  */
class SessionizeTwsProcessor(gapMicros: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Long, Long), SessionOut] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[SessState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SessState]("sess",
      org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)

  override def handleInputRows(userId: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Long, Long)],
      timers: TimerValues): Iterator[SessionOut] = {
    val sorted = rows.toArray.sortBy(t => (t._3, t._4))
    var s = if (st.exists()) st.get() else SessState(Long.MinValue, 0L)
    val out = sorted.map { case (_, _, tsu, eid) =>
      val fresh = s.lastTsMicros == Long.MinValue || tsu - s.lastTsMicros > gapMicros
      s = SessState(tsu, if (fresh) s.seq + 1 else s.seq)
      SessionOut(userId, eid, s.seq)
    }
    st.update(s)
    // single live timer per user: re-arm at the new session horizon,
    // rounding the micros->millis conversion UP so state never clears
    // before the exact-micros gap predicate would still extend it
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer((s.lastTsMicros + gapMicros + 999L) / 1000L)
    out.iterator
  }

  override def handleExpiredTimer(userId: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[SessionOut] = {
    st.clear()
    Iterator.empty
  }
}

/** transformWithState processor backing [[Events.streamingDedupOwners]]:
  * one ValueState[Long] (owner id) per distinct content digest.
  * TTLConfig controls state eviction — pass a duration to bound state on
  * unbounded streams (re-arrivals after expiry look fresh, the standard
  * TTL dedup trade-off), TTLConfig.NONE for exact forever-dedup.
  */
class FirstOwnerProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), DupVerdict] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ValueState}

  @transient private var owner: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    owner = getHandle.getValueState[Long]("owner",
      org.apache.spark.sql.Encoders.scalaLong, ttl)

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                               timers: TimerValues): Iterator[DupVerdict] = {
    // lowest doc id claims within a batch, so results are independent of
    // partition arrival order (same contract as streamingNearDupFlags)
    val ids = rows.map(_._2).toArray.sorted
    val own = if (owner.exists()) owner.get() else ids.head
    owner.update(own)
    ids.iterator.map(id => DupVerdict(id, own, id != own))
  }
}

/** Per-user funnel verdict from [[Events.streamingFunnel]]: 0/1 flags
  * for reaching each stage in strictly-increasing event-time order.
  */
case class FunnelOut(user_id: Long, reached_1: Long, reached_2: Long,
                     reached_3: Long)

/** Event-stream processing over the `events` table.
  *
  * The reference has no streaming semantics at all (SURVEY §2.10: its
  * "streaming" is out-of-core batch input) — this module is the
  * capability extension: event-time tumbling windows and sessionization,
  * in both batch form (oracle-checkable) and Structured Streaming form
  * (watermarked, incremental, for live pipelines).
  */
object Events {

  /** Epoch-time constants for integer bucket arithmetic over the
    * canonical MICROS `ts` long produced by [[readRaw]]. Every raw time
    * bucket in the repo goes through these (grep gate in EventsSpec), so
    * a future fixture unit change is a one-place fix.
    */
  val MicrosPerSecond: Long = 1000000L
  val MicrosPerMinute: Long = 60L * MicrosPerSecond
  val MicrosPerHour: Long   = 60L * MicrosPerMinute
  val MicrosPerDay: Long    = 24L * MicrosPerHour

  /** The nanos-era fallback schema: the original fixture stored
    * TIMESTAMP(NANOS), which Spark's schema conversion rejects
    * (PARQUET_TYPE_ILLEGAL), but an EXPLICIT LongType user schema reads
    * the INT64 physical values directly.
    */
  private val EventsNanosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The events table through the session [[graft.api.Catalog]], or None
    * when its parquet stores `ts` with the TIMESTAMP(NANOS) logical type —
    * detected by whether Spark's native schema inference accepts the
    * footer. The fixture has existed in both encodings (TESTDATA.md
    * notwithstanding), so the readers probe the actual file instead of
    * assuming either unit. One catalog lookup serves both the probe and the
    * read. A rejected footer (or a non-timestamp `ts`) means NANOS; the
    * catalog never caches a failed inference, so such a footer is
    * re-probed on every call (footer metadata only, no data scan).
    */
  private def microsTable(spark: SparkSession, path: String): Option[DataFrame] =
    scala.util.Try(graft.api.Catalog.parquet(spark, path)).filter { df =>
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.TimestampNTZType => true
        case _: org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
    }.toOption

  /** The events corpus with `ts` as canonical epoch-MICROS long —
    * unit-robust: probes the parquet logical type and normalizes either
    * encoding (native timestamp[us], or the legacy TIMESTAMP(NANOS) read
    * through an explicit LongType schema) to the same micros longs.
    * Integer micros (not doubles, not nanos) are the repo-wide raw time
    * unit: they fit exact-integer double range concerns (see Resample)
    * and convert losslessly to timestamp via timestamp_micros.
    */
  def readRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    microsTable(spark, path) match {
      // NTZ -> LTZ cast is lossless under the UTC session timezone
      case Some(df) => df.withColumn("ts", unix_micros(col("ts").cast("timestamp")))
      case None => spark.read.schema(EventsNanosSchema).parquet(path)
        .withColumn("ts", expr("ts div 1000"))
    }
  }

  /** Read the events corpus with `ts` as a micro-precision NTZ
    * timestamp (the canonical typed form; lossless for either fixture
    * encoding — the corpus has no sub-microsecond components).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    readRaw(spark, dir)
      .withColumn("ts", expr("cast(timestamp_micros(ts) as timestamp_ntz)"))

  /** Streaming read of the events corpus (parquet file source) — the
    * same `ts` normalization as the batch [[read]], for replaying the
    * corpus through the streaming operators.
    *
    * The corpus is a single parquet FILE in a read-only dir but the file
    * stream source requires a directory — bridged by [[Replay.linkDir]].
    */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    readStreamRaw(spark, dir)
      .withColumn("ts", expr("cast(timestamp_micros(ts) as timestamp_ntz)"))

  /** Streaming read with `ts` as canonical epoch-MICROS long (the batch
    * [[readRaw]] analog) — for pipelines that stay in integer time
    * arithmetic end to end. The unit probe runs on the batch footer
    * (streaming sources need the schema up front).
    */
  def readStreamRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    microsTable(spark, path) match {
      case Some(df) => spark.readStream.schema(df.schema)
        .parquet(Replay.linkDir(path))
        .withColumn("ts", unix_micros(col("ts").cast("timestamp")))
      case None => spark.readStream.schema(EventsNanosSchema)
        .parquet(Replay.linkDir(path))
        .withColumn("ts", expr("ts div 1000"))
    }
  }

  /** Tumbling event-time aggregation (batch). */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
      .orderBy(col("h"), col("event_type"))

  /** Daily new-vs-returning rollup over RAW (micros-long ts) events: per
    * epoch-day, events, exact active users, first-seen ("new") users and
    * the cumulative user count — the growth-accounting card. Two keyed
    * aggregations (user first-seen, daily totals); the cumulative sum
    * windows over the #days-sized rollup only, never the event volume.
    * Day arithmetic stays integral (micros DIV, the Events discipline).
    */
  def dailyNewUsers(events: DataFrame): DataFrame = {
    val ev = events.select(expr(s"ts div $MicrosPerDay").as("day"),
      col("user_id"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("day")).as("fday"))
    val daily = ev.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_active"))
    val newU = firstSeen.groupBy(col("fday").as("day"))
      .agg(count(lit(1)).as("n_new"))
    daily.join(newU, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users", sum(col("n_new")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("day"))
  }

  /** Gap-based sessionization (batch): a session breaks after
    * `gapMinutes` of user inactivity. One shuffle on user_id; the two
    * window functions share the same partitioning.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    val gap = make_dt_interval(lit(0), lit(0), lit(gapMinutes), lit(0))
    val newSession = when(prevTs.isNull || (col("ts") - prevTs) > gap, 1)
      .otherwise(0)
    events
      .withColumn("session_seq",
        sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("event_id"), col("ts"), col("session_seq"))
  }


  /** Ordered-stage funnel over gap sessions: for each session, whether it
    * reached stage 1, stages 1→2 in order, 1→2→3 in order, … A stage
    * counts only if it occurs at-or-after the session's first qualifying
    * occurrence of the previous stage (classic conversion-funnel
    * semantics, evaluated in (ts, event_id) session order).
    *
    * Implementation: one running-min window per stage, all over the same
    * (user, session) partitioning and sort. Catalyst satisfies the
    * per-session windows' clustering with the user-keyed exchange already
    * in place for session numbering (user partitioning colocates every
    * session of a user), so the whole funnel — numbering, k stage
    * windows, and the per-session rollup — costs exactly ONE shuffle,
    * independent of stage count (pinned by PlanSpec).
    *
    * Output: one row per session — (user_id, session_seq,
    * reached_1..reached_k as 0/1 longs).
    */
  def sessionFunnel(events: DataFrame, stages: Seq[String],
                    gapMinutes: Int = 30): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    val gap = make_dt_interval(lit(0), lit(0), lit(gapMinutes), lit(0))
    val newSession = when(prevTs.isNull || (col("ts") - prevTs) > gap, 1)
      .otherwise(0)
    val sessed = events
      .withColumn("session_seq",
        sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val ws = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val staged = stages.zipWithIndex.foldLeft(sessed) {
      case (df, (stage, i)) =>
        val qualifies =
          if (i == 0) col("event_type") === stage
          else col("event_type") === stage && col(s"__s$i").isNotNull
        df.withColumn(s"__s${i + 1}",
          min(when(qualifies, col("ts"))).over(ws))
    }
    staged.groupBy(col("user_id"), col("session_seq"))
      .agg(stages.indices.map(i =>
        max(when(col(s"__s${i + 1}").isNotNull, 1L).otherwise(0L))
          .as(s"reached_${i + 1}")).head,
        stages.indices.tail.map(i =>
          max(when(col(s"__s${i + 1}").isNotNull, 1L).otherwise(0L))
            .as(s"reached_${i + 1}")): _*)
  }

  /** Stateful Structured Streaming sessionization: per-user gap sessions
    * with explicit keyed state (`flatMapGroupsWithState`). State per user
    * is 16 bytes (last event time + session counter) — bounded regardless
    * of stream length; processing-time timeout is the eviction hook for
    * idle users at production scale.
    *
    * Within a micro-batch each user's new events are sorted by
    * (ts, event_id) before assignment, so a replay of a finite input in
    * one batch agrees exactly with the batch [[sessionize]].
    */
  def streamingSessionize(events: DataFrame, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L

    def assign(userId: Long, it: Iterator[(Long, Long, Long)],
               state: GroupState[SessState]): Iterator[SessionOut] = {
      val sorted = it.toArray.sortBy { case (_, ts, eid) => (ts, eid) }
      var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
      val out = sorted.map { case (_, ts, eid) =>
        val newSession = st.lastTsMicros == Long.MinValue ||
          ts - st.lastTsMicros > gapMicros
        st = SessState(ts, if (newSession) st.seq + 1 else st.seq)
        SessionOut(userId, eid, st.seq)
      }
      state.update(st)
      out.iterator
    }

    events
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tsu"),
        col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(assign)
  }

  /** Streaming exact deduplication: drop any row whose content digest was
    * already seen — across micro-batch boundaries — keeping the first
    * arrival. The standard ingest-side scrub for a continuously arriving
    * document stream. State is one 16-byte digest per distinct content;
    * for unbounded streams set a watermark upstream and pass
    * `withinWatermark = true` so expired digests are evicted
    * (dropDuplicatesWithinWatermark) and state stays bounded.
    */
  def streamingDedupExact(stream: DataFrame, contentCol: String,
                          withinWatermark: Boolean = false): DataFrame = {
    val hashed = stream.withColumn("__content_hash", md5(col(contentCol)))
    val dedup =
      if (withinWatermark) hashed.dropDuplicatesWithinWatermark("__content_hash")
      else hashed.dropDuplicates("__content_hash")
    dedup.drop("__content_hash")
  }

  /** Sessionization on the arbitrary-state v2 API with BOUNDED state:
    * same per-user gap semantics as [[streamingSessionize]], but an
    * event-time timer clears each user's state once the watermark
    * passes lastTs + gap (see [[SessionizeTwsProcessor]]). Requires the
    * RocksDB state store provider and an event-time watermark (set
    * here). Gap comparisons run on exact micros; the timer fires at ms
    * granularity (Spark's timer unit).
    */
  def streamingSessionizeTws(events: DataFrame, gapMinutes: Int,
                             watermark: String = "10 minutes")
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes.toLong * 60L * 1000000L
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("tsu"), col("event_id").cast("long"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionizeTwsProcessor(gapMicros),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming exact dedup on the arbitrary-state v2 API
    * (transformWithState): every arrival gets a verdict row (doc_id,
    * owner_id, is_dup) instead of being silently dropped, so downstream
    * can count/audit duplicates or route them. State is one long per
    * distinct content digest, held in the RocksDB state store (the v2
    * API requires it — set
    * spark.sql.streaming.stateStore.providerClass to
    * RocksDBStateStoreProvider), which spills to disk instead of
    * growing the JVM heap — the right store for corpus-scale digest
    * sets. Pass `ttl` to bound state for unbounded streams.
    */
  def streamingDedupOwners(stream: DataFrame, idCol: String,
                           contentCol: String,
                           ttl: org.apache.spark.sql.streaming.TTLConfig =
                             org.apache.spark.sql.streaming.TTLConfig.NONE)
      : org.apache.spark.sql.Dataset[DupVerdict] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(md5(col(contentCol)).as("h"), col(idCol).cast("long").as("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new FirstOwnerProcessor(ttl),
        TimeMode.None(), OutputMode.Append())
  }

  /** Structured Streaming variant of [[hourlyTypeCounts]]: watermarked
    * tumbling windows, append-mode compatible. Feed it
    * `spark.readStream.schema(...).parquet(dir)`.
    */
  def streamingHourlyTypeCounts(events: DataFrame,
                                watermark: String = "2 hours"): DataFrame =
    events
      // watermarks require TIMESTAMP (LTZ); lossless under the UTC session
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("sv"))

  /** Streaming windowed aggregation for APPEND mode: identical agg to
    * [[streamingHourlyTypeCounts]] but projecting the window END, the
    * handle append-mode consumers key on — a window is emitted exactly
    * once, when the watermark (max event time − delay) passes its end,
    * and never revised after. This is the production shape for unbounded
    * streams: state for a window is dropped at emission, so executor
    * state is bounded by (open windows × event types) regardless of
    * stream length, where Complete mode would retain and re-emit the
    * full history every trigger.
    *
    * Emission at the end of an AvailableNow replay relies on Spark's
    * final no-data micro-batch flushing windows closed by the last
    * watermark update (verified: emitted set == batch windows with
    * end <= max(ts) − delay, boundary inclusive).
    */
  def streamingHourlyClosed(events: DataFrame,
                            watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
      .select(col("window.end").as("h_end"), col("event_type"), col("n"),
        col("sv"))

  /** NATIVE session windows (`session_window`, Spark's built-in
    * gap-merge aggregation) — the engine-managed counterpart of
    * [[streamingSessionize]]'s hand-rolled flatMapGroupsWithState
    * state machine: Spark merges overlapping [ts, ts+gap) ranges per
    * key in the state store and append-mode emits a session once the
    * watermark passes its end (last event + gap). State is one range
    * per OPEN session per key — smaller than the per-event custom
    * state, and the merge is engine code, not ours. Boundary note:
    * Spark merges strictly (an event exactly `gap` after the previous
    * one starts a NEW session) while the batch sessionizer's `diff >
    * gap` keeps it — equivalence holds when no exact-gap pair exists,
    * which the driver corpus satisfies (probed at every SF).
    */
  def streamingSessionWindows(events: DataFrame, gapMinutes: Int = 30,
                              watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"), col("cents"))

  /** Sliding-window (2 h window / 30 min slide) event counts — the
    * rolling-rate monitor shape. Every event lands in exactly
    * window/slide = 4 overlapping epoch-aligned windows; Spark expands
    * the event into its windows BEFORE the aggregation shuffle, so state
    * is (open windows × event types) — 4× the tumbling footprint, still
    * independent of stream length once the watermark drops closed
    * windows (append mode); the finite-replay harness runs Complete for
    * the same no-tail-loss reason as [[streamingHourlyTypeCounts]].
    */
  def streamingSlidingTypeCounts(events: DataFrame,
                                 watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Streaming conversion funnel with keyed state: per user, the
    * earliest time each of THREE stages was reached, where stage i
    * counts only STRICTLY AFTER stage i-1's time (ties don't advance —
    * the unambiguous cross-engine semantics; a batch `min(ts) WHERE
    * type = stage AND ts > prev_stage_ts` chain derives the same
    * values). State per user is three longs; each micro-batch emits the
    * user's current verdict, so run Append over a finite replay (one
    * row per user) or consume the latest row per user downstream.
    *
    * Within a micro-batch events process in (ts, event_id) order;
    * cross-batch OUT-OF-ORDER arrivals older than an already-set stage
    * time are ignored (state only moves forward) — the same trade
    * streamingSessionize documents. `stages` must be three distinct
    * event types.
    */
  def streamingFunnel(events: DataFrame, stages: Seq[String])
      : org.apache.spark.sql.Dataset[FunnelOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(stages.size == 3 && stages.distinct.size == 3,
      "streamingFunnel is shaped for 3 distinct stages")
    val spark = events.sparkSession
    import spark.implicits._
    val unset = Long.MinValue

    def advance(user: Long, it: Iterator[(Long, Long, Long, String)],
                state: GroupState[Seq[Long]]): Iterator[FunnelOut] = {
      val sorted = it.toArray.sortBy { case (_, ts, eid, _) => (ts, eid) }
      var st = state.getOption.getOrElse(Seq.fill(3)(unset))
      sorted.foreach { case (_, ts, _, typ) =>
        val i = stages.indexOf(typ)
        if (i >= 0 && st(i) == unset &&
          (i == 0 || (st(i - 1) != unset && ts > st(i - 1))))
          st = st.updated(i, ts)
      }
      state.update(st)
      Iterator.single(FunnelOut(user,
        if (st(0) != unset) 1L else 0L,
        if (st(1) != unset) 1L else 0L,
        if (st(2) != unset) 1L else 0L))
    }

    events
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tsu"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(advance)
  }

  /** Streaming MinHash/LSH near-duplicate detection: for every incoming
    * document, report per LSH band whether its band bucket was already
    * claimed by an earlier document — across micro-batch boundaries.
    * `dup_of == doc_id` marks the claim (this doc now owns the bucket);
    * otherwise `dup_of` is the owning document. The band key is the batch
    * [[graft.ops.Dedup.minhashCandidates]]' own `Dedup.bandBuckets`
    * (xxhash64 over the band's signature slice), so a finite stream
    * replayed in one batch produces exactly the batch candidate relation.
    *
    * Keyed state is ONE long (owner id) per distinct occupied bucket —
    * bands × corpus-distinct buckets, independent of stream length for a
    * dup-heavy stream. Within a batch the lowest doc id claims first, so
    * results don't depend on partition arrival order. Re-arrivals of the
    * SAME doc id look fresh to their own buckets (dup_of == doc_id) —
    * run [[streamingDedupExact]] upstream to scrub exact re-deliveries.
    *
    * Ids must be numeric (cast to long).
    */
  def streamingNearDupFlags(stream: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleK: Int = 5,
                            seed: Long = graft.functions.Registry.DefaultSeed)
      : org.apache.spark.sql.Dataset[BandFlag] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val banded = graft.ops.Dedup.minhashSignatures(
        stream, idCol, textCol, numHashes, shingleK, seed)
      .select(col(idCol).cast("long").as("id"),
        graft.ops.Dedup.bandBuckets(col("sig"), numHashes, bands))
      .as[(Long, Int, Long)]

    // keyed on the (band, bhash) PAIR — identical to the batch banding
    // key, so a cross-band 64-bit hash collision cannot manufacture a
    // candidate the batch path would not produce
    def claim(bucket: (Int, Long), it: Iterator[(Long, Int, Long)],
              state: GroupState[Long]): Iterator[BandFlag] = {
      val sorted = it.toArray.sortBy(_._1)
      var owner = state.getOption.getOrElse(Long.MinValue)
      val out = sorted.map { case (id, band, _) =>
        if (owner == Long.MinValue) owner = id
        BandFlag(id, band, owner)
      }
      state.update(owner)
      out.iterator
    }

    banded.groupByKey(t => (t._2, t._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(claim)
  }

  /** STREAM-STREAM interval join: every left event joined to the right
    * events of the same key whose time falls in
    * `[leftTime, leftTime + windowSeconds]` — the attribution join
    * (view -> purchases within the window) as two live streams, the one
    * join shape Structured Streaming can run unboundedly.
    *
    * Both sides carry a watermark, and the join condition bounds the
    * time range — together they let Spark EVICT buffered rows once the
    * other side's watermark passes their window, so state is
    * O(events inside the watermark delay) per side, not
    * events-ever-seen. Inner-join rows emit as soon as both sides have
    * arrived; nothing waits for window close.
    *
    * Contracts: both time columns must be TIMESTAMP-typed event time,
    * with DISTINCT names (rename before calling — the joined row carries
    * both), and the key columns distinct likewise. At 100 TB the state
    * bound is the product of watermark delay and per-key arrival rate —
    * the knob is the delay, same as every stateful family here. The
    * delay must also cover the FEED's disorder on replay (files admit
    * in arbitrary order — st13's rule), and an event AT exactly epoch 0
    * equals the initial watermark and is input-filtered as late (probed;
    * real corpora never sit at epoch zero).
    *
    * `joinType = "left_outer"` keeps unmatched left rows with nulls;
    * an outer row only EMITS once the watermark proves no match can
    * still arrive (leftTime + window below the global watermark =
    * min(both sides' max event time) − delay), so on a finite replay
    * the left rows newer than that boundary never emit at all — the
    * st04 emission-boundary discipline, and exactly what the st19
    * oracle mirrors.
    */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
                            leftKeyCol: String, rightKeyCol: String,
                            leftTimeCol: String, rightTimeCol: String,
                            windowSeconds: Long,
                            watermark: String = "31 days",
                            joinType: String = "inner"): DataFrame = {
    require(leftTimeCol != rightTimeCol,
      "rename one time column: the joined row carries both")
    require(leftKeyCol != rightKeyCol,
      "rename one key column: the joined row carries both")
    require(joinType == "inner" || joinType == "left_outer",
      s"stream-stream interval join supports inner | left_outer, got $joinType")
    val l = left.withWatermark(leftTimeCol, watermark)
    val r = right.withWatermark(rightTimeCol, watermark)
    l.join(r,
      col(leftKeyCol) === col(rightKeyCol) &&
        col(rightTimeCol) >= col(leftTimeCol) &&
        col(rightTimeCol) <=
          col(leftTimeCol) + expr(s"INTERVAL $windowSeconds SECONDS"),
      joinType)
  }

  /** STREAMING ASOF enrichment: each probe row picks the LATEST quote
    * row of the same key whose time falls in
    * `[probeTime − horizonSeconds, probeTime]` — AsOf backward-join
    * semantics (latest prior, inclusive) as two live streams. The
    * nearest-prior-ROW analog of the st20 nearest-site enrichment, and
    * the composition the batch [[graft.ops.AsOf]] family promises at
    * the stream surface: last-touch attribution, latest-quote trade
    * enrichment, latest-config event tagging.
    *
    * Mechanics — two chained stateful operators (Spark 3.5+ machinery):
    * the [[streamingIntervalJoin]] emits (quote, probe) candidate pairs
    * as both sides arrive (quotes = LEFT side, so the join's
    * `[leftTime, leftTime+window]` range is exactly the probe-centric
    * prior window), then a windowed aggregation keyed by the probe id
    * picks `max(struct(quoteTime, payload...))` — the latest prior
    * quote, ties broken by the lexicographic struct order on the
    * payload, no rank/window function and no per-pair state beyond the
    * group row. The aggregation runs in append mode; its EMISSION
    * boundary is the global watermark (min of both sides' max event
    * time − delay) MINUS `horizonSeconds`: watermark propagation
    * through the interval join delays the event-time column the
    * downstream aggregation sees by the join's time-range bound, so a
    * window emits iff `window_end < wm − horizonSeconds`, STRICTLY — a
    * window ending exactly at that boundary is held back (empirically
    * pinned in StreamingAsOfSpec, which distinguishes this from the
    * naive `end < wm` reading). The st19 emission-boundary discipline;
    * on a finite replay, probes newer than that boundary never emit. Probes with NO
    * prior quote in the horizon never enter the inner join and are
    * absent, matching strict ASOF JOIN.
    *
    * State scale: the join side is O(events inside the watermark delay)
    * per side (the st18 bound); the aggregation holds one in-flight row
    * per probe whose window the watermark has not yet closed — bounded
    * by windowDuration + delay worth of probes, independent of history.
    *
    * Contracts: distinct key/time column names across the two inputs
    * (the joined row carries both); `probeIdCol` unique per probe row;
    * `quotePayload` columns must exist on `quotes`.
    */
  def streamingAsOfEnrich(quotes: DataFrame, probes: DataFrame,
                          quoteKeyCol: String, probeKeyCol: String,
                          quoteTimeCol: String, probeTimeCol: String,
                          probeIdCol: String, quotePayload: Seq[String],
                          horizonSeconds: Long,
                          windowDuration: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame = {
    val joined = streamingIntervalJoin(
      quotes, probes, quoteKeyCol, probeKeyCol, quoteTimeCol, probeTimeCol,
      horizonSeconds, watermark)
    val pick = struct((quoteTimeCol +: quotePayload).map(col): _*)
    joined
      .groupBy(window(col(probeTimeCol), windowDuration),
        col(probeKeyCol), col(probeIdCol))
      .agg(max(pick).as("__w"))
      .select(col(probeKeyCol) +: col(probeIdCol) +:
        quotePayload.map(c => col(s"__w.$c").as(c)): _*)
  }

  /** STREAMING drift monitor (st22): per tumbling event-time window, the
    * Population Stability Index of the live value distribution against a
    * FIXED reference histogram — "is today's traffic still shaped like
    * the training corpus", emitted continuously. The streaming
    * counterpart of [[graft.ops.Profile.psi]].
    *
    * Mechanics: ONE windowed aggregation builds the per-window histogram
    * as `bins` conditional sums (no per-bucket grouping key, so state is
    * one row per OPEN window — the smallest stateful footprint possible
    * here), and the PSI folds map-side against the broadcast-literal
    * reference counts with the same ε-clamped mirrored chain Profile.psi
    * uses. `refCounts` is the reference histogram (length `bins`,
    * typically a bounded batch-side collect over the training slice —
    * the centroids discipline); values bucket as
    * `clamp(floor((v − lo) / width), 0, bins−1)`, nulls dropped. Append
    * mode: a window's PSI row emits once the watermark STRICTLY passes
    * its end (the st21 boundary). Output: (window_start TIMESTAMP,
    * n_cur, psi).
    */
  def streamingDriftPsi(stream: DataFrame, valueCol: String, tsCol: String,
                        refCounts: Seq[Long], lo: Double, width: Double,
                        windowDuration: String,
                        watermark: String): DataFrame = {
    require(refCounts.nonEmpty && refCounts.forall(_ >= 0L),
      "refCounts must be non-negative")
    require(width > 0, "width must be positive") // Profile.psi's guard:
    // width 0 makes the bucket NULL (non-ANSI divide), every histogram
    // cell 0, and the PSI silently meaningless
    val bins = refCounts.size
    val refTotal = refCounts.sum
    require(refTotal > 0, "reference histogram is empty")
    val eps = 1e-6
    val bucket = least(greatest(
      floor((col(valueCol) - lo) / width).cast("long"), lit(0L)),
      lit(bins - 1L))
    val aggs = count(lit(1)).as("n_cur") +:
      (0 until bins).map(i =>
        sum(when(bucket === i.toLong, 1L).otherwise(0L)).as(s"__c$i"))
    val hist = stream
      .filter(col(valueCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(aggs.head, aggs.tail: _*)
    val psi = (0 until bins).map { i =>
      val pa = greatest(lit(refCounts(i).toDouble / refTotal), lit(eps))
      val pb = greatest(col(s"__c$i") / col("n_cur"), lit(eps))
      (pa - pb) * log(pa / pb)
    }.reduce(_ + _)
    hist.select(col("window.start").as("window_start"), col("n_cur"),
      round(psi, 6).as("psi"))
  }

  /** Per-document near-dup verdict over [[streamingNearDupFlags]]: a doc
    * is flagged when ANY of its band buckets was already owned (the
    * aggressive drop-on-first-collision setting; collided_bands lets
    * callers re-threshold). Downstream streaming aggregation after the
    * Append-mode flatMapGroupsWithState — run the sink in Update mode.
    *
    * State budget: the bucket-owner state upstream is bounded by distinct
    * occupied buckets, but THIS per-doc_id aggregation has no watermark
    * (band flags carry no event time), so its state grows linearly with
    * every document ever seen for the lifetime of the query. For
    * long-running deployments either bound the run (restart per corpus
    * epoch) or consume [[streamingNearDupFlags]] directly and aggregate
    * per micro-batch in foreachBatch, where the per-doc rollup is a plain
    * batch groupBy with no retained state.
    */
  def streamingNearDup(stream: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5,
                       seed: Long = graft.functions.Registry.DefaultSeed)
      : DataFrame =
    streamingNearDupFlags(stream, idCol, textCol, numHashes, bands, shingleK, seed)
      .toDF()
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("dup_of") =!= col("doc_id"), 1).otherwise(0))
          .as("collided_bands"),
        min(when(col("dup_of") =!= col("doc_id"), col("dup_of"))).as("dup_of"))
      .select(col("doc_id"), (col("collided_bands") > 0).as("is_dup"),
        col("collided_bands"), col("dup_of"))

  /** Streaming quasi-identifier GROUP SIZES (st23): per closed tumbling
    * window, the size of every quasi-identifier combination — the
    * streaming feed of a k-anonymity privacy monitor
    * ([[graft.ops.Profile.kAnonymity]]'s batch card becomes a rollup
    * over this stream's closed windows). Append mode: a (window, combo)
    * row emits once the watermark strictly passes the window end, so
    * downstream release gates see only FINAL sizes, never a partial
    * count that later grows past the threshold.
    *
    * State: ONE row per (open window, observed combo) — bounded by
    * distinct quasi-id combinations × open windows, a cardinality
    * quantity independent of event volume (the st22 plateau shape one
    * dimension wider; measured 50 rows at sf0.1 AND sf1).
    * Output: (window_start, quasiCols…, n).
    */
  def streamingQuasiIdSizes(stream: DataFrame, tsCol: String,
                            quasiCols: Seq[String], windowDuration: String,
                            watermark: String): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration) +: quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start") +:
        (quasiCols.map(col) :+ col("n")): _*)
  }

  /** Streaming quality gate (st24): the t28 trained-classifier filter
    * run ON THE STREAM — per event, a fastText-style mean of hashed-
    * unigram weights over `textCol` scores the text MAP-ONLY (the
    * weights model inlines as a literal map, the t29/t28 broadcast-
    * model analog, so scoring adds NO state); a windowed aggregation
    * then emits, per CLOSED window only (append mode — the st23
    * monitoring contract), document and survivor counts plus exact
    * integer score sums. State = open windows, independent of event
    * volume or model size.
    *
    * The model must cover the 256-bucket md5-prefix domain exactly
    * (the [[graft.ops.TextAnalysis.linearQualityScore]] contract,
    * enforced loudly here too — a missing bucket would silently zero
    * features mid-stream, the worst place to find out).
    *
    * Emits: (window_start, n_docs, n_kept, sum_fp_kept) — integers
    * only; rates divide downstream where one double is safe.
    */
  /** The st24 demo model: a fixed mixed-sign weight per 2-hex md5
    * bucket from pure ascii arithmetic — chosen so an external engine
    * re-derives the weight INLINE per token (the driver oracle does).
    * One definition: the driver query and the state-scale probe must
    * measure the same model.
    */
  def demoQualityWeights: Seq[(String, Long)] =
    (0 until 256).map { i =>
      val b = f"$i%02x"
      b -> ((b.charAt(0).toInt * 256L + b.charAt(1).toInt - 19275L) * 997L)
    }

  def streamingQualityGate(stream: DataFrame, tsCol: String,
                           textCol: String, weights: Seq[(String, Long)],
                           thresholdLogitFp: Long, windowDuration: String,
                           watermark: String): DataFrame = {
    require(weights.size == 256 &&
      weights.map(_._1).distinct.size == 256 &&
      weights.forall(_._1.matches("[0-9a-f]{2}")),
      s"weights must cover the 256-bucket 2-hex md5-prefix domain " +
        s"exactly, got ${weights.size} rows")
    val m = weights.sortBy(_._1)
      .map { case (b, w) => s"'$b', ${w}L" }.mkString("map(", ", ", ")")
    val toks = s"""filter(split(lower(coalesce($textCol, '')), '\\\\W+'),
                   x -> x != '')"""
    val sumFp = s"""aggregate(transform($toks,
        t -> element_at($m, substring(md5(t), 1, 2))),
        CAST(0 AS BIGINT), (a, x) -> a + x)"""
    val scored = stream
      .withColumn("__n_toks", expr(s"size($toks)").cast("long"))
      .withColumn("__sum_fp", expr(sumFp))
      // kept ⇔ mean weight exceeds the threshold logit: exact integer
      // comparison sum_fp > thr · n (no division, no float, no ties
      // beyond the documented strict-> rule)
      .withColumn("__kept", col("__n_toks") > 0L &&
        col("__sum_fp") > lit(thresholdLogitFp) * col("__n_toks"))
    scored.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__kept"), col("__sum_fp")).otherwise(0L))
          .as("sum_fp_kept"))
      .select(col("window.start").as("window_start"), col("n_docs"),
        col("n_kept"), col("sum_fp_kept"))
  }
}
