package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** [[graft.streaming.Events.streamingAsOfEnrich]] (st21 machinery):
  * latest-prior pick, struct tie-break, strict-ASOF absence of
  * no-match probes, and the exact emission boundary — a probe's row
  * emits iff its tumbling window END is STRICTLY below the final global
  * watermark (min of both sides' max event time − delay) MINUS THE
  * HORIZON: watermark propagation through the interval join delays the
  * downstream aggregation's event time by the join's range bound, so
  * the naive `end < wm` reading over-promises by horizonSeconds
  * (review-caught — the original fixture could not tell the two
  * boundaries apart). Case 203 sits exactly AT wm − horizon and must be
  * held; the driver corpus never lands in that zone.
  */
class StreamingAsOfSpec extends GraftSuite {

  test("latest prior quote wins; ties break on payload; boundary is end < watermark - horizon") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 4)
    val work = Files.createTempDirectory("graft_asof_st_").toString
    val vDir = s"$work/views"; val bDir = s"$work/buys"
    Files.createDirectories(Paths.get(vDir))
    Files.createDirectories(Paths.get(bDir))
    import s.implicits._
    val mn = 60L * 1000000L
    val h = 60L * mn
    val base = 1000L * h // never sit at epoch 0 (== the initial watermark)
    def tsCol = expr("timestamp_micros(tus)")

    // u1: two priors inside the 30-min horizon — latest (101) must win
    // u3: two priors at the SAME ts — struct tie-break → max view_id 301
    // u4: prior for the purchase sitting exactly ON the boundary
    // u9: prior for the held-back purchase that sets max(p_ts)
    val views = Seq(
      (1L, 100L, base),
      (1L, 101L, base + 10L * mn),
      (3L, 300L, base), (3L, 301L, base),
      (4L, 400L, base + 75L * mn),
      (9L, 900L, base + 265L * mn),
      (9L, 901L, base + 10L * h) // pushes max(view_ts) far out
    ).toDF("user_id", "view_id", "tus")
      .select(col("user_id"), col("view_id"), tsCol.as("view_ts"))

    // final watermark wm = min(max view_ts, max p_ts) − 2h
    //                     = (base + 4h30m) − 2h = base + 2h30m;
    // the agg's EFFECTIVE boundary is wm − horizon = base + 2h
    val buys = Seq(
      (1L, 200L, base + 20L * mn),  // window end base+1h <  boundary → emits
      (2L, 201L, base + 30L * mn),  // no prior view → absent (strict)
      (3L, 202L, base + 5L * mn),   // tie case, emits
      (4L, 203L, base + 90L * mn),  // window end base+2h == boundary → HELD
                                    // (the naive end < wm reading would
                                    // emit it: base+2h < base+2h30m)
      (9L, 204L, base + 270L * mn)  // window end base+5h > boundary → held
    ).toDF("p_user_id", "purchase_id", "tus")
      .select(col("p_user_id"), col("purchase_id"), tsCol.as("p_ts"))

    def addFile(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.move(Paths.get(part), Paths.get(s"$dir/$name.parquet"))
    }
    addFile(views, vDir, "v1")
    addFile(buys, bDir, "b1")

    val vS = s.readStream.schema(views.schema).parquet(vDir)
    val bS = s.readStream.schema(buys.schema).parquet(bDir)
    val out = graft.streaming.Events.streamingAsOfEnrich(
      vS, bS, "user_id", "p_user_id", "view_ts", "p_ts",
      probeIdCol = "purchase_id", quotePayload = Seq("view_id"),
      horizonSeconds = 1800L, windowDuration = "1 hour",
      watermark = "2 hours")
    val got = graft.streaming.Replay.runToCompletion(
        out.select(col("purchase_id"), col("view_id")), "append").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((200L, 101L), (202L, 301L)),
      s"streamingAsOfEnrich emitted $got — expected latest-prior picks " +
        "for 200/202 only (201 has no prior, 203 sits exactly ON the " +
        "wm − horizon boundary and must be held — its presence means the " +
        "boundary regressed to the naive end < wm — and 204 is past it)")
  }
}
