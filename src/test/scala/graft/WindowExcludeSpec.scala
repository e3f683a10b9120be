package graft

import graft.api.Table
import graft.sql.Dialect

/** Window-frame EXCLUDE (w12): the dialect rewrites
  * `agg(x) OVER (spec EXCLUDE kind)` into full-frame-minus-slice window
  * algebra. Expected values below were probed against DuckDB's NATIVE
  * EXCLUDE on the identical fixture (nulls, empty-after-exclusion
  * frames, tied peers, bounded ROWS frames) — the same-text w12 driver
  * query re-verifies at scale.
  */
class WindowExcludeSpec extends GraftSuite {
  import spark.implicits._

  private def fixture(): Unit =
    Seq((1, 1, Option(10L)), (1, 2, Option(20L)), (1, 2, Option(30L)),
      (1, 3, Option.empty[Long]), (1, 4, Option(40L)), (2, 1, Option(5L)))
      .toDF("p", "o", "v").createOrReplaceTempView("wx")

  private val Frame =
    "PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

  private def run(kind: String): Seq[(Option[Long], Long, Long)] =
    Table.sessionSql(spark,
      s"""SELECT p, o, v,
            SUM(v) OVER ($Frame EXCLUDE $kind) AS s,
            COUNT(v) OVER ($Frame EXCLUDE $kind) AS c,
            COUNT(*) OVER ($Frame EXCLUDE $kind) AS cs
          FROM wx ORDER BY p, o, v NULLS LAST""").toDF
      .collect()
      .map(r => (if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), r.getLong(5))).toSeq

  test("EXCLUDE CURRENT ROW matches DuckDB (nulls, empty frames)") {
    fixture()
    assert(run("CURRENT ROW") == Seq(
      (None, 0L, 0L), (Some(40L), 2L, 2L), (Some(30L), 2L, 2L),
      (Some(60L), 3L, 3L), (Some(60L), 3L, 4L), (None, 0L, 0L)))
  }

  test("EXCLUDE GROUP subtracts the whole peer group") {
    fixture()
    assert(run("GROUP") == Seq(
      (None, 0L, 0L), (Some(10L), 1L, 1L), (Some(10L), 1L, 1L),
      (Some(60L), 3L, 3L), (Some(60L), 3L, 4L), (None, 0L, 0L)))
  }

  test("EXCLUDE TIES keeps the current row, drops its peers") {
    fixture()
    assert(run("TIES") == Seq(
      (Some(10L), 1L, 1L), (Some(30L), 2L, 2L), (Some(40L), 2L, 2L),
      (Some(60L), 3L, 4L), (Some(100L), 4L, 5L), (Some(5L), 1L, 1L)))
  }

  test("bounded ROWS frame with EXCLUDE CURRENT ROW; AVG; NO OTHERS") {
    fixture()
    val got = Table.sessionSql(spark,
      """SELECT p, o, v,
           SUM(v) OVER (PARTITION BY p ORDER BY o, v NULLS LAST
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE CURRENT ROW) AS s,
           round(AVG(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW), 6) AS a,
           SUM(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE NO OTHERS) AS sn
         FROM wx ORDER BY p, o, v NULLS LAST""").toDF
      .collect().map(r => (Option(r.get(3)), Option(r.get(4)),
        Option(r.get(5)))).toSeq
    // ROWS order (o, v nulls last): 10,20,30,NULL,40 — frame ±1 row
    assert(got.map(_._1) == Seq(Some(20L), Some(40L), Some(20L),
      Some(70L), None, None))
    assert(got.map(_._2) == Seq(None, Some(20.0), Some(15.0),
      Some(20.0), Some(20.0), None))
    // NO OTHERS ≡ plain running sum
    assert(got.map(_._3) == Seq(Some(10L), Some(60L), Some(60L),
      Some(60L), Some(100L), Some(5L)))
  }

  test("loud refusals: min, DISTINCT, ROWS+GROUP, GROUPS, bad frames") {
    fixture()
    def bad(sql: String): String =
      intercept[IllegalArgumentException](
        Table.sessionSql(spark, sql).toDF.collect()).getMessage
    // MIN lowers only over row-addressable frames (w15): the default
    // RANGE-to-current frame's row edge is not ROWS-expressible
    assert(bad(s"SELECT MIN(v) OVER ($Frame EXCLUDE CURRENT ROW) FROM wx")
      .contains("ROWS frame"))
    // min EXCLUDE GROUP/TIES over a value-offset RANGE frame is not
    // group-addressable (w16 lowers UNBOUNDED/CURRENT RANGE edges only)
    assert(bad("""SELECT MIN(v) OVER (PARTITION BY p ORDER BY o
         RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP)
         FROM wx""").contains("not group-addressable"))
    // min EXCLUDE CURRENT ROW over a GROUPS frame: a row edge inside a
    // peer group is not GROUPS-addressable
    assert(bad("""SELECT MIN(v) OVER (PARTITION BY p ORDER BY o
         GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)
         FROM wx""").contains("GROUPS-addressable"))
    assert(bad(s"SELECT MEDIAN(v) OVER ($Frame EXCLUDE CURRENT ROW) FROM wx")
      .contains("EXCLUDE rewrite supports"))
    // COUNT(DISTINCT) EXCLUDE is supported since w18, but the collect
    // split needs row-addressable frames like min/max — the default
    // RANGE-to-current frame still refuses with the fix spelled out
    assert(bad(s"SELECT COUNT(DISTINCT v) OVER ($Frame EXCLUDE CURRENT ROW) FROM wx")
      .contains("ROWS frame"))
    // SUM(DISTINCT) under EXCLUDE needs the same row-addressable frame
    // as COUNT(DISTINCT) — the default RANGE-to-current frame refuses
    // with the fix spelled out (the aggregate itself is supported, w22)
    assert(bad(s"SELECT SUM(DISTINCT v) OVER ($Frame EXCLUDE CURRENT ROW) FROM wx")
      .contains("ROWS frame"))
    assert(bad("""SELECT SUM(v) OVER (PARTITION BY p ORDER BY o
         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM wx""")
      .contains("cut the peer group"))
    assert(bad("""SELECT MIN(v) OVER (PARTITION BY p ORDER BY o
         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES) FROM wx""")
      .contains("cut the peer group"))
    assert(bad("""SELECT SUM(v) OVER (PARTITION BY p ORDER BY o
         ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING EXCLUDE CURRENT ROW)
         FROM wx""").contains("starting after the current row"))
  }

  test("MIN/MAX EXCLUDE GROUP/TIES: before/after GROUPS split (w16, " +
      "DuckDB-probed); sum-family EXCLUDE over GROUPS frames") {
    fixture()
    val got = Table.sessionSql(spark,
      s"""SELECT p, o, v,
            MIN(v) OVER ($Frame EXCLUDE GROUP) AS mg,
            MAX(v) OVER ($Frame EXCLUDE TIES) AS mt,
            MIN(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN
              UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
              EXCLUDE GROUP) AS mb,
            MAX(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN
              CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS mf
          FROM wx ORDER BY p, o, v NULLS LAST""").toDF
      .collect().map(r => (Option(r.get(3)), Option(r.get(4)),
        Option(r.get(5)), Option(r.get(6)))).toSeq
    // DuckDB native EXCLUDE on the identical fixture
    assert(got == Seq(
      (None, Some(10L), Some(20L), Some(40L)),
      (Some(10L), Some(20L), Some(10L), Some(40L)),
      (Some(10L), Some(30L), Some(10L), Some(40L)),
      (Some(10L), Some(30L), Some(10L), Some(40L)),
      (Some(10L), Some(40L), Some(10L), Some(40L)),
      (None, Some(5L), None, Some(5L))))
    // sum/count over GROUPS frames with EXCLUDE (DuckDB has no GROUPS
    // mode — expectations hand-derived from the standard's semantics:
    // peer groups in p=1 are {10},{20,30},{NULL},{40})
    val gsum = Table.sessionSql(spark,
      """SELECT p, o, v,
           SUM(v) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN
             1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS sg,
           SUM(v) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN
             1 PRECEDING AND CURRENT ROW EXCLUDE TIES) AS st
         FROM wx ORDER BY p, o, v NULLS LAST""").toDF
      .collect().map(r => (Option(r.get(3)), Option(r.get(4)))).toSeq
    assert(gsum == Seq(
      (Some(50L), Some(10L)), (Some(10L), Some(30L)),
      (Some(10L), Some(40L)), (Some(90L), Some(50L)),
      (None, Some(40L)), (None, Some(5L))))
  }

  test("named WINDOW with EXCLUDE inlines (w13); exclusion-free names " +
      "stay native") {
    fixture()
    val got = Table.sessionSql(spark,
      s"""SELECT p, o, v,
            SUM(v) OVER w AS s_excl,
            SUM(v) OVER w2 AS s_plain
          FROM wx
          WINDOW w AS ($Frame EXCLUDE CURRENT ROW), w2 AS ($Frame)
          ORDER BY p, o, v NULLS LAST""").toDF
      .collect().map(r => (Option(r.get(3)), r.getLong(4))).toSeq
    // s_excl matches the inline EXCLUDE CURRENT ROW run; s_plain is the
    // ordinary running sum over the SAME spec, executed natively
    assert(got.map(_._1) == Seq(None, Some(40L), Some(30L), Some(60L),
      Some(60L), None))
    assert(got.map(_._2) == Seq(10L, 60L, 60L, 60L, 100L, 5L))
    // two EXCLUDE names, one reused reference, clause fully dropped
    val multi = Table.sessionSql(spark,
      s"""SELECT SUM(v) OVER w AS a, COUNT(v) OVER w AS c
          FROM wx WINDOW w AS ($Frame EXCLUDE GROUP)
          ORDER BY a NULLS FIRST""").toDF.collect()
    // group-exclusion leaves NULL only where no earlier non-peer rows
    // exist: rows (1,1,10) and (2,1,5) — two nulls (DuckDB-probed)
    assert(multi.length == 6 && multi.count(_.isNullAt(0)) == 2)
  }

  test("MIN/MAX EXCLUDE CURRENT ROW: before/after ROWS split (w15, " +
      "DuckDB-probed incl. empty slices and all-null partitions)") {
    Seq((1, 1, Option(10L)), (1, 2, Option(20L)), (1, 3, Option.empty[Long]),
      (1, 4, Option(5L)), (1, 5, Option(40L)), (2, 1, Option(7L)))
      .toDF("p", "k", "v").createOrReplaceTempView("wmx")
    val got = Table.sessionSql(spark,
      """SELECT p, k,
           MIN(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE CURRENT ROW) AS mn,
           MAX(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             EXCLUDE CURRENT ROW) AS mx,
           MIN(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING
             EXCLUDE CURRENT ROW) AS mf,
           MAX(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN CURRENT ROW AND CURRENT ROW
             EXCLUDE CURRENT ROW) AS m0
         FROM wmx ORDER BY p, k""").toDF
      .collect().map(r => (r.getInt(0), r.getInt(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)),
        Option(r.get(5)))).toSeq
    // DuckDB native EXCLUDE on the identical fixture
    assert(got == Seq(
      (1, 1, Some(20L), Some(40L), Some(20L), None),
      (1, 2, Some(10L), Some(40L), Some(5L), None),
      (1, 3, Some(5L), Some(40L), Some(5L), None),
      (1, 4, Some(40L), Some(40L), Some(40L), None),
      (1, 5, Some(5L), Some(20L), None, None),
      (2, 1, None, None, None, None)))
  }

  test("FILTER-carrying aggregates under EXCLUDE (w17): the filter " +
    "folds into a CASE argument (DuckDB-probed)") {
    fixture()
    val got = Table.sessionSql(spark,
      s"""SELECT p, o, v,
            SUM(v) FILTER (WHERE v > 10) OVER ($Frame EXCLUDE GROUP) AS fs,
            COUNT(*) FILTER (WHERE o % 2 = 1) OVER (PARTITION BY p
              ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
              FOLLOWING EXCLUDE TIES) AS fc,
            MIN(v) FILTER (WHERE v < 35) OVER ($Frame EXCLUDE GROUP) AS fm
          FROM wx ORDER BY p, o, v NULLS LAST""").toDF
      .collect().map(r => (Option(r.get(3)), r.getLong(4),
        Option(r.get(5)))).toSeq
    // DuckDB native FILTER + EXCLUDE on the identical fixture
    assert(got == Seq(
      (None, 2L, None), (None, 2L, Some(10L)), (None, 2L, Some(10L)),
      (Some(50L), 2L, Some(10L)), (Some(50L), 2L, Some(10L)),
      (None, 1L, None)))
    // SUM(DISTINCT)+FILTER under EXCLUDE (w22): filter folds inside the
    // DISTINCT, the GROUP exclusion takes the collect-split, the fold
    // is exact — values hand-derived (no duplicate v in the fixture, so
    // DISTINCT sum = the w12 GROUP-excluded sums)
    val sdg = Table.sessionSql(spark,
      s"""SELECT p, o, v,
            SUM(DISTINCT v) FILTER (WHERE v > 0) OVER
              ($Frame EXCLUDE GROUP) AS sd
          FROM wx ORDER BY p, o, v NULLS LAST""").toDF
      .collect().map(r => Option(r.get(3)).map(_.asInstanceOf[Long])).toSeq
    assert(sdg == Seq(None, Some(10L), Some(10L), Some(60L), Some(60L),
      None))
  }

  test("COUNT(DISTINCT) over windows (w18): partition, bounded ROWS, " +
      "EXCLUDE CURRENT/GROUP/TIES, FILTER fold — DuckDB-probed") {
    // duplicate values make DISTINCT != COUNT; the NULL at o=4 pins the
    // NULL-skipping contract (collect_list drops it like COUNT DISTINCT)
    Seq((1, 1, Option(10L)), (1, 2, Option(10L)), (1, 3, Option(20L)),
      (1, 4, Option.empty[Long]), (1, 5, Option(10L)), (2, 1, Option(5L)),
      (2, 2, Option(5L)))
      .toDF("p", "o", "v").createOrReplaceTempView("wy")
    def run(expr: String): Seq[Long] =
      Table.sessionSql(spark,
        s"SELECT p, o, $expr AS c FROM wy ORDER BY p, o").toDF
        .collect().map(_.getLong(2)).toSeq
    // whole partition (Spark refuses this natively — the lowering runs)
    assert(run("count(DISTINCT v) OVER (PARTITION BY p)") ==
      Seq(2L, 2L, 2L, 2L, 2L, 1L, 1L))
    // bounded ROWS frame
    assert(run("count(DISTINCT v) OVER (PARTITION BY p ORDER BY o " +
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)") ==
      Seq(1L, 2L, 2L, 2L, 1L, 1L, 1L))
    // EXCLUDE CURRENT ROW: before/after collect split
    assert(run("count(DISTINCT v) OVER (PARTITION BY p ORDER BY o " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE CURRENT ROW)") == Seq(2L, 2L, 1L, 2L, 2L, 1L, 1L))
    // EXCLUDE TIES over a RANGE frame: GROUPS split + typed self
    // singleton (the NULL self row counts 0 — probed)
    assert(run("count(DISTINCT v) OVER (PARTITION BY p ORDER BY o % 2 " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES)")
      == Seq(1L, 1L, 2L, 0L, 1L, 1L, 1L))
    // EXCLUDE GROUP over an unbounded RANGE frame
    assert(run("count(DISTINCT v) OVER (PARTITION BY p ORDER BY o % 2 " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE GROUP)") == Seq(1L, 2L, 1L, 2L, 1L, 1L, 1L))
    // FILTER folds INSIDE the DISTINCT
    assert(run("count(DISTINCT v) FILTER (WHERE o % 2 = 1) OVER " +
      "(PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW)") ==
      Seq(2L, 2L, 1L, 2L, 2L, 0L, 1L))
    // named-window reference lowers too
    assert(Table.sessionSql(spark,
      """SELECT p, o, count(DISTINCT v) OVER w AS c FROM wy
         WINDOW w AS (PARTITION BY p) ORDER BY p, o""").toDF
      .collect().map(_.getLong(2)).toSeq ==
      Seq(2L, 2L, 2L, 2L, 2L, 1L, 1L))
    // avg(DISTINCT) now lowers through the exact fold (w22): p=1
    // distinct {10, 20} → 15.0, p=2 distinct {5} → 5.0
    assert(Table.sessionSql(spark,
      "SELECT p, o, avg(DISTINCT v) OVER (PARTITION BY p) AS a FROM wy " +
        "ORDER BY p, o").toDF.collect().map(_.getDouble(2)).toSeq ==
      Seq(15.0, 15.0, 15.0, 15.0, 15.0, 5.0, 5.0))
    // refusals: non-foldable DISTINCT aggregate, multi-key DISTINCT
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "SELECT median(DISTINCT v) OVER (PARTITION BY p) FROM wy"))
      .getMessage.contains("COUNT/SUM/AVG"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "SELECT count(DISTINCT o, v) OVER (PARTITION BY p) FROM wy"))
      .getMessage.contains("combine the keys"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "SELECT sum(DISTINCT o, v) OVER (PARTITION BY p) FROM wy"))
      .getMessage.contains("combine the keys"))
    // a comma inside the single argument's parens is NOT a second key
    assert(run("count(DISTINCT coalesce(v, 99)) OVER (PARTITION BY p)")
      == Seq(3L, 3L, 3L, 3L, 3L, 1L, 1L))
    // non-window COUNT(DISTINCT) is untouched (native Spark path)
    assert(Table.sessionSql(spark,
      "SELECT count(DISTINCT v) AS c FROM wy").toDF
      .collect().head.getLong(0) == 3L)
  }

  test("FILTER over windows without EXCLUDE (w20): NULL-skip fold, " +
      "DISTINCT chains into w18, non-foldable aggs refuse") {
    // count/sum/min/avg arms DuckDB-probed on this fixture; the cd arm
    // is hand-derived (x%2 = 0 for every x >= 10 in p=1 -> 1; p=2's only
    // row filters out -> 0) — DuckDB's native count(DISTINCT)+FILTER
    // over a whole partition hits an INTERNAL error on this corner (its
    // bug, probed; the framed form in the w20 driver query runs fine
    // there and strict-matches)
    Seq((1, 1, 10L), (1, 2, 20L), (1, 3, 30L), (2, 1, 5L))
      .toDF("p", "o", "x").createOrReplaceTempView("wf")
    val got = Table.sessionSql(spark,
      """SELECT p, o,
           count(*) FILTER (WHERE x > 10) OVER (PARTITION BY p
             ORDER BY o) AS c,
           sum(x) FILTER (WHERE o % 2 = 1) OVER (PARTITION BY p
             ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,
           min(x) FILTER (WHERE x > 5) OVER (PARTITION BY p) AS mn,
           avg(x) FILTER (WHERE x < 25) OVER (PARTITION BY p) AS av,
           count(DISTINCT x % 2) FILTER (WHERE x >= 10) OVER (
             PARTITION BY p) AS cd
         FROM wf ORDER BY p, o""").toDF
      .collect().map(r => (r.getLong(2), r.getLong(3),
        Option(r.get(4)), r.getDouble(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (0L, 10L, Some(10L), 15.0, 1L), (1L, 40L, Some(10L), 15.0, 1L),
      (2L, 30L, Some(10L), 15.0, 1L), (0L, 5L, None, 5.0, 0L)))
    // non-foldable aggregate refuses loudly (stddev does skip NULLs,
    // but the fold contract is pinned to the five proven ones)
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "SELECT stddev(x) FILTER (WHERE x > 0) OVER (PARTITION BY p) FROM wf"))
      .getMessage.contains("SUM/COUNT/AVG/MIN/MAX"))
    // sum/avg(DISTINCT)+FILTER over a window (w22): the filter folds
    // INSIDE the DISTINCT, then the exact-fold lowering applies
    val sd = Table.sessionSql(spark,
      """SELECT p, o,
           sum(DISTINCT x) FILTER (WHERE x > 10) OVER (PARTITION BY p)
             AS sd,
           avg(DISTINCT x) OVER (PARTITION BY p) AS ad
         FROM wf ORDER BY p, o""").toDF
      .collect().map(r => (Option(r.get(2)), r.getDouble(3))).toSeq
    assert(sd == Seq((Some(50L), 20.0), (Some(50L), 20.0),
      (Some(50L), 20.0), (None, 5.0)))
    // float inputs refuse at analysis time (the w18 reproducibility
    // reason, now enforced by the fold's type check)
    assert(intercept[Exception](Table.sessionSql(spark,
      "SELECT sum(DISTINCT CAST(x AS DOUBLE)) OVER (PARTITION BY p) " +
        "FROM wf").toDF.collect()).getMessage
      .contains("integral and decimal"))
    // non-window FILTER stays on the native Spark path
    assert(Table.sessionSql(spark,
      "SELECT count(*) FILTER (WHERE x > 5) AS c FROM wf").toDF
      .collect().head.getLong(0) == 3L)
  }

  test("chained named windows (w21): definition and inline chains " +
      "resolve; the standard's refusal matrix holds") {
    Seq((1, 1, 10L), (1, 2, 20L), (1, 3, 30L), (2, 1, 5L))
      .toDF("p", "o", "x").createOrReplaceTempView("wc")
    val got = Table.sessionSql(spark,
      """SELECT p, o,
           sum(x) OVER w2 AS s_run,
           sum(x) OVER (w1 ORDER BY o
             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s_roll,
           count(*) OVER (w1) AS c_p,
           max(x) OVER (w2 ROWS BETWEEN CURRENT ROW AND
             UNBOUNDED FOLLOWING) AS mx_f
         FROM wc WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY o)
         ORDER BY p, o""").toDF
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    // hand-derived (Postgres semantics — the chained frame KEEPS the
    // base partitioning; DuckDB's frame-appending chain drops it, the
    // documented w21 divergence)
    assert(got == Seq(
      (10L, 10L, 3L, 30L), (30L, 30L, 3L, 30L), (60L, 50L, 3L, 30L),
      (5L, 5L, 1L, 5L)))
    def bad(sql: String): String =
      intercept[IllegalArgumentException](
        Table.sessionSql(spark, sql).toDF.collect()).getMessage
    // the three standard refusals, matching DuckDB's own parser errors
    assert(bad("""SELECT sum(x) OVER (w1 ORDER BY x) FROM wc
        WINDOW w1 AS (PARTITION BY p ORDER BY o)""")
      .contains("adds ORDER BY"))
    assert(bad("""SELECT sum(x) OVER (w1 ORDER BY o) FROM wc
        WINDOW w1 AS (PARTITION BY p ROWS BETWEEN 1 PRECEDING AND
        CURRENT ROW)""").contains("frame clause"))
    assert(bad("""SELECT sum(x) OVER (w1 PARTITION BY o) FROM wc
        WINDOW w1 AS (PARTITION BY p)""")
      .contains("PARTITION BY"))
    // chains of chains resolve in textual order
    assert(Table.sessionSql(spark,
      """SELECT sum(x) OVER w3 AS s FROM wc
         WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY o),
                w3 AS (w2 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
         ORDER BY p, o""").toDF.collect().map(_.getLong(0)).toSeq ==
      Seq(10L, 30L, 50L, 5L))
    // an unknown head name passes through (Spark reports it natively)
    assertThrows[Exception](Table.sessionSql(spark,
      """SELECT sum(x) OVER (nope ORDER BY o) FROM wc
         WINDOW w1 AS (PARTITION BY p)""").toDF.collect())
  }

  test("statements without EXCLUDE pass through byte-identical") {
    val q = "SELECT SUM(v) OVER (PARTITION BY p ORDER BY o) AS s FROM wx"
    assert(Dialect.rewriteWindowExclude(q) == q)
    val lit = "SELECT 'exclude current row' AS s FROM wx"
    assert(Dialect.rewriteWindowExclude(lit) == lit)
  }

  test("EXCLUDE named window refuses when a second WINDOW clause exists") {
    fixture()
    val e = intercept[IllegalArgumentException](Table.sessionSql(spark,
      s"""SELECT SUM(v) OVER w AS a FROM (
            SELECT p, o, SUM(v) OVER w AS v FROM wx WINDOW w AS ($Frame)
          ) t WINDOW w AS ($Frame EXCLUDE CURRENT ROW)""").toDF.collect())
    assert(e.getMessage.contains("more than one WINDOW clause"))
  }

  test("bare window-reference definitions and chained EXCLUDE refuse/pass") {
    fixture()
    // w AS w2 (bare reference, no EXCLUDE anywhere) must pass through
    val ok = Table.sessionSql(spark,
      s"""SELECT SUM(v) OVER w AS a FROM wx
          WINDOW w2 AS ($Frame), w AS w2 ORDER BY a NULLS FIRST""").toDF
    assert(ok.count() == 6)
    // chained window name + EXCLUDE RESOLVES since w21: the chain
    // inlines first, then the EXCLUDE algebra lowers the full spec.
    // Only tie-free rows assert values (ROWS order among o=2 peers is
    // engine-nondeterministic): first-of-partition rows exclude their
    // whole frame (NULL), the post-tie rows see the fixed prefix sum.
    val ch = Table.sessionSql(spark,
      s"""SELECT p, o, v, SUM(v) OVER w AS a FROM wx
          WINDOW base AS (PARTITION BY p ORDER BY o),
                 w AS (base ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       EXCLUDE CURRENT ROW)
          ORDER BY p, o, v NULLS LAST""").toDF
      .collect().map(r => if (r.isNullAt(3)) None else Some(r.getLong(3)))
    assert(ch.length == 6)
    assert(ch(0).isEmpty && ch(5).isEmpty) // partition heads: frame = self
    assert(ch(3) == Some(60L) && ch(4) == Some(60L))
    // a kept definition referencing a dropped EXCLUDE name refuses too
    val e2 = intercept[IllegalArgumentException](Table.sessionSql(spark,
      s"""SELECT SUM(v) OVER w2 AS a FROM wx
          WINDOW w AS ($Frame EXCLUDE CURRENT ROW), w2 AS w""").toDF.collect())
    assert(e2.getMessage.contains("inlines away"))
  }

  test("a named EXCLUDE window inside a derived table runs like its " +
      "inline spec; FILTER over an EXCLUDE named window") {
    Seq((1, 1, 10L), (1, 2, 20L), (1, 3, 30L), (2, 1, 5L))
      .toDF("p", "o", "v").createOrReplaceTempView("wn")
    val whole = "PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW"
    def sums(sql: String): Seq[Option[Long]] =
      Table.sessionSql(spark, sql).toDF.collect()
        .map(r => Option(r.get(2)).map(_.asInstanceOf[Long])).toSeq
    val inline = sums(
      s"""SELECT p, o, s FROM (
            SELECT p, o, sum(v) OVER ($whole) AS s FROM wn
          ) t ORDER BY p, o""")
    val named = sums(
      s"""SELECT p, o, s FROM (
            SELECT p, o, sum(v) OVER w AS s FROM wn WINDOW w AS ($whole)
          ) t ORDER BY p, o""")
    assert(inline == Seq(Some(50L), Some(40L), Some(30L), None))
    assert(named == inline)
    // the FILTER folds first, then the inlined EXCLUDE spec lowers
    assert(sums(
      s"""SELECT p, o, sum(v) FILTER (WHERE v > 10) OVER w AS s FROM wn
          WINDOW w AS ($whole) ORDER BY p, o""") ==
      Seq(Some(50L), Some(30L), Some(20L), None))
  }

  test("a WINDOW clause's names reach only its own SELECT block") {
    Seq((1, 1, 10L), (1, 2, 20L), (1, 3, 30L), (2, 1, 5L))
      .toDF("p", "o", "x").createOrReplaceTempView("wc")
    val spec = "PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW"
    // the outer `OVER w` is out of the derived table's WINDOW scope:
    // it is left for Spark, which has no window w there and refuses
    val outer = s"""SELECT p, sum(s) OVER w AS t FROM (
        SELECT p, o, sum(x) OVER w AS s FROM wc WINDOW w AS ($spec)) d"""
    val lowered = Dialect.lowerClauses(outer)
    assert(lowered.contains("OVER w AS t"), lowered)
    intercept[Exception](Table.sessionSql(spark, outer).toDF.collect())
    // a scalar subquery in the clause's own block is out of scope too
    val sub = s"""SELECT p, o, sum(x) OVER w AS s,
        (SELECT max(x) OVER w FROM wc LIMIT 1) AS m FROM wc WINDOW w AS ($spec)"""
    assert(Dialect.lowerClauses(sub).contains("max(x) OVER w FROM wc"))
  }
}
