package graft

import graft.api.Table
import graft.sql.DmlSql

/** DML statement forms (u10): INSERT INTO / UPDATE / DELETE FROM at the
  * session surface, each returning the post-statement table (the MERGE
  * convention). Semantics probed against DuckDB's native DML.
  */
class DmlSqlSpec extends GraftSuite {
  import spark.implicits._

  private def bind(): Unit =
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "tag", "v").createOrReplaceTempView("dml_t")

  private def run(sql: String): Seq[(Long, String, Option[Long])] =
    Table.sessionSql(spark, sql).toDF
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1).toSeq

  test("INSERT VALUES: positional, multi-row, cast into target types") {
    bind()
    val got = run("INSERT INTO dml_t VALUES (4, 'd', 40), (5, 'e', 50)")
    assert(got.size == 5 && got.contains((4L, "d", Some(40L))) &&
      got.contains((5L, "e", Some(50L))))
  }

  test("INSERT with column list fills unnamed columns with NULL") {
    bind()
    val got = run("INSERT INTO dml_t (tag, k) VALUES ('z', 9)")
    assert(got.contains((9L, "z", None)))
  }

  test("INSERT from a SELECT source (self-reference allowed)") {
    bind()
    val got = run(
      "INSERT INTO dml_t SELECT k + 100, upper(tag), v * 2 FROM dml_t")
    assert(got.size == 6 && got.contains((101L, "A", Some(20L))))
  }

  test("UPDATE: old-row SET evaluation, WHERE gating, no-WHERE = all") {
    bind()
    // v reads the OLD v in both assignments (simultaneous assignment)
    val got = run("UPDATE dml_t SET v = v + k, k = k * 10 WHERE v >= 20")
    assert(got == Seq((1L, "a", Some(10L)), (20L, "b", Some(22L)),
      (30L, "c", Some(33L))))
    val all = run("UPDATE dml_t SET tag = 'x'")
    assert(all.forall(_._2 == "x"))
  }

  test("UPDATE with alias; NULL predicate rows keep their values") {
    Seq((1L, "a", Some(10L)), (2L, "b", None))
      .toDF("k", "tag", "v").createOrReplaceTempView("dml_n")
    val got = run("UPDATE dml_n AS x SET tag = 'hit' WHERE x.v > 5")
    assert(got == Seq((1L, "hit", Some(10L)), (2L, "b", None)))
  }

  test("DELETE: TRUE removes, NULL keeps, no WHERE empties") {
    Seq((1L, "a", Some(10L)), (2L, "b", None), (3L, "c", Some(30L)))
      .toDF("k", "tag", "v").createOrReplaceTempView("dml_d")
    val got = run("DELETE FROM dml_d WHERE v > 15")
    assert(got == Seq((1L, "a", Some(10L)), (2L, "b", None)))
    assert(Table.sessionSql(spark, "DELETE FROM dml_d").toDF.count() == 0L)
  }

  test("refusals: unknown columns, width mismatch, malformed text") {
    bind()
    assert(intercept[IllegalArgumentException](
      run("INSERT INTO dml_t (nope) VALUES (1)"))
      .getMessage.contains("unknown target column"))
    assert(intercept[IllegalArgumentException](
      run("INSERT INTO dml_t VALUES (1, 'x')"))
      .getMessage.contains("positional INSERT"))
    assert(intercept[IllegalArgumentException](
      run("UPDATE dml_t SET nope = 1"))
      .getMessage.contains("unknown column"))
    assert(intercept[IllegalArgumentException](
      run("UPDATE dml_t SET k = 1, k = 2"))
      .getMessage.contains("duplicate column"))
    intercept[IllegalArgumentException](run("DELETE dml_t WHERE k = 1"))
    intercept[IllegalArgumentException](run("INSERT INTO dml_t"))
  }

  test("INSERT ON CONFLICT (u12): DO UPDATE applies excluded.-refs, " +
    "DO NOTHING skips, new keys insert, contracts refuse") {
    bind()
    // k=2 conflicts → updated with excluded.v + v; k=7 is new → inserts
    val up = run(
      """INSERT INTO dml_t VALUES (2, 'X', 5), (7, 'n', 70)
         ON CONFLICT (k) DO UPDATE SET v = excluded.v + v, tag = 'U'""")
    assert(up.contains((2L, "U", Some(25L))), s"got $up")
    assert(up.contains((7L, "n", Some(70L))) && up.size == 4)
    // DO NOTHING: the conflicting row keeps its target values
    bind()
    val nth = run(
      """INSERT INTO dml_t VALUES (2, 'X', 5), (8, 'h', 80)
         ON CONFLICT (k) DO NOTHING""")
    assert(nth.contains((2L, "b", Some(20L))) &&
      nth.contains((8L, "h", Some(80L))) && nth.size == 4)
    // duplicate conflict keys in the source refuse loudly (one target
    // row may be affected only once)
    assert(intercept[IllegalArgumentException](run(
      """INSERT INTO dml_t VALUES (2, 'x', 1), (2, 'y', 2)
         ON CONFLICT (k) DO NOTHING""")).getMessage
      .contains("duplicate conflict keys"))
    // the conflict target is required and must be a target column
    assert(intercept[IllegalArgumentException](run(
      "INSERT INTO dml_t VALUES (1, 'x', 1) ON CONFLICT DO NOTHING"))
      .getMessage.contains("explicit"))
    assert(intercept[IllegalArgumentException](run(
      """INSERT INTO dml_t VALUES (1, 'x', 1)
         ON CONFLICT (nope) DO NOTHING""")).getMessage
      .contains("unknown column"))
    // a bare SET reference means the TARGET column (Postgres scoping):
    // v doubles from the target's own value, not the incoming one
    bind()
    val scope = run(
      """INSERT INTO dml_t VALUES (3, 'x', 999)
         ON CONFLICT (k) DO UPDATE SET v = v * 2""")
    assert(scope.contains((3L, "c", Some(60L))))
    // NULL keys never conflict: two null-keyed incoming rows BOTH
    // insert and must NOT trip the duplicate-key guard (review-caught:
    // the guard once grouped the NULLs together and falsely refused)
    bind()
    val nulls = Table.sessionSql(spark,
      """INSERT INTO dml_t (tag, v) VALUES ('p', 1), ('q', 2)
         ON CONFLICT (k) DO NOTHING""").toDF
    assert(nulls.count() == 5)
    assert(nulls.filter("k IS NULL").count() == 2)
  }

  test("UPDATE … FROM (u13): matched rows take both-alias SET " +
    "expressions, unmatched pass through; multi-match refuses") {
    bind()
    Seq((1L, 100L), (3L, 300L), (9L, 900L)).toDF("k", "d")
      .createOrReplaceTempView("dml_s")
    // probed DuckDB: UPDATE t SET c = s.d + t.c FROM s WHERE t.k = s.k
    val got = run(
      """UPDATE dml_t AS t SET v = s.d + t.v
         FROM dml_s AS s WHERE t.k = s.k""")
    assert(got == Seq((1L, "a", Some(110L)), (2L, "b", Some(20L)),
      (3L, "c", Some(330L))))
    // a subquery source with mixed (theta) predicate — checkpoint path
    bind()
    val theta = run(
      """UPDATE dml_t AS t SET tag = s.nm
         FROM (SELECT k AS sk, 'hit' AS nm FROM dml_s WHERE k < 5) AS s
         WHERE t.k = s.sk AND t.v > 15""")
    assert(theta == Seq((1L, "a", Some(10L)), (2L, "b", Some(20L)),
      (3L, "hit", Some(30L))))
    // duplicate join keys in the source refuse loudly (both paths)
    bind()
    Seq((1L, 7L), (1L, 8L)).toDF("k", "d")
      .createOrReplaceTempView("dml_dup")
    assert(intercept[IllegalArgumentException](run(
      """UPDATE dml_t AS t SET v = s.d FROM dml_dup AS s
         WHERE t.k = s.k""")).getMessage.contains("deduplicate"))
    assert(intercept[IllegalArgumentException](run(
      """UPDATE dml_t AS t SET v = s.d FROM dml_dup AS s
         WHERE t.k = s.k AND t.v >= 0""")).getMessage
      .contains("deduplicate"))
    // alias collision and FROM-after-WHERE refuse at parse time
    assert(intercept[IllegalArgumentException](DmlSql.parse(
      "UPDATE t SET v = 1 FROM t WHERE a = b")).getMessage
      .contains("collide"))
    assert(intercept[IllegalArgumentException](DmlSql.parse(
      "UPDATE t SET v = 1 WHERE a = b FROM s")).getMessage
      .contains("clause order"))
  }

  test("DELETE … USING (u13): any match deletes; no WHERE = cross " +
    "semantics; USING-after-WHERE refuses") {
    bind()
    Seq((1L, 1L), (1L, 2L), (3L, 3L)).toDF("k", "d")
      .createOrReplaceTempView("dml_del_s")
    // multi-match is fine for DELETE — any match removes the row
    val got = run(
      """DELETE FROM dml_t AS t USING dml_del_s AS s
         WHERE t.k = s.k AND s.d < 3""")
    assert(got == Seq((2L, "b", Some(20L)), (3L, "c", Some(30L))))
    // no WHERE: any source row matches every target row
    bind()
    assert(run("DELETE FROM dml_t USING dml_del_s AS s").isEmpty)
    bind()
    Seq.empty[(Long, Long)].toDF("k", "d")
      .createOrReplaceTempView("dml_del_empty")
    assert(run("DELETE FROM dml_t USING dml_del_empty AS s").size == 3)
    assert(intercept[IllegalArgumentException](DmlSql.parse(
      "DELETE FROM t WHERE a = 1 USING s")).getMessage
      .contains("clause order"))
  }

  test("ON CONFLICT DO UPDATE … WHERE (u14): TRUE updates, FALSE/NULL " +
    "keeps the row AND blocks the insert") {
    // probed DuckDB: INSERT (1,111),(2,222),(5,50) ON CONFLICT (k)
    // DO UPDATE SET c = excluded.c WHERE u.c < 15 → (1,111),(2,20),(5,50)
    bind()
    val got = run(
      """INSERT INTO dml_t VALUES (1, 'i', 111), (2, 'i', 222), (5, 'i', 50)
         ON CONFLICT (k) DO UPDATE SET v = excluded.v WHERE v < 15""")
    assert(got == Seq((1L, "a", Some(111L)), (2L, "b", Some(20L)),
      (3L, "c", Some(30L)), (5L, "i", Some(50L))))
    // a NULL condition keeps the target row (and still blocks insert)
    bind()
    val nullCond = run(
      """INSERT INTO dml_t VALUES (1, 'i', 111)
         ON CONFLICT (k) DO UPDATE SET v = excluded.v
         WHERE v > CAST(NULL AS BIGINT)""")
    assert(nullCond == Seq((1L, "a", Some(10L)), (2L, "b", Some(20L)),
      (3L, "c", Some(30L))))
    // stray clause keywords in SET text refuse NAMING the clause
    assert(intercept[IllegalArgumentException](DmlSql.parse(
      "INSERT INTO t VALUES (1) ON CONFLICT (k) DO UPDATE SET v = 1 FROM s"))
      .getMessage.contains("FROM"))
    assert(intercept[IllegalArgumentException](DmlSql.parse(
      "UPDATE t SET v = 1 USING s")).getMessage.contains("USING"))
  }

  test("RETURNING (u15): inserted rows, post-image of updates, deleted " +
    "rows (DuckDB-probed)") {
    bind()
    val ins = Table.sessionSql(spark,
      "INSERT INTO dml_t VALUES (4, 'd', 40), (5, 'e', 50) " +
        "RETURNING k, v * 2 AS v2").toDF
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ins == Seq((4L, 80L), (5L, 100L)))
    val upd = Table.sessionSql(spark,
      "UPDATE dml_t SET v = v + 1 WHERE k >= 2 RETURNING *").toDF
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(upd == Seq((2L, "b", 21L), (3L, "c", 31L)))
    val del = Table.sessionSql(spark,
      "DELETE FROM dml_t WHERE k <= 2 RETURNING k").toDF
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(del == Seq(1L, 2L))
    // correlated arms: UPDATE … FROM returns the matched post-image,
    // DELETE … USING the deleted rows (a semi-join)
    Seq((3L, 300L)).toDF("k", "d").createOrReplaceTempView("dml_ret_s")
    val uf = Table.sessionSql(spark,
      """UPDATE dml_t AS t SET v = s.d FROM dml_ret_s AS s
         WHERE t.k = s.k RETURNING k, v""").toDF
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(uf == Seq((3L, 300L)))
    val du = Table.sessionSql(spark,
      """DELETE FROM dml_t AS t USING dml_ret_s AS s
         WHERE t.k = s.k RETURNING *""").toDF.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(du == Seq((3L, "c", 30L)))
  }

  test("upsert RETURNING (u21): DO NOTHING returns only inserted rows; " +
    "DO UPDATE returns insertions + gate-fired post-images") {
    bind()
    // DO NOTHING: k=1 conflicts (not returned), k=9 inserts (returned)
    val dn = Table.sessionSql(spark,
      """INSERT INTO dml_t VALUES (1, 'x', 1), (9, 'i', 90)
         ON CONFLICT (k) DO NOTHING RETURNING k, tag""").toDF
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dn == Seq((9L, "i")))
    // DO UPDATE: k=2 conflicts and updates (post-image returned),
    // k=9 inserts (returned); RETURNING items evaluate post-image
    val up = Table.sessionSql(spark,
      """INSERT INTO dml_t VALUES (2, 'x', 5), (9, 'i', 90)
         ON CONFLICT (k) DO UPDATE SET v = excluded.v + v, tag = 'U'
         RETURNING k, tag, v""").toDF
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(up == Seq((2L, "U", 25L), (9L, "i", 90L)))
    // the u14 WHERE arm gates the RETURN too: k=2 (v=20) fails the
    // gate — not updated, NOT returned; k=3 (v=30) passes
    val gw = Table.sessionSql(spark,
      """INSERT INTO dml_t VALUES (2, 'x', 5), (3, 'y', 7)
         ON CONFLICT (k) DO UPDATE SET v = excluded.v + v, tag = 'W'
           WHERE v >= 30
         RETURNING k, tag, v""").toDF
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(gw == Seq((3L, "W", 37L)))
    // the duplicate-source-key guard still applies under RETURNING
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      """INSERT INTO dml_t VALUES (7, 'a', 1), (7, 'b', 2)
         ON CONFLICT (k) DO NOTHING RETURNING k""").toDF.collect())
      .getMessage.contains("duplicate conflict keys"))
  }

  test("CTE-headed DML (u16): WITH binds statement-scoped views the " +
    "DML reads (DuckDB-probed); target-name CTE refuses") {
    bind()
    // other suites share this session's catalog and may bind views with
    // these names, so leak detection compares against the PRE-state
    // instead of asserting absence
    val pre = Seq("x", "m", "d").map(n => n -> spark.catalog.tableExists(n))
    // probed DuckDB: WITH x AS (SELECT 3, 30) INSERT INTO t SELECT ...
    val ins = run(
      """WITH x(k, tag, v) AS (SELECT 9, 'x', CAST(90 AS BIGINT))
         INSERT INTO dml_t SELECT k, tag, v FROM x""")
    assert(ins.size == 4 && ins.contains((9L, "x", Some(90L))))
    // the CTE feeds the UPDATE via a correlated FROM; RETURNING rides
    val upd = Table.sessionSql(spark,
      """WITH m(mk, inc) AS (SELECT 2, CAST(100 AS BIGINT))
         UPDATE dml_t AS t SET v = t.v + m.inc FROM m
         WHERE t.k = m.mk RETURNING k, v""").toDF
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(upd == Seq((2L, 120L)))
    // DELETE … USING a CTE; chained CTEs (second reads the first)
    val del = run(
      """WITH base(bk) AS (SELECT 1), d(dk) AS (SELECT bk + 2 FROM base)
         DELETE FROM dml_t AS t USING d WHERE t.k = d.dk""")
    assert(del.map(_._1) == Seq(1L, 2L))
    // a CTE sharing the DML target's name refuses loudly (the target
    // is a real table outside the WITH scope — Postgres rule)
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      """WITH dml_t AS (SELECT 1 AS k)
         DELETE FROM dml_t WHERE k = 1""")).getMessage
      .contains("real table outside the WITH scope"))
    // plain WITH + SELECT keeps the native path
    assert(Table.sessionSql(spark,
      "WITH s AS (SELECT 5 AS x) SELECT x FROM s").toDF
      .collect().head.getInt(0) == 5)
    // the statement-scoped names do not leak into the session catalog:
    // existence is unchanged vs the pre-state, and no internal
    // __cte_-renamed view survived the statement
    pre.foreach { case (n, existed) =>
      assert(spark.catalog.tableExists(n) == existed,
        s"CTE name '$n' leaked into the session catalog")
    }
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__cte_")))
  }

  test("INSERT BY NAME (u17): source columns map by name, unnamed " +
    "target columns NULL, unknown source columns refuse (DuckDB-probed)") {
    bind()
    // (the WHERE filters on v, not k: an alias named like an input
    // column SHADOWS it in WHERE — the documented reference-binder
    // parity rule — so `… 9 AS k … WHERE k = 1` would filter on 9)
    val got = run(
      "INSERT INTO dml_t BY NAME SELECT 'z' AS tag, 9 AS k FROM dml_t " +
        "WHERE v = 10")
    assert(got.size == 4 && got.contains((9L, "z", None)))
    assert(intercept[IllegalArgumentException](run(
      "INSERT INTO dml_t BY NAME SELECT 1 AS k, 2 AS nope FROM dml_t"))
      .getMessage.contains("does not exist in the target"))
    // BY NAME with VALUES or a column list refuses at parse time
    assert(intercept[IllegalArgumentException](DmlSql.parse(
      "INSERT INTO t BY NAME VALUES (1)")).getMessage
      .contains("SELECT source"))
    assert(intercept[IllegalArgumentException](DmlSql.parse(
      "INSERT INTO t BY NAME (k) SELECT 1 AS k FROM s")).getMessage
      .contains("drop the explicit column list"))
    // RETURNING composes: the inserted (by-name aligned) rows
    bind()
    val ret = Table.sessionSql(spark,
      "INSERT INTO dml_t BY NAME SELECT 7 AS k, 'r' AS tag FROM dml_t " +
        "WHERE v = 20 RETURNING k, tag, v").toDF.collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
    assert(ret == Seq((7L, "r", true)))
  }

  test("TRUNCATE (u17): all rows removed, schema kept") {
    bind()
    val t = Table.sessionSql(spark, "TRUNCATE dml_t").toDF
    assert(t.count() == 0 && t.columns.toSeq == Seq("k", "tag", "v"))
    assert(Table.sessionSql(spark, "TRUNCATE TABLE dml_t").toDF.count() == 0)
    assert(intercept[Exception](Table.sessionSql(spark,
      "TRUNCATE dml_t RETURNING k")).getMessage.nonEmpty)
  }

  test("non-DML statements pass through; literals never trigger") {
    assert(DmlSql.parse("SELECT 'insert into' FROM t").isEmpty)
    assert(DmlSql.parse("-- update t\nSELECT 1").isEmpty)
    assert(DmlSql.parse("SELECT * FROM updates").isEmpty)
    assert(DmlSql.parse("SELECT truncated FROM t").isEmpty)
  }

  test("plan shapes: INSERT has no shuffle; UPDATE/DELETE are map-side") {
    bind()
    val ins = Table.sessionSql(spark,
      "INSERT INTO dml_t VALUES (4, 'd', 40)").toDF
    assert(!ins.queryExecution.executedPlan.toString.contains("Exchange"))
    val upd = Table.sessionSql(spark,
      "UPDATE dml_t SET v = v + 1 WHERE k > 1").toDF
    assert(!upd.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
