package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.Table

/** `Table(df).sql` and `Table.sessionSql` over a view of the same name
  * lower a statement through one pipeline, so they return the same rows;
  * `explainSql` describes the program `sql` runs.
  */
class SqlSurfaceParitySpec extends GraftSuite {
  import spark.implicits._

  private lazy val trip: DataFrame =
    Seq[(Long, String, Option[Double])]((1L, "a", Some(1.0)), (2L, "a", None),
      (3L, "b", Some(4.5)), (4L, "b", Some(2.0)), (5L, "c", Some(3.0)))
      .toDF("id", "g", "tip")

  private def viaTable(q: String): Seq[Row] = Table(trip).sql(q).df.collect().toSeq

  private def viaSession(q: String): Seq[Row] = {
    trip.createOrReplaceTempView("trip")
    Table.sessionSql(spark, q).df.collect().toSeq
  }

  private val statements = Seq(
    "star EXCLUDE" -> "SELECT * EXCLUDE (tip) FROM trip ORDER BY id",
    "star REPLACE" -> "SELECT * REPLACE (tip * 2 AS tip) FROM trip ORDER BY id",
    "star RENAME" -> "SELECT * RENAME (tip AS gratuity) FROM trip ORDER BY id",
    "QUALIFY" ->
      """SELECT id, g, row_number() OVER (PARTITION BY g ORDER BY id DESC) AS rn
         FROM trip QUALIFY rn = 1 ORDER BY id""",
    "DISTINCT ON" -> "SELECT DISTINCT ON (g) g, id FROM trip ORDER BY g, id DESC",
    "COLUMNS regex" -> "SELECT max(COLUMNS('^(id|tip)$')) FROM trip",
    "USING SAMPLE" -> "SELECT id FROM trip USING SAMPLE 3 ROWS ORDER BY id",
    "WITH RECURSIVE UNION" ->
      """WITH RECURSIVE r(n) AS (SELECT min(id) FROM trip UNION
           SELECT t.id FROM trip t JOIN r ON t.id = r.n + 1)
         SELECT n FROM r ORDER BY n""",
    "POSITIONAL JOIN" ->
      """SELECT a.id, b.g FROM (SELECT id FROM trip ORDER BY id) a
         POSITIONAL JOIN (SELECT g FROM trip ORDER BY id DESC) b""",
    "alias into WHERE" -> "SELECT id, tip * 2 AS d FROM trip WHERE d > 3 ORDER BY id",
    "nulls-last ORDER BY" -> "SELECT id, tip FROM trip ORDER BY tip")

  statements.foreach { case (name, q) =>
    test(s"$name: Table.sql and sessionSql return the same rows") {
      val table = viaTable(q)
      assert(table.nonEmpty)
      assert(table == viaSession(q))
    }
  }

  test("the shared rows are the DuckDB answers") {
    assert(viaTable("SELECT id, tip FROM trip ORDER BY tip").last == Row(2L, null))
    assert(viaTable(statements.toMap.apply("WITH RECURSIVE UNION")).map(_.getLong(0)) ==
      Seq(1L, 2L, 3L, 4L, 5L))
    assert(viaTable(statements.toMap.apply("QUALIFY")).map(_.getLong(0)) == Seq(2L, 4L, 5L))
    assert(viaTable(statements.toMap.apply("alias into WHERE")).map(_.getLong(0)) ==
      Seq(3L, 4L, 5L))
  }

  test("explainSql explains every form sql runs") {
    val t = Table(trip)
    Seq("SELECT id, tip * 2 AS d FROM trip WHERE d > 3",
      "SELECT * EXCLUDE (tip) FROM trip",
      statements.toMap.apply("QUALIFY")).foreach { q =>
      assert(t.explainSql(q).contains("== Physical Plan =="), q)
    }
    val ordered = t.explainSql("SELECT id FROM trip ORDER BY tip")
    assert(ordered.contains("NULLS LAST") && !ordered.contains("NULLS FIRST"), ordered)
    assert(t.explainTree("SELECT id FROM trip ORDER BY tip").contains("NULLS LAST"))
  }
}
