package graft

import org.apache.spark.sql.AnalysisException

import graft.api.Table

/** A statement's own names — the receiver of `Table.sql`, CTEs, files it
  * reads, the frames a lowering builds — bind in the statement's plan,
  * never in the session catalog: the catalog holds the user's names
  * only, before and after every statement form.
  */
class StatementNamesSpec extends GraftSuite {
  import spark.implicits._

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("no statement form adds, drops or rebinds a session view") {
    Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L)).toDF("k", "g", "v")
      .createOrReplaceTempView("sn_base")
    Seq((1L, 5L), (2L, 15L)).toDF("k", "t").createOrReplaceTempView("sn_l")
    Seq((1L, 4L, 0.5), (2L, 9L, 1.5)).toDF("k", "rt", "rv")
      .createOrReplaceTempView("sn_r")
    Seq("a", "b").toDF("s").createOrReplaceTempView("sn_pos")
    val dir = java.nio.file.Files.createTempDirectory("sn_files").toString
    Seq((1L, "p")).toDF("k", "s").write.mode("overwrite").parquet(s"$dir/f.parquet")
    val t = Table(spark.table("sn_base"))
    def session(q: String) = Table.sessionSql(spark, q)
    val forms: Seq[(String, () => Table)] = Seq(
      "receiver" -> (() => t.sql("SELECT k, v FROM sn_recv ORDER BY k")),
      "QUALIFY" -> (() => t.sql(
        "SELECT k, g FROM sn_recv " +
          "QUALIFY row_number() OVER (PARTITION BY g ORDER BY k) = 1 ORDER BY k")),
      "UNION BY NAME" -> (() => t.sql(
        "SELECT k FROM sn_a UNION BY NAME SELECT v AS k FROM sn_b ORDER BY k")),
      "PIVOT" -> (() => session("PIVOT sn_base ON g USING sum(v) GROUP BY k ORDER BY k")),
      "ASOF" -> (() => session(
        "SELECT l.k, r.rv FROM sn_l l ASOF JOIN sn_r r " +
          "ON l.k = r.k AND l.t >= r.rt ORDER BY l.k")),
      "POSITIONAL" -> (() => session(
        "SELECT k, s FROM sn_l POSITIONAL JOIN sn_pos ORDER BY k")),
      "recursion" -> (() => session(
        """WITH RECURSIVE step(d) AS (SELECT 1),
             r(n) AS (SELECT 1 UNION SELECT n + d FROM r, step WHERE n < 3)
           SELECT n FROM r ORDER BY n""")),
      "CTE-headed DML" -> (() => session(
        """WITH c(ck) AS (SELECT 2)
           DELETE FROM sn_base WHERE k IN (SELECT ck FROM c)""")),
      "read_parquet" -> (() => session(
        s"SELECT k, s FROM read_parquet('$dir/f.parquet') ORDER BY k")))
    val before = tempViews()
    val base = spark.table("sn_base").collect().toSeq
    forms.foreach { case (form, run) =>
      run().toDF.collect()
      assert(tempViews() == before, s"the $form form changed the session catalog")
    }
    assert(spark.table("sn_base").collect().toSeq == base)
  }

  test("a session view named like the receiver survives Table.sql") {
    Seq(7L, 8L).toDF("o").createOrReplaceTempView("sn_orders")
    val t = Table(spark.range(1, 6).toDF("id"))
    assert(t.sql("SELECT count(*) AS n FROM sn_orders").toDF
      .collect().head.getLong(0) == 5L)
    assert(spark.table("sn_orders").collect().map(_.getLong(0)).toSeq == Seq(7L, 8L))
  }

  test("a name one Table.sql call binds is invisible to the next") {
    Table(spark.range(0, 15).toDF("id")).sql("SELECT count(*) FROM sn_zz")
      .toDF.collect()
    assert(!spark.catalog.tableExists("sn_zz"))
    val other = Table(Seq(1L).toDF("x"))
    intercept[AnalysisException](
      other.sql("SELECT count(*) FROM sn_other JOIN sn_zz ON true").toDF.collect())
  }

  test("the receiver resolves backquoted, case folded, in subqueries and " +
    "under a shadowing WITH") {
    val t = Table(Seq(1L, 2L, 3L).toDF("v"))
    def longs(q: String): Seq[Long] = t.sql(q).toDF.collect().map(_.getLong(0)).toSeq
    assert(longs("SELECT v FROM sn_t WHERE v IN (SELECT v FROM `sn_t`) ORDER BY v") ==
      Seq(1L, 2L, 3L))
    assert(longs("SELECT v FROM sn_t WHERE v > (SELECT min(v) FROM SN_T) ORDER BY v") ==
      Seq(2L, 3L))
    assert(longs("SELECT a.v FROM sn_t a JOIN sn_t b ON a.v = b.v + 1 ORDER BY a.v") ==
      Seq(2L, 3L))
    assert(longs("SELECT v FROM sn_t WHERE EXISTS (SELECT 1 FROM sn_t b WHERE b.v > 2) " +
      "ORDER BY v") == Seq(1L, 2L, 3L))
    // the receiver binds under the FIRST FROM name; an inner WITH of that
    // name shadows it, as any CTE scope does
    assert(longs(
      "SELECT count(*) FROM (WITH sn_t AS (SELECT 9 AS v) SELECT v FROM sn_t) x, sn_t") ==
      Seq(3L))
  }

  test("a backquoted first FROM name binds the receiver, also behind a comment") {
    val t = Table(Seq(3L, 1L, 2L).toDF("v"))
    def longs(q: String): Seq[Long] = t.sql(q).toDF.collect().map(_.getLong(0)).toSeq
    assert(longs("SELECT v FROM `sn_t` ORDER BY v") == Seq(1L, 2L, 3L))
    assert(longs("SELECT v FROM /* `x` */ `sn t` WHERE v > 1 ORDER BY v") == Seq(2L, 3L))
    assert(longs("SELECT v FROM -- `x`\n  `sn``t` ORDER BY v DESC") == Seq(3L, 2L, 1L))
  }
}
