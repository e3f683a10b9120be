package graft

import graft.api.Table
import org.apache.spark.sql.functions._

/** CTAS / CREATE VIEW statement forms (u11, [[graft.sql.DdlSql]]):
  * snapshot-vs-binding semantics, already-exists refusals, and the
  * native-path boundary.
  */
class DdlSqlSpec extends GraftSuite {
  import spark.implicits._

  test("CREATE TABLE materializes once; CREATE VIEW re-executes per " +
    "reference") {
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("ddl_base")
    val t = Table.sessionSql(spark,
      "CREATE OR REPLACE TEMP TABLE ddl_t AS SELECT k, v * 2 AS v2 " +
        "FROM ddl_base").toDF
    // the statement RETURNS the defined table (u09/u10 convention)
    assert(t.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 20L), (2L, 40L)))
    // materialized vs recomputed: a per-query clock pins it — the TABLE
    // froze its timestamp at definition; the VIEW computes a fresh one
    // per reference (both are EARLY-BOUND in names, documented)
    Table.sessionSql(spark,
      "CREATE OR REPLACE TEMP TABLE ddl_ts_t AS SELECT current_timestamp() AS ts")
    Table.sessionSql(spark,
      "CREATE OR REPLACE VIEW ddl_ts_v AS SELECT current_timestamp() AS ts")
    val t1 = spark.table("ddl_ts_t").collect().head.getTimestamp(0)
    val v1 = spark.table("ddl_ts_v").collect().head.getTimestamp(0)
    Thread.sleep(50)
    val t2 = spark.table("ddl_ts_t").collect().head.getTimestamp(0)
    val v2 = spark.table("ddl_ts_v").collect().head.getTimestamp(0)
    assert(t1 == t2, "TABLE must serve the materialized snapshot")
    assert(v1 != v2, "VIEW must re-execute its defining plan")
  }

  test("without OR REPLACE an existing binding refuses loudly") {
    Seq(1L).toDF("k").createOrReplaceTempView("ddl_dup")
    val e = intercept[IllegalArgumentException](Table.sessionSql(spark,
      "CREATE TABLE ddl_dup AS SELECT 1 AS x"))
    assert(e.getMessage.contains("already exists"))
    // a fresh name binds fine without OR REPLACE
    spark.catalog.dropTempView("ddl_fresh")
    assert(Table.sessionSql(spark,
      "CREATE TABLE ddl_fresh AS SELECT 1 AS x").toDF.count() == 1)
  }

  test("dialect forms compose inside the AS body; other CREATE forms " +
    "and malformed shapes behave") {
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "x")
      .createOrReplaceTempView("ddl_gb")
    val t = Table.sessionSql(spark,
      """CREATE OR REPLACE TEMP TABLE ddl_all AS
         SELECT g, count(*) AS n, sum(x) AS sx FROM ddl_gb
         GROUP BY ALL ORDER BY ALL""").toDF
    assert(t.columns.toSeq == Seq("g", "n", "sx"))
    assert(t.count() == 2)
    // CREATE forms this engine does not claim keep the native path
    // (here: Spark's own CREATE TEMPORARY VIEW ... USING errors natively,
    // proving DdlSql.parse returned None rather than claiming it)
    assert(graft.sql.DdlSql.parse(
      "CREATE DATABASE somewhere").isEmpty)
    assert(graft.sql.DdlSql.parse(
      "CREATE INDEX idx ON t (k)").isEmpty)
    // claimed-but-malformed shapes refuse loudly
    assert(intercept[IllegalArgumentException](graft.sql.DdlSql.parse(
      "CREATE TABLE db.t AS SELECT 1")).getMessage
      .contains("plain session view name"))
    // a bare (typeless) column definition refuses; the TYPED list is
    // the u17 schema-defined form, spec'd below
    assert(intercept[IllegalArgumentException](graft.sql.DdlSql.parse(
      "CREATE TABLE t (k)")).getMessage
      .contains("malformed column definition"))
  }

  test("round-16 statement forms COMPOSE: CTAS over a sampled body, " +
    "ON CONFLICT into it, recursion over it, COPY out") {
    import org.apache.spark.sql.functions._
    spark.range(1, 101).selectExpr("id AS k", "id * 10 AS v")
      .createOrReplaceTempView("comp_src")
    // 1. CTAS whose body carries a sampling clause (the md5 grid is
    //    deterministic, so the snapshot is reproducible)
    val t = Table.sessionSql(spark,
      """CREATE OR REPLACE TEMP TABLE comp_t AS
         SELECT k, v FROM comp_src USING SAMPLE 50%""").toDF
    val n0 = t.count()
    assert(n0 > 10 && n0 < 90, s"50% grid sample out of range: $n0")
    // 2. upsert INTO the snapshot's view binding
    val up = Table.sessionSql(spark,
      """INSERT INTO comp_t SELECT k, 1 FROM comp_src WHERE k <= 3
         ON CONFLICT (k) DO UPDATE SET v = excluded.v""").toDF
    up.createOrReplaceTempView("comp_t2")
    assert(up.filter("k <= 3 AND v = 1").count() == 3)
    // 3. a recursive statement with a helper CTE reading the result
    val reach = Table.sessionSql(spark,
      """WITH RECURSIVE
           small(k) AS (SELECT k FROM comp_t2 WHERE k <= 10),
           walk(k) AS (
             SELECT k FROM small WHERE k = 1
             UNION
             SELECT s.k FROM walk w JOIN small s ON s.k = w.k + 1)
         SELECT count(*) AS c FROM walk""").toDF.collect().head.getLong(0)
    // the walk covers the contiguous k<=10 prefix present in comp_t2
    // (k=1..3 guaranteed by the upsert)
    assert(reach >= 3)
    // 4. COPY the upserted table out and read it back
    val dir = s"target/tmp/comp_${java.util.UUID.randomUUID.toString.take(8)}"
    val back = Table.sessionSql(spark,
      s"COPY comp_t2 TO '$dir' (FORMAT PARQUET)").toDF
    assert(back.count() == up.count())
    assert(back.agg(sum(col("v"))).collect().head.getLong(0) ==
      up.agg(sum(col("v"))).collect().head.getLong(0))
  }

  test("TABLE materializes once: the snapshot survives source removal") {
    Seq((7L, "x")).toDF("k", "tag").createOrReplaceTempView("ddl_tmp_src")
    Table.sessionSql(spark,
      "CREATE OR REPLACE TEMP TABLE ddl_snap AS SELECT * FROM ddl_tmp_src")
    spark.catalog.dropTempView("ddl_tmp_src")
    // a VIEW over the dropped source would fail to analyze; the TABLE
    // snapshot still serves
    assert(spark.table("ddl_snap").collect().head.getLong(0) == 7L)
  }

  test("schema-defined CREATE TABLE (u17): empty typed frame; NOT NULL; " +
    "constraint and unknown-type refusals") {
    import org.apache.spark.sql.types._
    val t = Table.sessionSql(spark,
      """CREATE OR REPLACE TEMP TABLE ddl_schema (
           k BIGINT NOT NULL, s VARCHAR, v DOUBLE, d DATE,
           f BOOLEAN, g DECIMAL(12, 2), ts TIMESTAMP, n INT)""").toDF
    assert(t.count() == 0)
    assert(t.schema.map(f => (f.name, f.dataType, f.nullable)) == Seq(
      ("k", LongType, false), ("s", StringType, true),
      ("v", DoubleType, true), ("d", DateType, true),
      ("f", BooleanType, true), ("g", DecimalType(12, 2), true),
      ("ts", TimestampType, true), ("n", IntegerType, true)))
    // the binding is a session view the DML chain builds on
    assert(Table.sessionSql(spark,
      "INSERT INTO ddl_schema (k, s) VALUES (1, 'a')").toDF.count() == 1)
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "CREATE TABLE ddl_pk (k INT PRIMARY KEY)")).getMessage
      .contains("constraint"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "CREATE TABLE ddl_bad (k FANCYTYPE)")).getMessage
      .contains("unsupported column type"))
  }

  test("DROP TABLE/VIEW (u18): unbinds, IF EXISTS no-op, missing name " +
    "refuses; returns the dropped table's empty shape") {
    Table.sessionSql(spark,
      "CREATE OR REPLACE TEMP TABLE u18d AS SELECT 1 AS k, 'a' AS s")
    val shape = Table.sessionSql(spark, "DROP TABLE u18d").toDF
    assert(shape.columns.toSeq == Seq("k", "s") && shape.count() == 0)
    assert(!spark.catalog.tableExists("u18d"))
    // IF EXISTS on a missing name: clean no-op
    assert(Table.sessionSql(spark, "DROP VIEW IF EXISTS u18d").toDF
      .columns.isEmpty)
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "DROP TABLE u18d")).getMessage.contains("IF EXISTS"))
    // other DROP forms keep the native path (loud Spark error, not ours)
    assert(graft.sql.DdlSql.parseDrop("DROP FUNCTION f").isEmpty)
  }

  test("ALTER TABLE (u18): rename table/column, add/drop column; " +
    "refusals for constraints, clashes, unknown columns") {
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "s")
      .createOrReplaceTempView("u18a")
    Table.sessionSql(spark, "ALTER TABLE u18a ADD COLUMN v BIGINT")
    assert(spark.table("u18a").columns.toSeq == Seq("k", "s", "v"))
    assert(spark.table("u18a").filter("v IS NULL").count() == 2)
    Table.sessionSql(spark, "ALTER TABLE u18a RENAME COLUMN s TO label")
    assert(spark.table("u18a").columns.toSeq == Seq("k", "label", "v"))
    Table.sessionSql(spark, "ALTER TABLE u18a DROP COLUMN v")
    assert(spark.table("u18a").columns.toSeq == Seq("k", "label"))
    Table.sessionSql(spark, "ALTER TABLE u18a RENAME TO u18b")
    assert(!spark.catalog.tableExists("u18a") &&
      spark.table("u18b").count() == 2)
    def bad(q: String): String =
      intercept[IllegalArgumentException](
        Table.sessionSql(spark, q)).getMessage
    assert(bad("ALTER TABLE u18b ADD COLUMN c INT NOT NULL")
      .contains("constraints are not supported"))
    assert(bad("ALTER TABLE u18b ADD COLUMN k INT")
      .contains("already exists"))
    assert(bad("ALTER TABLE u18b DROP COLUMN nope")
      .contains("no column"))
    assert(bad("ALTER TABLE u18b RENAME COLUMN k TO label")
      .contains("already exists"))
    assert(bad("ALTER TABLE nope_t RENAME TO x")
      .contains("no such session"))
    // dropping the last column refuses (a zero-column frame is useless)
    Table.sessionSql(spark, "ALTER TABLE u18b DROP COLUMN label")
    assert(bad("ALTER TABLE u18b DROP COLUMN k")
      .contains("zero-column"))
    spark.catalog.dropTempView("u18b")
  }

  test("ALTER COLUMN TYPE (u18 ext): in-place cast projection, SET DATA " +
    "TYPE spelling, USING conversion, lossy casts throw (ANSI)") {
    import spark.implicits._
    Seq((1L, "10", 2.5), (2L, "20", 3.5)).toDF("k", "s", "d")
      .createOrReplaceTempView("u18c")
    Table.sessionSql(spark, "ALTER TABLE u18c ALTER COLUMN s TYPE BIGINT")
    val t1 = spark.table("u18c")
    assert(t1.schema("s").dataType ==
      org.apache.spark.sql.types.LongType)
    // column position preserved; values cast
    assert(t1.columns.toSeq == Seq("k", "s", "d"))
    assert(t1.orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(10L, 20L))
    // SET DATA TYPE spelling + USING conversion expression
    Table.sessionSql(spark,
      "ALTER TABLE u18c ALTER COLUMN d SET DATA TYPE STRING " +
        "USING concat('v', CAST(d AS INT))")
    assert(spark.table("u18c").orderBy("k").collect()
      .map(_.getString(2)).toSeq == Seq("v2", "v3"))
    // a malformed cast throws at execution (ANSI — DuckDB's behavior)
    Seq((1L, "x")).toDF("k", "s").createOrReplaceTempView("u18m")
    assert(intercept[Exception](
      Table.sessionSql(spark,
        "ALTER TABLE u18m ALTER COLUMN s TYPE INT").toDF.collect())
      .toString.nonEmpty)
    // unknown column / missing TYPE keyword refuse loudly
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "ALTER TABLE u18c ALTER COLUMN nope TYPE INT")).getMessage
      .contains("no column"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "ALTER TABLE u18c ALTER COLUMN s BIGINT")).getMessage
      .contains("TYPE"))
    spark.catalog.dropTempView("u18c")
    spark.catalog.dropTempView("u18m")
  }

  test("multi-statement scripts (u20): sequential execution, DML " +
    "post-images visible downstream, RETURNING only terminal") {
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s")
      .createOrReplaceTempView("u20src")
    val got = Table.sessionSql(spark,
      """DROP TABLE IF EXISTS u20x;
         CREATE OR REPLACE TEMP TABLE u20x AS SELECT * FROM u20src;
         INSERT INTO u20x VALUES (4, 'd;e');
         UPDATE u20x SET s = upper(s) WHERE k >= 3;
         DELETE FROM u20x WHERE k = 1;
         SELECT k, s FROM u20x ORDER BY k""").toDF
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((2, "b"), (3, "C"), (4, "D;E")))
    // the mutations persisted in the session binding too
    assert(spark.table("u20x").count() == 3)
    // terminal RETURNING is fine; mid-script RETURNING refuses
    assert(Table.sessionSql(spark,
      """INSERT INTO u20x VALUES (9, 'z') RETURNING k;""").toDF
      .collect().head.getInt(0) == 9)
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      """INSERT INTO u20x VALUES (10, 'y') RETURNING k;
         SELECT count(*) FROM u20x""")).getMessage
      .contains("FINAL statement"))
    // trailing semicolon on a single statement is tolerated
    assert(Table.sessionSql(spark, "SELECT 1 AS one;").toDF
      .collect().head.getInt(0) == 1)
    spark.catalog.dropTempView("u20x")
  }

  test("script transactions (u22): COMMIT keeps, ROLLBACK restores the " +
    "pre-BEGIN catalog (rebinds AND created views), errors abort") {
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("u22t")
    // COMMIT: the transaction's writes persist
    val c = Table.sessionSql(spark,
      """BEGIN;
         UPDATE u22t SET v = v + 1;
         COMMIT;
         SELECT sum(v) AS sv FROM u22t""").toDF.collect().head.getLong(0)
    assert(c == 32L)
    // ROLLBACK: pre-BEGIN state returns — the UPDATE, an INSERT and a
    // CREATE all unwind; post-script SELECT sees the committed 32
    val r = Table.sessionSql(spark,
      """BEGIN TRANSACTION;
         UPDATE u22t SET v = v * 100;
         CREATE OR REPLACE TEMP TABLE u22new AS SELECT 1 AS one;
         ROLLBACK;
         SELECT sum(v) AS sv FROM u22t""").toDF.collect().head.getLong(0)
    assert(r == 32L)
    // the view created inside the rolled-back transaction is GONE
    assert(!spark.catalog.tableExists("u22new"))
    // a failing statement inside an open transaction rolls back first
    assert(intercept[Exception](Table.sessionSql(spark,
      """BEGIN;
         UPDATE u22t SET v = v * 7;
         SELECT no_such_column FROM u22t;
         COMMIT;
         SELECT 1""")).getMessage.nonEmpty)
    assert(Table.sessionSql(spark, "SELECT sum(v) AS sv FROM u22t").toDF
      .collect().head.getLong(0) == 32L)
    // refusal matrix: nesting, dangling BEGIN, orphan control words
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "BEGIN; BEGIN; COMMIT; SELECT 1")).getMessage
      .contains("do not nest"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "BEGIN; SELECT 1")).getMessage.contains("open transaction"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "SELECT 1; COMMIT")).getMessage.contains("COMMIT without BEGIN"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      "ROLLBACK")).getMessage.contains("multi-statement scripts"))
    // ABORT is ROLLBACK's alias (Postgres)
    val a = Table.sessionSql(spark,
      """BEGIN;
         DELETE FROM u22t WHERE k = 1;
         ABORT;
         SELECT count(*) AS n FROM u22t""").toDF.collect().head.getLong(0)
    assert(a == 2L)
    spark.catalog.dropTempView("u22t")
  }

  test("DROP builds the dropped table's empty shape without a job") {
    Table.sessionSql(spark, "CREATE OR REPLACE TEMP TABLE u18j AS " +
      "SELECT CAST(k AS INT) AS k, s, map('a', v) AS m, array(v) AS a " +
      "FROM VALUES (1, 'x', 2.5D), (2, NULL, 3.5D) AS t(k, s, v)")
    val before = spark.table("u18j").schema
    var shape: org.apache.spark.sql.DataFrame = null
    assert(SparkTestBase.trace.jobsDuring {
      shape = Table.sessionSql(spark, "DROP TABLE u18j").toDF
    } == 0)
    assert(shape.schema == before)
    assert(shape.collect().isEmpty)
    assert(!spark.catalog.tableExists("u18j"))
  }
}
