package graft

import graft.api.Table
import org.apache.spark.sql.functions._

/** COPY … TO export statement form (io21, [[graft.sql.CopySql]]):
  * parquet round-trip fidelity, CSV divergence, extension defaults,
  * overwrite semantics, loud refusals.
  */
class CopySqlSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    s"target/tmp/copyspec_${name}_${java.util.UUID.randomUUID.toString.take(8)}"

  test("parquet COPY round-trips values and types exactly") {
    Seq((1L, "a", 1.5), (2L, null.asInstanceOf[String], -0.0))
      .toDF("k", "s", "d").createOrReplaceTempView("copy_src")
    val p = tmp("pq")
    val back = Table.sessionSql(spark,
      s"COPY copy_src TO '$p' (FORMAT PARQUET)").toDF
    // names + types round-trip exactly (nullability widens on read —
    // parquet carries no required-ness for these writers)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      spark.table("copy_src").schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("k").collect().map(_.toSeq).toSeq ==
      spark.table("copy_src").orderBy("k").collect().map(_.toSeq).toSeq)
    // overwrite: a second COPY to the same path replaces, never appends
    val again = Table.sessionSql(spark,
      s"COPY copy_src TO '$p' (FORMAT PARQUET)").toDF
    assert(again.count() == 2)
  }

  test("format defaults from the path extension; subquery sources " +
    "re-enter the pipeline") {
    Seq((10L, 3L), (20L, 4L)).toDF("k", "v")
      .createOrReplaceTempView("copy_sub")
    val p = tmp("ext") + ".parquet"
    val back = Table.sessionSql(spark,
      s"COPY (SELECT k, v * 2 AS v2 FROM copy_sub ORDER BY k) TO '$p'").toDF
    assert(back.columns.toSeq == Seq("k", "v2"))
    assert(back.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 6L), (20L, 8L)))
  }

  test("CSV writes a header and reads back inferred (documented " +
    "divergence); loud refusals on malformed shapes") {
    Seq((1L, "x")).toDF("k", "tag").createOrReplaceTempView("copy_csv")
    val back = Table.sessionSql(spark,
      s"COPY copy_csv TO '${tmp("csv")}.csv'").toDF
    assert(back.columns.toSeq == Seq("k", "tag"))
    assert(back.collect().head.getString(1) == "x")
    assert(intercept[IllegalArgumentException](graft.sql.CopySql.parse(
      "COPY t TO 'x.txt'")).getMessage.contains("FORMAT"))
    assert(intercept[IllegalArgumentException](graft.sql.CopySql.parse(
      "COPY t TO x.parquet")).getMessage.contains("single-quoted"))
    assert(intercept[IllegalArgumentException](graft.sql.CopySql.parse(
      "COPY t TO 'x.parquet' (DELIMITER ',')")).getMessage
      .contains("CSV options"))
    // a subquery cannot RECEIVE rows
    assert(intercept[IllegalArgumentException](graft.sql.CopySql.parse(
      "COPY (SELECT 1) FROM 'x.parquet'")).getMessage
      .contains("named table"))
    // non-COPY statements are not claimed
    assert(graft.sql.CopySql.parse("SELECT 'copy t to' AS s").isEmpty)
  }

  test("a quote inside the COPY path refuses instead of cutting the " +
    "path short") {
    Seq((1L, "x")).toDF("k", "tag").createOrReplaceTempView("copy_quote")
    val p = tmp("quote")
    val e = intercept[IllegalArgumentException](Table.sessionSql(spark,
      s"COPY copy_quote TO '$p/it''s.parquet'"))
    assert(e.getMessage.contains("plain non-empty literal"))
    assert(!new java.io.File(s"$p/it").exists())
  }

  test("JSON COPY writes NDJSON and reads back (documented lossy " +
    "typing divergence)") {
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .createOrReplaceTempView("copy_json")
    val p = tmp("json") + ".json"
    val back = Table.sessionSql(spark, s"COPY copy_json TO '$p'").toDF
    assert(back.columns.sorted.toSeq == Seq("k", "s"))
    assert(back.count() == 2)
    // the written files are newline-delimited JSON objects
    val lines = spark.read.text(p).collect().map(_.getString(0))
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }

  test("COPY FROM appends file rows into the target, aligned by name " +
    "and cast into the target types") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("copy_from_t")
    // the file carries the columns in a DIFFERENT order + narrower types
    Seq((5, 99, "z")).toDF("v", "k", "tag")
      .createOrReplaceTempView("copy_from_extra")
    val p = tmp("from") + ".parquet"
    Table.sessionSql(spark, s"COPY copy_from_extra TO '$p'")
    val out = Table.sessionSql(spark, s"COPY copy_from_t FROM '$p'").toDF
    // names + types match the target (nullability widens: the union of
    // target rows with cast file rows is nullable wherever either is)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      spark.table("copy_from_t").schema.map(f => (f.name, f.dataType)))
    assert(out.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (99L, "z", 5.0)))
    // a file missing a target column refuses loudly
    Seq((1L, "only")).toDF("k", "tag").createOrReplaceTempView("copy_narrow")
    val p2 = tmp("fromn") + ".parquet"
    Table.sessionSql(spark, s"COPY copy_narrow TO '$p2'")
    assert(intercept[IllegalArgumentException](
      Table.sessionSql(spark, s"COPY copy_from_t FROM '$p2'"))
      .getMessage.contains("no column 'v'"))
  }

  test("CSV options (HEADER/DELIMITER, DuckDB grammar): headerless " +
    "pipe-delimited round-trip maps positionally") {
    Seq((1L, "a"), (2L, "b")).toDF("k", "tag")
      .createOrReplaceTempView("copy_opt")
    val p = tmp("opt")
    Table.sessionSql(spark,
      s"COPY copy_opt TO '$p' (FORMAT CSV, HEADER false, DELIMITER '|')")
    // raw file: no header line, pipe-separated
    val lines = spark.read.text(p).collect().map(_.getString(0)).sorted
    assert(lines.toSeq == Seq("1|a", "2|b"))
    // import appends positionally into the target schema
    Seq((9L, "z")).toDF("k", "tag").createOrReplaceTempView("copy_opt_t")
    val out = Table.sessionSql(spark,
      s"COPY copy_opt_t FROM '$p' (FORMAT CSV, HEADER false, DELIM '|')")
      .toDF.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (9L, "z")))
    // bare HEADER means true; unknown options and non-CSV carriers refuse
    val p2 = tmp("opt2")
    Table.sessionSql(spark, s"COPY copy_opt TO '$p2' (FORMAT CSV, HEADER)")
    // header lines exist (one per part file — the distributed-writer
    // shape) and the headered read-back recovers exactly the 2 rows
    assert(spark.read.text(p2).count() > 2)
    assert(spark.read.option("header", "true").csv(p2).count() == 2)
    assert(intercept[IllegalArgumentException](graft.sql.CopySql.parse(
      "COPY t TO 'x.parquet' (FORMAT PARQUET, HEADER false)"))
      .getMessage.contains("CSV options"))
    assert(intercept[IllegalArgumentException](graft.sql.CopySql.parse(
      "COPY t TO 'x.csv' (DELIMITER 'ab')")).getMessage
      .contains("ONE-character"))
  }

  test("CSV fidelity trio (QUOTE/ESCAPE/NULLSTR, r18): embedded " +
    "delimiters, embedded quote chars and NULLs round-trip byte-exact") {
    val dirty = Seq(
      (1L, Option("a,b")),        // embedded delimiter
      (2L, Option("say \"hi\"")), // embedded default-quote char
      (3L, Option.empty[String]), // NULL -> NULLSTR -> NULL
      (4L, Option("~N~ not null")), // contains the marker as CONTENT
      (5L, Option("")))           // empty string stays empty, not NULL
      .toDF("k", "s")
    dirty.createOrReplaceTempView("copy_dirty")
    val p = tmp("dirty")
    Table.sessionSql(spark,
      s"""COPY copy_dirty TO '$p'
          (FORMAT CSV, QUOTE '"', ESCAPE '"', NULLSTR '~N~')""")
    // COPY TO returns the read-back — but prove it independently too
    Seq((0L, Option("seed"))).toDF("k", "s")
      .createOrReplaceTempView("copy_dirty_t")
    val back = Table.sessionSql(spark,
      s"""COPY copy_dirty_t FROM '$p'
          (FORMAT CSV, QUOTE '"', ESCAPE '"', NULLSTR '~N~')""").toDF
      .filter("k > 0").orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(back == Seq((1L, Some("a,b")), (2L, Some("say \"hi\"")),
      (3L, None), (4L, Some("~N~ not null")), (5L, Some(""))))
    // quote-doubling style on disk: the embedded quote doubles
    val raw = spark.read.text(p).collect().map(_.getString(0))
    assert(raw.exists(_.contains("\"say \"\"hi\"\"\"")))
    assert(raw.exists(_.contains("~N~")))
    // QUOTE without ESCAPE defaults the escape to the quote char
    // (DuckDB's doubling rule) — same file reads back identically
    val p2 = tmp("dirty2")
    Table.sessionSql(spark,
      s"COPY copy_dirty TO '$p2' (FORMAT CSV, QUOTE '\"', NULLSTR '~N~')")
    val b2 = Table.sessionSql(spark,
      s"COPY copy_dirty_t FROM '$p2' (FORMAT CSV, QUOTE '\"', " +
        "NULLSTR '~N~')").toDF
      .filter("k = 2").collect().map(_.getString(1)).toSeq
    assert(b2 == Seq("say \"hi\""))
    // single-quote as the CSV quote char spells '''' (doubled)
    val st = graft.sql.CopySql.parse(
      "COPY t TO 'x.csv' (QUOTE '''', ESCAPE '''')").get
    assert(st.quote == Some("'") && st.escape == Some("'"))
    // non-CSV carriers refuse the trio
    assert(intercept[IllegalArgumentException](graft.sql.CopySql.parse(
      "COPY t TO 'x.parquet' (FORMAT PARQUET, QUOTE '\"')")).getMessage
      .contains("CSV options"))
  }

  test("COPY TO refuses to overwrite a target that is not a prior " +
    "export (recursive-delete guard)") {
    Seq((1L, "x")).toDF("k", "s").createOrReplaceTempView("copy_guard")
    val dir = tmp("guard")
    new java.io.File(dir).mkdirs()
    // a stray user file in the target → loud refusal, nothing deleted
    val stray = new java.io.File(dir, "important.txt")
    java.nio.file.Files.write(stray.toPath, "keep me".getBytes)
    val err = intercept[IllegalArgumentException](
      Table.sessionSql(spark, s"COPY copy_guard TO '$dir' (FORMAT PARQUET)"))
    assert(err.getMessage.contains("prior export"))
    assert(stray.exists() && new String(
      java.nio.file.Files.readAllBytes(stray.toPath)) == "keep me")
    // an empty directory and a prior export both overwrite fine
    val dir2 = tmp("guard2")
    new java.io.File(dir2).mkdirs()
    assert(Table.sessionSql(spark,
      s"COPY copy_guard TO '$dir2' (FORMAT PARQUET)").toDF.count() == 1)
    assert(Table.sessionSql(spark,
      s"COPY copy_guard TO '$dir2' (FORMAT PARQUET)").toDF.count() == 1)
  }

  test("PARTITION_BY (io23): hive layout on disk, partition columns " +
    "recovered on read-back, overwrite gate accepts the nested layout") {
    Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "x", 30L))
      .toDF("k", "p1", "p2", "v").createOrReplaceTempView("copy_part")
    val dir = tmp("part")
    val back = Table.sessionSql(spark,
      s"COPY copy_part TO '$dir' (FORMAT PARQUET, PARTITION_BY (p1, p2))")
      .toDF
    // partition columns come back (at the END — Spark's layout rule)
    assert(back.columns.toSeq == Seq("k", "v", "p1", "p2"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(2),
      r.getString(3), r.getLong(1))).toSet ==
      Set((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "x", 30L)))
    // the layout on disk is the nested key=value tree both engines write
    assert(new java.io.File(s"$dir/p1=a/p2=y").isDirectory)
    // a second export onto the same path passes the overwrite gate
    // (nested partitioned layout recognized as a prior export)
    assert(Table.sessionSql(spark,
      s"COPY copy_part TO '$dir' (FORMAT PARQUET, PARTITION_BY (p1, p2))")
      .toDF.count() == 3)
    // single-column unparenthesized form
    val dir2 = tmp("part1")
    assert(Table.sessionSql(spark,
      s"COPY copy_part TO '$dir2' (FORMAT PARQUET, PARTITION_BY p1)")
      .toDF.count() == 3)
    // refusals: import direction, non-bare column
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      s"COPY copy_part FROM '$dir' (FORMAT PARQUET, PARTITION_BY (p1))"))
      .getMessage.contains("export"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      s"COPY copy_part TO '${tmp("partbad")}' " +
        "(FORMAT PARQUET, PARTITION_BY (p1 + 1))"))
      .getMessage.contains("bare column"))
  }

  test("EXPORT/IMPORT DATABASE (io25): catalog round-trip in isolated " +
    "sessions, manifest, gate, refusals") {
    val s2 = spark.newSession()
    import org.apache.spark.sql.functions.col
    s2.range(5).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("exp_a")
    s2.range(3).select(col("id").as("k")).createOrReplaceTempView("exp_b")
    // internal __-prefixed views are machinery, never exported
    s2.range(1).createOrReplaceTempView("__scratch_x")
    val dir = tmp("expdb")
    val summary = Table.sessionSql(s2, s"EXPORT DATABASE '$dir'").toDF
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(summary == Seq(("exp_a", 5L), ("exp_b", 3L)))
    assert(new java.io.File(s"$dir/_graft_tables.txt").exists())
    val s3 = spark.newSession()
    val imported = Table.sessionSql(s3, s"IMPORT DATABASE '$dir'").toDF
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(imported == Seq(("exp_a", 5L), ("exp_b", 3L)))
    assert(s3.table("exp_a").agg(org.apache.spark.sql.functions
      .sum(col("v"))).collect().head.getLong(0) == 20L)
    // refusals: import of a non-export dir, options on IMPORT, empty
    // catalog export, unsafe target
    assert(intercept[IllegalArgumentException](Table.sessionSql(s3,
      s"IMPORT DATABASE '${tmp("notdb")}'")).getMessage
      .contains("not a prior EXPORT"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(s3,
      s"IMPORT DATABASE '$dir' (FORMAT CSV)")).getMessage
      .contains("takes no options"))
    val s4 = spark.newSession()
    assert(intercept[IllegalArgumentException](Table.sessionSql(s4,
      s"EXPORT DATABASE '${tmp("empty")}'")).getMessage
      .contains("binds no tables"))
    val guarded = tmp("guarddb")
    new java.io.File(guarded).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(guarded, "user.txt"), "keep".getBytes)
    assert(intercept[IllegalArgumentException](Table.sessionSql(s2,
      s"EXPORT DATABASE '$guarded'")).getMessage
      .contains("prior export"))
  }
}
