package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{avg, col, concat, lit, stddev_pop, sum}
import org.apache.spark.sql.types._

import graft.api.Table

/** Ports of the reference's golden-query patterns over its in-memory
  * fixtures (reference: vinum/tests/conftest.py:27-102,
  * test_query_results.py), incl. the null-riddled table A3 and the
  * SURVEY §7 semantic decisions (null-predicate rows drop, nulls sort
  * last, HAVING without GROUP BY).
  */
class TableApiSpec extends GraftSuite {

  private lazy val trips: Table = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("vendor_id", LongType),
      StructField("city_from", StringType), StructField("city_to", StringType),
      StructField("name", StringType), StructField("tax", DoubleType),
      StructField("tip", DoubleType), StructField("total", DoubleType)))
    Table.fromRows(spark, schema, Seq(
      Row(1L, 1L, "Berlin", "Munich", "Joe", 0.43, 1.0, 2.43),
      Row(2L, 2L, "Munich", "Riva", "Jonas", 0.39, 5.34, 8.39),
      Row(3L, 1L, "Riva", "Naples", "Joseph", 0.12, 11.0, 11.12),
      Row(4L, 3L, "San Francisco", "Naples", "Joe", 0.71, 5.0, 15.71)))
  }

  private lazy val nulls: Table = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("city_from", StringType),
      StructField("name", StringType), StructField("total", DoubleType)))
    Table.fromRows(spark, schema, Seq(
      Row(1L, null, "Ann", null),
      Row(2L, "Berlin", null, 10.0),
      Row(3L, null, "Bob", 20.0),
      Row(4L, "Munich", "Cid", 30.0),
      Row(5L, "Berlin", null, Double.NaN),
      Row(6L, "Riva", "Dee", null),
      Row(7L, "Munich", "Eve", 40.0),
      Row(8L, "Riva", "Fay", Double.NaN)))
  }

  test("projection with expressions and aliases") {
    val r = trips.sql("select id, total - tip - tax as base from trip order by id")
      .toDF.collect()
    assert(r.length == 4)
    assert(math.abs(r(0).getDouble(1) - 1.0) < 1e-9)
  }

  test("unsigned parquet ingestion widens per the SURVEY §1 type table") {
    // fixture written with uint8/16/32/64 columns (src/test/resources);
    // Spark's parquet reader widens unsigned types natively — this pins
    // the mapping (uint8→short, uint16→int, uint32→long,
    // uint64→decimal(20,0)) and the boundary VALUES above the signed max.
    // float16 is NOT readable (PARQUET_TYPE_ILLEGAL, verified): convert
    // half floats upstream before ingestion.
    val t = Table.fromParquet(spark, "src/test/resources/unsigned_types.parquet")
    val types = t.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("u8") == "smallint" && types("u16") == "int" &&
      types("u32") == "bigint" && types("u64") == "decimal(20,0)")
    val r = t.sql("select u8, u16, u32, u64 from t order by id desc limit 1")
      .toDF.collect()(0)
    assert(r.getShort(0) == 255 && r.getInt(1) == 65535)
    assert(r.getLong(2) == 4294967295L)
    assert(r.getDecimal(3) == new java.math.BigDecimal("18446744073709551615"))
  }

  test("output naming policy matches the reference (planner.py:290-328)") {
    // function calls -> function name; duplicates -> _1 suffixes
    val t1 = trips.sql("select sum(tip), sum(total), count(*) from trip")
    assert(t1.columnNames == Seq("sum", "sum_1", "count"))
    // unaliased non-function expressions -> col_N; columns keep their name
    val t2 = trips.sql("select id, tip + tax, 2 + 2, name from trip order by id")
    assert(t2.columnNames == Seq("id", "col_0", "col_1", "name"))
    // explicit aliases win; np.* functions read back with the dot
    val t3 = trips.sql("select np.log(total), total as t from trip order by t")
    assert(t3.columnNames == Seq("np.log", "t"))
    // the README z-score shape: same function twice -> score, score_1
    graft.functions.Registry.registerColumnFn(spark, "score", { case Seq(x) =>
      (x - graft.functions.Registry.wholeColumn(avg(x))) /
        graft.functions.Registry.wholeColumn(stddev_pop(x))
    })
    val t4 = trips.sql("select tip, score(tip), total, score(total) from trip order by id")
    assert(t4.columnNames == Seq("tip", "score", "total", "score_1"))
    // star select keeps native names untouched
    assert(trips.sql("select * from trip").columnNames.head == "id")
    // window function without alias -> function name
    val t5 = trips.sql("select id, row_number() over (order by total) from trip")
    assert(t5.columnNames == Seq("id", "row_number"))
    // CTE: the policy applies to the outer select list
    val t6 = trips.sql(
      """with big as (select * from trip where total > 5)
         select count(*), max(total) from big""")
    assert(t6.columnNames == Seq("count", "max"))
    // subquery in FROM: outer list names win
    val t7 = trips.sql(
      "select s.total + 1 from (select total from trip) s order by s.total")
    assert(t7.columnNames == Seq("col_0"))
  }

  test("concat null semantics: SQL any-null-null (documented divergence from vinum)") {
    // vinum's numpy cast renders null as the string 'None' inside concat
    // (reference test_query_results.py:1303-1327); SURVEY §2.8 decided to
    // follow standard SQL/DuckDB instead (oracle-verifiable): concat with
    // any null input is null, while upper/lower preserve null like the
    // reference. This test pins OUR side of the divergence.
    val r = nulls.sql(
      """select id, name || '-x' as tagged, upper(name) as up
         from t order by id""").toDF.collect()
    assert(r(0).getString(1) == "Ann-x" && r(0).getString(2) == "ANN")
    assert(r(1).isNullAt(1) && r(1).isNullAt(2)) // id=2 name is null
  }

  test("filter drops null-predicate rows (standard SQL, not vinum's emit_null)") {
    val r = nulls.sql("select id from t where total > 15 order by id").toDF.collect()
    // null predicates drop their rows; NaN sorts greater than any double in
    // Spark's (and DuckDB's) total ordering, so the NaN rows 5 and 8 pass.
    assert(r.map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L, 7L, 8L))
  }

  test("group by with null group key forms its own group") {
    val r = nulls.sql(
      """select city_from, count(*) as n, count(total) as nt from t
         group by city_from order by city_from asc nulls last""").toDF.collect()
    assert(r.length == 4)
    assert(r.last.isNullAt(0) && r.last.getLong(1) == 2)
  }

  test("count(*) counts nulls, count(col) does not") {
    val r = nulls.sql("select count(*) as a, count(total) as b, count(name) as c from t")
      .toDF.collect()(0)
    assert(r.getLong(0) == 8)
    assert(r.getLong(1) == 6) // NaN is not null
    assert(r.getLong(2) == 6)
  }

  test("all-null group: sum/min/max are null") {
    val r = nulls.sql(
      """select sum(total) as s from t where id in (1, 6)""").toDF.collect()(0)
    assert(r.isNullAt(0))
  }

  test("order by nulls last (reference golden semantics)") {
    val r = nulls.sql(
      "select id, city_from from t order by city_from asc nulls last, id")
      .toDF.collect()
    assert(r.takeRight(2).forall(_.isNullAt(1)))
  }

  test("HAVING without GROUP BY acts as post-aggregation filter") {
    val ok = trips.sql("select sum(tip) as s from trip having sum(tip) > 20").toDF.collect()
    assert(ok.length == 1)
    val empty = trips.sql("select sum(tip) as s from trip having sum(tip) > 1000").toDF.collect()
    assert(empty.isEmpty)
  }

  test("distinct") {
    val r = trips.sql("select distinct name from trip order by name").toDF.collect()
    assert(r.map(_.getString(0)).toSeq == Seq("Joe", "Jonas", "Joseph"))
  }

  test("limit / offset") {
    val r = trips.sql("select id from trip order by id limit 2 offset 1").toDF.collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("shared subexpression computed consistently (CSE parity)") {
    val r = trips.sql(
      "select tip + tax as a, (tip + tax) * 2 as b from trip order by id").toDF.collect()
    r.foreach(row => assert(math.abs(row.getDouble(1) - 2 * row.getDouble(0)) < 1e-12))
  }

  test("explainSql returns a physical plan") {
    assert(trips.explainSql("select count(*) from trip").contains("== Physical Plan =="))
  }

  test("explainTree dumps the parsed query tree (print_query_tree parity)") {
    val t = trips.explainTree("select tip + tax as s from trip where tip > 1 order by id")
    // unresolved parser output, not an executed plan: the AST keeps the
    // clause structure and raw identifiers
    assert(t.contains("'Sort"))
    assert(t.contains("'Filter"))
    assert(t.contains("'UnresolvedRelation [trip]"))
    // dialect pre-passes run before parsing, same as Table.sql
    val x = trips.explainTree("select id # 1 as z from trip where z > 0")
    assert(x.contains("^") || x.contains("xor"))
  }

  test("SUMMARIZE dialect form: DuckDB column shape, exact stats, query " +
      "targets, explain parity") {
    val s = trips.sql("SUMMARIZE trip").toDF
    assert(s.columns.toSeq == Seq("column_name", "column_type", "min",
      "max", "approx_unique", "avg", "std", "q25", "q50", "q75", "count",
      "null_percentage"))
    // rows in table column order, types named DuckDB-style
    val byCol = s.collect().map(r => r.getString(0) -> r).toMap
    assert(s.collect().map(_.getString(0)).toSeq == trips.columnNames)
    val id = byCol("id")
    assert(id.getString(1) == "BIGINT")
    // trip ids are 1..4: exact stats, not sketches
    assert(id.getString(2) == "1" && id.getLong(4) == 4L &&
      id.getDouble(5) == 2.5 && id.getDouble(7) == 1.75 &&
      id.getLong(10) == 4L && id.getDouble(11) == 0.0)
    // a SELECT target runs the full dialect pipeline first
    val sub = trips.sql("SUMMARIZE SELECT tip + tax AS s FROM trip").toDF
    assert(sub.count() == 1 && sub.head.getString(0) == "s" &&
      sub.head.getString(1) == "DOUBLE")
    // ... including the FROM-first form
    val ff = trips.sql("SUMMARIZE FROM trip SELECT id").toDF
    assert(ff.head.getString(0) == "id")
    // a literal containing the word never triggers the form
    val lit = trips.sql("select 'SUMMARIZE trip' as s from trip limit 1").toDF
    assert(lit.head.getString(0) == "SUMMARIZE trip")
    // explain entry points route the form too (dialect parity)
    assert(trips.explainSql("SUMMARIZE trip").nonEmpty)
    assert(trips.explainTree("SUMMARIZE trip").contains("Generate"))
    // dotted column names profile as columns, not struct-field access
    val dotted = trips.sql("SUMMARIZE SELECT id AS `a.b` FROM trip").toDF
    assert(dotted.head.getString(0) == "a.b" &&
      dotted.head.getLong(4) == 4L)
  }

  test("DESCRIBE dialect form: DuckDB's six columns, schema order, " +
      "query targets, explain parity") {
    val d = trips.sql("DESCRIBE trip").toDF
    assert(d.columns.toSeq == Seq("column_name", "column_type", "null",
      "key", "default", "extra"))
    val rows = d.collect()
    assert(rows.map(_.getString(0)).toSeq == trips.columnNames)
    assert(rows.head.getString(1) == "BIGINT" &&
      rows.last.getString(1) == "DOUBLE")
    assert(rows.forall(r => r.getString(2) == "YES" && r.isNullAt(3)))
    // a SELECT target describes the derived schema
    val sub = trips.sql("DESCRIBE SELECT tip + tax AS s FROM trip").toDF
    assert(sub.count() == 1 && sub.head.getString(0) == "s" &&
      sub.head.getString(1) == "DOUBLE")
    // literal containing the word never triggers; explain parity holds
    val lit = trips.sql("select 'DESCRIBE trip' as s from trip limit 1").toDF
    assert(lit.head.getString(0) == "DESCRIBE trip")
    assert(trips.explainSql("DESCRIBE trip").nonEmpty)
    assert(trips.explainTree("DESCRIBE trip").contains("LocalRelation"))
  }

  test("toArrowIpc round-trips values and nulls through an Arrow reader (to_arrow parity)") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val bytes = trips.sql(
      """select id, tip + tax as s, to_str(id) as name,
                case when id = 2 then null else tip end as maybe
         from trip order by id""").toArrowIpc
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      assert(reader.loadNextBatch())
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.getFields.size() == 4)
      assert(root.getRowCount == trips.count())
      val ids = root.getVector("id").asInstanceOf[org.apache.arrow.vector.BigIntVector]
      assert((0 until root.getRowCount).map(ids.get).toSeq ==
        (0 until root.getRowCount).map(_ + 1L).toSeq)
      val maybe = root.getVector("maybe")
      assert(maybe.isNull(1), "null cell must survive the export")
      assert(!maybe.isNull(0))
    } finally { reader.close(); alloc.close() }
  }

  test("Arrow IPC full round-trip: toArrowIpc -> fromArrowIpc preserves rows (from_arrow parity)") {
    val orig = trips.sql(
      """select id, name, tip, total > 10.0 as big,
                case when id = 3 then null else city_from end as maybe_city
         from trip order by id""")
    val back = Table.fromArrowIpc(spark, orig.toArrowIpc)
    assert(back.schema.fieldNames.toSeq == orig.schema.fieldNames.toSeq)
    val a = orig.toDF.collect().map(_.toSeq).toSeq
    val b = back.toDF.collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("describe profiles every column (or the named subset) in one pass") {
    val all = trips.describe().toDF.collect()
    assert(all.length == trips.columnNames.length)
    val one = trips.describe("name").toDF.collect()
    assert(one.length == 1 && one.head.getString(0) == "name")
  }

  test("sqlPd renders the result table as a string (sql_pd parity)") {
    val s = trips.sqlPd("select id, name from trip order by id limit 2")
    assert(s.contains("id") && s.contains("name"))
    assert(s.linesIterator.count(_.startsWith("+")) == 3) // boxed table
    assert(s.contains("Joe"))
  }

  test("setBatchSize maps to the Arrow batch conf and returns the prior value") {
    val prev = Table.setBatchSize(spark, 4096)
    assert(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "4096")
    assert(Table.setBatchSize(spark, prev) == 4096)
    intercept[IllegalArgumentException](Table.setBatchSize(spark, 0))
  }

  test("writeArrowIpcFiles: one stream per partition, multi-batch, lossless") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_").toString
    val df = (1L to 1000L).toDF("x")
      .select(col("x"), concat(lit("row"), col("x")).as("s"))
      .repartition(3)
    val n = graft.api.ArrowExport.writeArrowIpcFiles(df, dir, batchRows = 100)
    assert(n == 1000L)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".arrow"))
    assert(files.length == 3, s"expected 3 partition files, got ${files.length}")
    // a 100-row batch size over ~333 rows/partition forces >1 batch/file
    val back = files.map(f => graft.api.ArrowExport.fromArrowIpc(spark,
      java.nio.file.Files.readAllBytes(f.toPath))).reduce(_ unionByName _)
    assert(back.count() == 1000L)
    assert(back.agg(sum(col("x"))).head.getLong(0) == 500500L)
    assert(back.filter(col("s") === "row77").count() == 1L)
  }

  test("writeArrowIpcFiles task-commit: duplicate and mid-write-failed attempts leave one clean committed file") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_retry_").toString
    val schema = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    def rows: Iterator[org.apache.spark.sql.Row] =
      (1L to 250L).iterator.map(i => org.apache.spark.sql.Row(i, s"row$i"))
    def listing: (Seq[String], Seq[String]) = {
      val all = new java.io.File(dir).listFiles().map(_.getName).toSeq
      (all.filter(_.endsWith(".arrow")), all.filterNot(_.endsWith(".arrow")))
    }

    // attempt 0 dies mid-write (iterator throws after the first batch):
    // nothing commits, and the attempt-private temp is cleaned up
    var failedAttemptAdds = 0L
    val dying = rows.map { r =>
      if (r.getLong(0) == 150L) sys.error("simulated executor death")
      r
    }
    intercept[RuntimeException] {
      graft.api.ArrowExport.writePartitionFile(schema, dying, dir,
        pid = 0, attemptId = 0L, batchRows = 100, failedAttemptAdds += _)
    }
    val (afterFail, tempsAfterFail) = listing
    assert(afterFail.isEmpty, s"failed attempt committed a file: $afterFail")
    assert(tempsAfterFail.isEmpty, s"failed attempt leaked temps: $tempsAfterFail")
    // the failed attempt DID add its completed batch locally — Spark's
    // accumulator protocol discards a failed task's adds, which is what
    // keeps the job counter exact
    assert(failedAttemptAdds == 100L)

    // attempt 1 succeeds: one committed file, readable, counted once
    var adds1 = 0L
    graft.api.ArrowExport.writePartitionFile(schema, rows, dir,
      pid = 0, attemptId = 1L, batchRows = 100, adds1 += _)
    // a speculative duplicate (attempt 2) also succeeds: last-rename-wins
    var adds2 = 0L
    graft.api.ArrowExport.writePartitionFile(schema, rows, dir,
      pid = 0, attemptId = 2L, batchRows = 100, adds2 += _)
    val (committed, temps) = listing
    assert(committed == Seq("part-0.arrow"),
      s"expected exactly one committed file, got $committed")
    assert(temps.isEmpty, s"temp residue after duplicate attempts: $temps")
    assert(adds1 == 250L && adds2 == 250L,
      "each successful attempt reports the full partition row count; " +
        "Spark applies exactly one successful attempt's adds")
    // the committed stream is complete and internally consistent
    val back = graft.api.ArrowExport.fromArrowIpc(spark,
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/part-0.arrow")))
    assert(back.count() == 250L)
    assert(back.agg(sum(col("x"))).head.getLong(0) == 250L * 251L / 2L)
  }

  test("Table.diff surfaces the Cdc changelog") {
    import spark.implicits._
    val before = Table(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val after = Table(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v"))
    val ops = before.diff(after, Seq("k"), Seq("v")).toDF
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops == Map(2L -> "update", 3L -> "insert"))
  }

  test("toArrowIpc refuses results over the driver-materialization cap") {
    import spark.implicits._
    val six = (1L to 6L).toDF("x")
    val ex = intercept[IllegalArgumentException] {
      graft.api.ArrowExport.toArrowIpcCapped(six, cap = 5L)
    }
    assert(ex.getMessage.contains("write.parquet"))
    // at exactly the cap it exports fine, order preserved through limit
    val ok = Table.fromArrowIpc(spark,
      graft.api.ArrowExport.toArrowIpcCapped(six.orderBy("x"), cap = 6L))
    assert(ok.toDF.collect().map(_.getLong(0)).toSeq == (1L to 6L))
  }

  test("Arrow IPC: instant (TimestampType) columns stay instants via tz-tagged fields") {
    import org.apache.spark.sql.types._
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("at", TimestampType, true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, ts), org.apache.spark.sql.Row(2L, null))
    val df = spark.createDataFrame(rows, schema)
    val back = Table.fromArrowIpc(spark, graft.api.ArrowExport.toArrowIpc(df)).toDF
    assert(back.schema("at").dataType == TimestampType,
      "tz-tagged arrow timestamp must map back to TimestampType, not NTZ")
    val got = back.orderBy("id").collect()
    assert(got(0).getTimestamp(1) == ts)
    assert(got(1).isNullAt(1))
  }

  test("Arrow IPC: unsigned-int fields are rejected at schema mapping, not read time") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.VectorSchemaRoot
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
    val uint8 = new Field("u",
      new FieldType(true, new ArrowType.Int(8, false), null), null)
    val alloc = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(
      new ArrowSchema(java.util.Arrays.asList(uint8)), alloc)
    val out = new java.io.ByteArrayOutputStream()
    try {
      root.allocateNew(); root.setRowCount(0)
      val w = new ArrowStreamWriter(root, null, out)
      try { w.start(); w.writeBatch(); w.end() } finally w.close()
    } finally { root.close(); alloc.close() }
    val e = intercept[IllegalArgumentException] {
      Table.fromArrowIpc(spark, out.toByteArray)
    }
    assert(e.getMessage.contains("unsupported arrow type"))
  }

  test("Replay.linkDir: distinct sources get distinct dirs; stale links are recreated") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("replayspec")
    val a = Files.writeString(base.resolve("data.parquet"), "a")
    val sub = Files.createDirectory(base.resolve("sub"))
    val b = Files.writeString(sub.resolve("data.parquet"), "b")
    val da = graft.streaming.Replay.linkDir(a.toString)
    val db = graft.streaming.Replay.linkDir(b.toString)
    assert(da != db, "same basename, different paths must not share a dir")
    assert(Files.readSymbolicLink(Paths.get(da, "data.parquet")) == a.toAbsolutePath)
    // poison the link to simulate a stale prior run, then re-link
    val link = Paths.get(da, "data.parquet")
    Files.delete(link)
    Files.createSymbolicLink(link, b.toAbsolutePath)
    val da2 = graft.streaming.Replay.linkDir(a.toString)
    assert(da2 == da)
    assert(Files.readSymbolicLink(link) == a.toAbsolutePath,
      "a link pointing at the wrong source must be recreated")
  }

  test("csv and json round-trip through the readers") {
    val dir = "target/tmp/tablespec"
    trips.toDF.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    trips.toDF.write.mode("overwrite").json(s"$dir/json")
    assert(Table.fromCsv(spark, s"$dir/csv").count() == 4)
    assert(Table.fromJson(spark, s"$dir/json").count() == 4)
    assert(Table.streamCsv(spark, s"$dir/csv").count() == 4)
  }

  test("registered UDF usable from Table.sql (register_python parity)") {
    spark.udf.register("double_it", (x: Double) => x * 2)
    val r = trips.sql("select double_it(tip) as d from trip order by id").toDF.collect()
    assert(r(0).getDouble(0) == 2.0)
  }

  test("select alias usable in WHERE (reference binder substitution)") {
    val r = trips.sql(
      "select id, tip * 2 as big from trip where big > 10 order by id")
      .toDF.collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("a FROM inside extract(…) or IS DISTINCT FROM names no table") {
    val dated = Table.fromRows(spark,
      StructType(Seq(StructField("ts", DateType))),
      Seq(Row(java.sql.Date.valueOf("2024-03-17"))))
    assert(dated.sql("select extract(day FROM ts) AS d from trips").toDF
      .collect().head.getInt(0) == 17)
    val r = trips.sql(
      "select id IS DISTINCT FROM tip AS x from trips order by id").toDF.collect()
    assert(r.map(_.getBoolean(0)).toSeq == Seq(false, true, true, true))
  }

  test("concurrent sql calls binding the same FROM name never cross-read") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val schema = StructType(Seq(StructField("v", LongType)))
    val tables = (0 until 4).map { k =>
      (k, Table.fromRows(spark, schema, Seq(Row(k.toLong))))
    }
    val runs = Future.sequence((0 until 24).map { i =>
      val (k, t) = tables(i % tables.length)
      Future {
        val got = t.sql("select v from shared").toDF.collect().map(_.getLong(0))
        assert(got.toSeq == Seq(k.toLong),
          s"table $k read ${got.mkString(",")} — view race leaked data")
      }
    })
    Await.result(runs, 120.seconds)
  }
  test("COLUMNS lambda and star-modifier forms (q55 r18 extension)") {
    import spark.implicits._
    import graft.api.Table
    val df = Seq((1, 2, 3, 4)).toDF("ab", "ac", "bd", "ab_x")
    // lambda: the predicate runs over column NAMES with SQL semantics
    val lam = Table(df).sql("SELECT COLUMNS(c -> c LIKE 'a%') FROM t")
      .toDF.columns.toSeq
    assert(lam == Seq("ab", "ac", "ab_x"))
    // boolean composition + function calls in the predicate
    val comp = Table(df)
      .sql("SELECT COLUMNS(c -> c LIKE 'a%' AND length(c) = 2) FROM t")
      .toDF.columns.toSeq
    assert(comp == Seq("ab", "ac"))
    // wrapped aggregate over a lambda selection
    val agg = Table(df)
      .sql("SELECT min(COLUMNS(c -> c LIKE 'b%')) FROM t")
      .toDF.columns.toSeq
    assert(agg == Seq("bd"))
    // star-modifier with EXCLUDE
    val ex = Table(df)
      .sql("SELECT COLUMNS(* EXCLUDE (ab_x, bd)) FROM t")
      .toDF.columns.toSeq
    assert(ex == Seq("ab", "ac"))
    // empty selection refuses loudly
    assert(intercept[IllegalArgumentException](
      Table(df).sql("SELECT COLUMNS(c -> c LIKE 'zz%') FROM t"))
      .getMessage.contains("no columns satisfy"))
  }
}
