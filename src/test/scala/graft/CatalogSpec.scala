package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}

import graft.api.Catalog

/** The session table catalog: schemas are resolved once per file
  * fingerprint, and a changed, deleted, re-configured or unreadable table
  * behaves exactly like a bare `spark.read.parquet`.
  */
class CatalogSpec extends GraftSuite {

  private def jobsDuring(body: => Unit): Int = SparkTestBase.trace.jobsDuring(body)

  private def tempDir(): Path = Files.createTempDirectory("graft-catalog")

  /** Write `df` as ONE parquet file at `target` (the single-file table
    * layout of the corpus), replacing any file already there.
    */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val staging = Files.createTempDirectory("graft-catalog-w").resolve("out")
    df.coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def ints(cols: String*)(rows: Seq[Int]*): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r: _*)).asJava,
      StructType(cols.map(StructField(_, IntegerType))))

  test("a warm read launches no Spark job and equals a bare read") {
    val path = tempDir().resolve("orders.parquet")
    Files.copy(Paths.get("/root/testdata/sf0.001/orders.parquet"), path)
    val p = path.toString
    assert(jobsDuring(spark.read.parquet(p)) >= 1, "bare read should infer with a job")
    assert(jobsDuring(Catalog.parquet(spark, p)) >= 1, "cold read should infer")
    assert(jobsDuring(Catalog.parquet(spark, p)) == 0, "warm read launched a job")
    val warm = Catalog.parquet(spark, p)
    val bare = spark.read.parquet(p)
    assert(warm.schema == bare.schema)
    assert(warm.orderBy("o_orderkey").collect().toSeq ==
      bare.orderBy("o_orderkey").collect().toSeq)
  }

  test("rewriting a table with an added column shows the column without a restart") {
    val dir = tempDir()
    // single-file table, rewritten in place
    val file = dir.resolve("t.parquet")
    writeFile(ints("id", "a")(Seq(1, 10), Seq(2, 20)), file)
    assert(Catalog.parquet(spark, file.toString).columns.toSeq == Seq("id", "a"))
    assert(Catalog.parquet(spark, file.toString).columns.toSeq == Seq("id", "a"))
    writeFile(ints("id", "a", "b")(Seq(1, 10, 100), Seq(2, 20, 200)), file)
    val f = Catalog.parquet(spark, file.toString)
    assert(f.columns.toSeq == Seq("id", "a", "b"))
    assert(f.orderBy("id").collect().map(_.getInt(2)).toSeq == Seq(100, 200))
    // directory table, overwritten by Spark
    val tdir = dir.resolve("d.parquet").toString
    ints("id")(Seq(1)).write.parquet(tdir)
    assert(Catalog.parquet(spark, tdir).columns.toSeq == Seq("id"))
    assert(Catalog.parquet(spark, tdir).columns.toSeq == Seq("id"))
    ints("id", "c")(Seq(1, 7)).write.mode("overwrite").parquet(tdir)
    val d = Catalog.parquet(spark, tdir)
    assert(d.columns.toSeq == Seq("id", "c"))
    assert(d.collect().toSeq == Seq(Row(1, 7)))
  }

  test("a deleted table still raises PATH_NOT_FOUND") {
    val file = tempDir().resolve("gone.parquet")
    writeFile(ints("id")(Seq(1)), file)
    assert(Catalog.parquet(spark, file.toString).count() == 1)
    Files.delete(file)
    val e = intercept[AnalysisException](Catalog.parquet(spark, file.toString))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("changing spark.sql.parquet.binaryAsString re-infers the schema") {
    // written without Spark's schema metadata (which inference would
    // prefer over the conf): a plain parquet BINARY column
    val p = tempDir().resolve("bin.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int32 id; required binary b; }")
    val w = ExampleParquetWriter.builder(new HPath(p)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1).append("b", "hi"))
    finally w.close()
    assert(Catalog.parquet(spark, p).schema("b").dataType == BinaryType)
    assert(Catalog.parquet(spark, p).schema("b").dataType == BinaryType)
    val key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try {
      val s = Catalog.parquet(spark, p)
      assert(s.schema("b").dataType == StringType)
      assert(s.collect().toSeq == Seq(Row(1, "hi")))
    } finally spark.conf.unset(key)
    assert(Catalog.parquet(spark, p).schema("b").dataType == BinaryType)
  }

  test("a footer whose inference throws keeps throwing on every call") {
    val file = tempDir().resolve("bad.parquet")
    Files.write(file, "this is not a parquet file".getBytes("UTF-8"))
    val bare = intercept[Exception](spark.read.parquet(file.toString))
    (1 to 3).foreach { _ =>
      val e = intercept[Exception](Catalog.parquet(spark, file.toString))
      assert(e.getClass == bare.getClass)
    }
  }

  test("partitioned directories and globs read through the plain path") {
    val dir = tempDir().resolve("part.parquet").toString
    ints("id", "k")(Seq(1, 1), Seq(2, 2)).write.partitionBy("k").parquet(dir)
    val rows = Catalog.parquet(spark, dir).orderBy("id").collect().toSeq
    assert(rows == spark.read.parquet(dir).orderBy("id").collect().toSeq)
    assert(Catalog.parquet(spark, s"$dir/k=*").count() == 2)
  }
}
