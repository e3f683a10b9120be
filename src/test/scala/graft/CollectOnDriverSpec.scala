package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
import org.apache.spark.sql.functions._

import graft.sql.{DriverFinalAggregate, DriverMergeSortedRuns}

/** [[graft.sql.CollectOnDriver]]: a root ORDER BY merges sorted runs and a
  * root global aggregate merges partial buffers on the driver, in fewer
  * jobs, with the rows every other consumer of the plan sees.
  */
class CollectOnDriverSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"
  private def jobsDuring(body: => Unit): Int = SparkTestBase.trace.jobsDuring(body)

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  /** The final plan of `df`, under AQE's wrapper and, once `df` has run,
    * its result stage, when there are.
    */
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan match {
      case r: ResultQueryStageExec => r.plan
      case p => p
    }
    case p => p
  }

  private def uses(df: DataFrame): Set[String] = finalPlan(df).collect {
    case _: DriverMergeSortedRuns => "sort"
    case _: DriverFinalAggregate => "agg"
  }.toSet

  /** Row values compared by content (binary columns are arrays). */
  private def norm(rows: Iterable[Row]): Seq[Seq[Any]] = {
    def v(x: Any): Any = x match {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(v)
      case s: scala.collection.Seq[_] => s.map(v)
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => v(k) -> v(x) }
      case d: Double if d.isNaN => "NaN"
      case o => o
    }
    rows.map(_.toSeq.map(v)).toSeq
  }

  private val Workloads = Seq("q11_topk", "q12_limit_offset", "q20_sum_big",
    "q58_semi_anti_join", "geo03_haversine", "m01_multimodal_meta", "pr21_k_anonymity",
    "g09_percentiles", "st07_stream_ref_dedup", "gr03_triangles", "u17_schema_ddl",
    "u18_drop_alter", "u20_script", "u23_sql_macros", "u24_prepared_stmt", "io10_csv_dirty")

  /** The first query, by name, of every catalogue family (the letters
    * before the number).
    */
  private lazy val familyFirsts = SparkEntry.queries.keys.toSeq.sorted
    .groupBy(_.takeWhile(_.isLetter)).values.map(_.min).toSeq.sorted

  test("collect() equals the doExecute path (toLocalIterator) row for row") {
    val names = (Workloads ++ familyFirsts).distinct
    val used = names.flatMap { name =>
      val df = query(name)
      val collected = df.collect()
      val iterated = df.toLocalIterator().asScala.toSeq
      assert(norm(collected) == norm(iterated), s"$name: collect() and toLocalIterator() differ")
      uses(df).map(name -> _)
    }
    // both operators were on the compared paths
    assert(used.map(_._2).toSet == Set("sort", "agg"), used)
  }

  test("root ORDER BY and root global aggregate queries run fewer jobs") {
    Seq("m01_multimodal_meta" -> 1, "geo03_haversine" -> 1, "q20_sum_big" -> 1,
        "g09_percentiles" -> 2).foreach { case (name, want) =>
      query(name).collect() // warm: table schemas bound, classes compiled
      val df = query(name)
      df.queryExecution.executedPlan
      assert(jobsDuring(df.collect()) == want, s"$name: want $want job(s)")
    }
    assert(uses(query("m01_multimodal_meta")) == Set("sort"))
    assert(uses(query("q20_sum_big")) == Set("agg"))
  }

  /** The final physical plans of the SQL executions `body` starts, as
    * the status store records them once each has ended.
    */
  private def executedPlans(body: => Unit): Seq[String] = {
    val store = spark.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).toSet
    body
    def ended = store.executionsList().filterNot(e => before(e.executionId))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while ((ended.isEmpty || ended.exists(_.completionTime.isEmpty)) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    ended.map(_.physicalPlanDescription)
  }

  test("a root ORDER BY write keeps Spark's plan; collect() keeps the driver merge") {
    def write(): Unit = query("q01_scan_project").write.format("noop").mode("overwrite").save()
    write() // warm
    var jobs = 0
    val plans = executedPlans { jobs = jobsDuring(write()) }
    assert(jobs == 3, plans)
    assert(plans.nonEmpty && plans.forall(!_.contains("DriverMergeSortedRuns")), plans)
    // adaptive re-plans after each stage leave a collect on the driver plan
    Seq("pr21_k_anonymity" -> "agg", "g09_percentiles" -> "sort").foreach { case (name, op) =>
      val df = query(name)
      df.collect()
      assert(uses(df) == Set(op), s"$name: ${finalPlan(df)}")
    }
  }

  private def lineitem = graft.api.Catalog.parquet(spark, s"$dir/lineitem.parquet")

  test("a global aggregate over empty input returns Spark's empty-group row") {
    val bare = spark.newSession()
    def emptyAgg(df: DataFrame) = df.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      max(col("x")).as("m"), avg(col("x")).as("a"))
    // four partitions, no rows
    val filtered = emptyAgg(spark.range(0, 8, 1, 4).select(col("id").as("x")).filter(col("x") > 100))
    val control = emptyAgg(bare.range(0, 8, 1, 4).select(col("id").as("x")).filter(col("x") > 100))
    assert(uses(filtered) == Set("agg"))
    assert(filtered.collect().toSeq == control.collect().toSeq)
    assert(filtered.collect().toSeq == Seq(Row(0L, null, null, null)))
    // a child with zero partitions: a scan of a directory with no files
    val empty = java.nio.file.Files.createTempDirectory("graft_collect_empty_")
    try {
      val none = emptyAgg(spark.read.schema("x LONG").parquet(empty.toString))
      assert(finalPlan(none).children.head.execute().getNumPartitions == 0)
      assert(uses(none) == Set("agg"))
      assert(none.collect().toSeq == Seq(Row(0L, null, null, null)))
      assert(none.count() == 1L)
    } finally java.nio.file.Files.delete(empty)
  }

  test("a global aggregate over in-memory rows merges on the driver to Spark's row") {
    val bare = spark.newSession()
    def held(s: org.apache.spark.sql.SparkSession) =
      s.createDataFrame(s.sparkContext.parallelize(Seq(Row(1L), Row(2L)), 2),
        org.apache.spark.sql.types.StructType.fromDDL("x LONG")).agg(sum(col("x")))
    assert(uses(held(spark)) == Set("agg"))
    assert(held(spark).collect().toSeq == held(bare).collect().toSeq)
  }

  test("DISTINCT aggregates and non-deterministic sort keys keep Spark's plans") {
    val li = lineitem
    val distinct = li.agg(countDistinct(col("l_suppkey")))
    assert(uses(distinct).isEmpty)
    assert(distinct.collect().head.getLong(0) > 0)
    val random = li.select(col("l_orderkey")).orderBy(rand(7))
    assert(uses(random).isEmpty)
    assert(random.collect().length == li.count())
    // a non-deterministic projection over a root sort falls through too
    val numbered = li.orderBy(col("l_orderkey")).select(col("l_orderkey"),
      monotonically_increasing_id().as("id"))
    assert(uses(numbered).isEmpty)
  }

  test("count() runs one job, a scalar subquery merges on the driver; cache() and .rdd keep a global order") {
    val li = lineitem
    li.count()
    assert(jobsDuring(li.count()) == 1)
    // a scalar subquery's global aggregate finishes on the driver too
    li.createOrReplaceTempView("collect_li")
    val above = spark.sql("SELECT count(*) FROM collect_li WHERE l_quantity > " +
      "(SELECT avg(l_quantity) FROM collect_li)")
    val plan = above.queryExecution.executedPlan.toString
    assert(plan.indexOf("Subquery subquery") >= 0 &&
      plan.substring(plan.indexOf("Subquery subquery")).contains("DriverFinalAggregate"), plan)
    val mean = li.agg(avg(col("l_quantity"))).head.get(0)
    assert(above.head.getLong(0) == li.filter(col("l_quantity") > lit(mean)).count())
    spark.catalog.dropTempView("collect_li")
    val sorted = li.select(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_orderkey").desc, col("l_linenumber"))
    val want = sorted.collect().toSeq
    val keys = want.map(r => (-r.getLong(0), r.getInt(1)))
    assert(keys == keys.sorted, "collect() is not globally ordered")
    assert(finalPlan(sorted).execute().getNumPartitions > 1)
    assert(sorted.rdd.collect().toSeq == want)
    sorted.cache()
    try {
      val fromCache = sorted.select("*")
      val scan = finalPlan(fromCache).collectFirst {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
      }
      assert(scan.exists(_.relation.cachedPlan.isInstanceOf[DriverMergeSortedRuns]),
        "the cached plan is not the merge operator")
      assert(scan.get.execute().getNumPartitions > 1)
      assert(fromCache.collect().toSeq == want)
    } finally sorted.unpersist()
  }

  test("sort keys the projection drops are carried and stripped") {
    val li = lineitem
    val order = Seq(col("l_extendedprice").desc, (col("l_orderkey") * 2).asc, col("l_linenumber"))
    val q = li.orderBy(order: _*).select(col("l_returnflag"))
    assert(uses(q) == Set("sort"))
    assert(q.columns.toSeq == Seq("l_returnflag"))
    val bare = spark.newSession()
    val control = bare.read.parquet(s"$dir/lineitem.parquet")
      .orderBy(order: _*).select(col("l_returnflag"))
    assert(uses(control).isEmpty)
    assert(q.collect().toSeq == control.collect().toSeq)
  }
}
