package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.aggregate.{AggUtils, BaseAggregateExec, SortBasedAggregationIterator}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Finishes a query's last step on the driver when the action brings the
  * rows there anyway (`collect()`, `count()`, a scalar subquery).
  *
  * Spark moves a root ORDER BY's rows into range partitions (a sampling
  * job, then a shuffle) and a root global aggregate's partial buffers
  * into one partition (a shuffle) before `collect()` ships them to the
  * driver. Each of those is a whole job or stage hand-off, and on this
  * engine's small queries the fixed cost per job is most of the latency.
  * So, only at the [[ReturnAnswer]] root:
  *  - `Sort(order, global)`, under an optional root `Project`, plans as
  *    a per-partition sort with the projection evaluated in the tasks
  *    ([[DriverMergeSortedRuns]]): one job returns one sorted run per
  *    partition and the driver k-way merges them;
  *  - `Aggregate(Nil, aggs)` without DISTINCT plans as Spark's partial
  *    aggregate ([[DriverFinalAggregate]]): one job returns one buffer
  *    row per partition and the driver runs the Final-mode merge.
  *
  * Anything else, a non-deterministic sort key or projection, a DISTINCT
  * aggregate and any streaming plan falls through to Spark's strategies.
  *
  * A write plans its query without `ReturnAnswer`, but adaptive execution
  * re-plans what is left of ANY query under a `ReturnAnswer` root after
  * each finished stage, with the finished stages as [[LogicalQueryStage]]
  * leaves. So the strategy declines a root that holds a
  * `LogicalQueryStage`: a write keeps Spark's plan, and a collect keeps
  * the driver plan it started with, because Spark's re-planned
  * alternative has one more shuffle.
  */
object CollectOnDriver extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root)
        if !root.isStreaming && !root.exists(_.isInstanceOf[LogicalQueryStage]) => root match {
      case Sort(order, true, child, _) => mergeSorted(child.output, order, child)
      case Project(list, Sort(order, true, child, _)) => mergeSorted(list, order, child)
      case agg: Aggregate if agg.groupingExpressions.isEmpty => finalAggregate(agg)
      case _ => Nil
    }
    case _ => Nil
  }

  /** Sorted runs of `list` over `child`, each carrying the sort keys the
    * projection drops (as `_sortkey<i>` columns the driver strips).
    */
  private def mergeSorted(list: Seq[NamedExpression], order: Seq[SortOrder],
                          child: LogicalPlan): Seq[SparkPlan] = {
    // the analyzer evaluates a non-deterministic key (ORDER BY rand()) in
    // a Project under the Sort and sorts by its attribute
    val pulledOut = child match {
      case Project(below, _) => below.filterNot(_.deterministic).map(_.toAttribute)
      case _ => Nil
    }
    if (!order.forall(o => o.deterministic && !pulledOut.exists(o.references.contains)) ||
        !list.forall(_.deterministic)) return Nil
    val listed = AttributeSet(list.map(_.toAttribute))
    val keyed = order.zipWithIndex.map {
      case (o @ SortOrder(a: Attribute, _, _, _), _) if listed.contains(a) => (o, None)
      case (o, i) =>
        val k = Alias(o.child, s"_sortkey$i")()
        (SortOrder(k.toAttribute, o.direction, o.nullOrdering, Seq.empty), Some(k))
    }
    val carried = list ++ keyed.flatMap(_._2)
    val local = SortExec(order, global = false, planLater(child))
    val runs = if (carried == child.output) local else ProjectExec(carried, local)
    DriverMergeSortedRuns(list.map(_.toAttribute), keyed.map(_._1), runs) :: Nil
  }

  private def finalAggregate(agg: Aggregate): Seq[SparkPlan] = agg match {
    case PhysicalAggregation(Seq(), aggs, result, child)
        if aggs.forall(a => !a.isDistinct && !a.aggregateFunction.isInstanceOf[PythonUDAF]) =>
      AggUtils.planAggregateWithoutDistinct(Nil, aggs, result, planLater(child)) match {
        case Seq(fin: BaseAggregateExec) =>
          DriverFinalAggregate(fin.aggregateExpressions, fin.aggregateAttributes,
            fin.resultExpressions, fin.child) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

/** A root ORDER BY finished on the driver. `child` yields per-partition
  * runs sorted by `ordering` (over its output); `output` is the prefix
  * of its columns the query returns.
  *
  * `executeCollect` runs one job that returns every run and merges them
  * with a generated ordering; equal keys keep the lower partition's rows
  * first, so the result is deterministic. `doExecute` (`toLocalIterator`,
  * `cache`) returns the same rows in the same order, range-partitioned
  * over the spark.sql.shuffle.partitions setting by (ordering, run
  * index).
  */
case class DriverMergeSortedRuns(output: Seq[Attribute], ordering: Seq[SortOrder],
                                 child: SparkPlan) extends UnaryExecNode {

  override def outputOrdering: Seq[SortOrder] =
    ordering.takeWhile(_.references.subsetOf(outputSet))

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(ordering, "[", ", ", "]", maxFields)}, " +
      truncatedString(output, "[", ", ", "]", maxFields)

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val runs = sparkContext.runJob(child.execute(),
      (it: Iterator[InternalRow]) => it.map(_.copy()).toArray)
    merge(runs)
  }

  private def merge(runs: Array[Array[InternalRow]]): Array[InternalRow] = {
    val ord = new LazilyGeneratedOrdering(ordering, child.output)
    val at = new Array[Int](runs.length)
    val heads = new java.util.PriorityQueue[Int](math.max(1, runs.length),
      (a: Int, b: Int) => {
        val c = ord.compare(runs(a)(at(a)), runs(b)(at(b)))
        if (c != 0) c else Integer.compare(a, b)
      })
    runs.indices.foreach(i => if (runs(i).nonEmpty) heads.add(i))
    val strip =
      if (output == child.output) None else Some(UnsafeProjection.create(output, child.output))
    val out = new Array[InternalRow](runs.map(_.length).sum)
    var n = 0
    while (!heads.isEmpty) {
      val i = heads.poll()
      val row = runs(i)(at(i))
      out(n) = strip.fold(row)(_(row).copy())
      n += 1
      at(i) += 1
      if (at(i) < runs(i).length) heads.add(i)
    }
    out
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val run = Alias(SparkPartitionID(), "_run")()
    val order = ordering :+ SortOrder(run.toAttribute, Ascending)
    val ranged = ShuffleExchangeExec(RangePartitioning(order, conf.numShufflePartitions),
      ProjectExec(child.output :+ run, child))
    ProjectExec(output, SortExec(order, global = true, ranged)).execute()
  }

  override protected def withNewChildInternal(c: SparkPlan): DriverMergeSortedRuns =
    copy(child = c)
}

/** A root global aggregate finished on the driver: `child` is Spark's
  * Partial-mode aggregate, and the Final-mode merge of its buffer rows
  * (`aggregateExpressions` in Final mode) runs here through Spark's own
  * [[SortBasedAggregationIterator]]. A child with no partitions yields
  * the aggregate's empty-input row, as Spark's final aggregate does.
  */
case class DriverFinalAggregate(aggregateExpressions: Seq[AggregateExpression],
                                aggregateAttributes: Seq[Attribute],
                                resultExpressions: Seq[NamedExpression],
                                child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  // the Final-mode functions name their input columns; they read the
  // child's buffer columns instead
  override lazy val references: AttributeSet = child.outputSet

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(resultExpressions, "[", ", ", "]", maxFields)}"

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val buffers = child.executeCollect()
    val merged = new SortBasedAggregationIterator(0, Nil, child.output, buffers.iterator,
      aggregateExpressions, aggregateAttributes, 0, resultExpressions,
      (exprs, schema) => MutableProjection.create(exprs, schema), longMetric("numOutputRows"))
    if (buffers.isEmpty) Array(merged.outputForEmptyGroupingKeyWithoutInput())
    else merged.map(_.copy()).toArray
  }

  // a scalar subquery asks for its row through executeTake(2)
  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(c: SparkPlan): DriverFinalAggregate =
    copy(child = c)
}
