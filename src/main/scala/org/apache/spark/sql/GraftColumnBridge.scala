package org.apache.spark.sql

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.optimizer.InlineCTE
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge to the Column <-> catalyst Expression conversions that Spark 4
  * keeps `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils).
  *
  * Needed by graft.functions.Registry.registerColumnFn: a function-registry
  * builder receives `Seq[Expression]` and must hand them to a user-supplied
  * `Seq[Column] => Column`, then unwrap the resulting Column back into the
  * expression tree. Placing this one-file bridge in the spark.sql package
  * is the standard extension-library pattern for reaching these
  * conversions; no Spark behavior is modified.
  */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Eager ColumnNode -> Expression conversion. The lazy wrapper that
    * `ExpressionUtils.expression` returns is only unwrapped on the normal
    * Dataset API path; an expression injected from a function-registry
    * builder lands mid-analysis where nothing converts it, so convert
    * here with the session converter.
    */
  def toExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter.apply(c.node)

  /** The string rendering `df.show()` prints, returned instead of
    * printed (`Dataset.showString` is `private[sql]`). Backs the
    * `sql_pd`-style convenience on the Table facade.
    */
  def renderedTable(df: Dataset[_], numRows: Int, truncate: Int): String =
    df.asInstanceOf[classic.Dataset[_]].showString(numRows, truncate, vertical = false)

  /** The finished execution an end event reports (`qe` is `private[sql]`;
    * null for an event that did not come from a live execution). Backs
    * `graft.Trace`, which reads every session's planner tracker from the
    * one listener bus.
    */
  def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution =
    e.qe

  /** The statement a [[sqlWith]] frame was parsed from. */
  private val Statement = TreeNodeTag[LogicalPlan]("graft.statement")

  /** `names` as the CTE list of a WITH: each frame's analyzed plan under
    * its name.
    */
  private def ctes(names: Seq[(String, DataFrame)]) = names.map { case (n, df) =>
    (n, SubqueryAlias(n, df.queryExecution.analyzed), None)
  }

  /** `spark.sql(text)` with `names` bound for this statement only: the
    * parsed statement runs under a WITH whose CTEs are the frames, so
    * Spark's analyzer scopes them like the statement's own CTEs (an
    * inner `WITH` of the same name shadows; backquotes, case folding and
    * subqueries resolve) and the session catalog is never written. The
    * parse is measured in the execution's planning tracker, as
    * `spark.sql` does (`Dataset.ofRows` is `private[sql]`).
    *
    * The optimizer drops a join hint inside a CTE before it inlines the
    * CTE, so a statement that binds a hinted frame is inlined at
    * analysis with Spark's own rule, where a temp view would have put the
    * frame's plan.
    */
  def sqlWith(spark: SparkSession, text: String,
              names: Seq[(String, DataFrame)]): DataFrame =
    if (names.isEmpty) spark.sql(text)
    else {
      val session = spark.asInstanceOf[classic.SparkSession]
      val tracker = new QueryPlanningTracker
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING)(
        session.sessionState.sqlParser.parsePlan(text))
      session.withActive {
        val bound = classic.Dataset.ofRows(session, UnresolvedWith(parsed, ctes(names)), tracker)
        val hinted = names.exists(_._2.queryExecution.analyzed.exists(_.isInstanceOf[ResolvedHint]))
        val out =
          if (!hinted) bound
          else classic.Dataset.ofRows(session, InlineCTE().apply(bound.queryExecution.analyzed), tracker)
        out.queryExecution.logical.setTagValue(Statement, parsed)
        out
      }
    }

  /** The statement a [[sqlWith]] frame was parsed from, without the names
    * bound around it; any other frame's own logical plan.
    */
  def statementPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.logical.getTagValue(Statement).getOrElse(df.queryExecution.logical)

  /** `functions.expr(text)` with `names` bound in its subqueries, as
    * [[sqlWith]] binds them in a statement: the expressions a DML or MERGE
    * statement evaluates over its frames may read the statement's CTEs.
    */
  def exprWith(spark: SparkSession, text: String,
               names: Seq[(String, DataFrame)]): Column =
    if (names.isEmpty) functions.expr(text)
    else toColumn(spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
      .parseExpression(text).transform {
        case s: SubqueryExpression => s.withNewPlan(UnresolvedWith(s.plan, ctes(names)))
      })
}

/** Binary expression wanting the SAME numeric input coercions Spark's own
  * arithmetic gets (NULL-typed literals become typed nulls, numeric strings
  * cast to double). `AbstractDataType` and the `NumericType` companion are
  * `private[sql]`, so the inputTypes declaration lives here in the bridge
  * package; graft expressions just mix this in.
  */
trait GraftNumericBinaryCoercion
    extends catalyst.expressions.ImplicitCastInputTypes {
  self: catalyst.expressions.Expression =>
  override def inputTypes: Seq[types.AbstractDataType] =
    Seq(types.NumericType, types.NumericType)
}
