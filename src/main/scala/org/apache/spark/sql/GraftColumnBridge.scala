package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
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
