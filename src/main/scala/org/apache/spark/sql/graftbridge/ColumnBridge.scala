package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression converters —
  * Spark 4 removed the public `new Column(expr)` constructor, so a
  * library registering its own Catalyst expressions (graft's
  * SkylineDim) needs this one-hop accessor in the sql package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode → Catalyst conversion. [[expression]] wraps the
    * Column's node lazily (`ColumnNodeExpression`), which only the
    * DataFrame analyzer unwraps — an expression handed straight to a
    * `FunctionRegistry` builder would reach codegen still wrapped and
    * die Unevaluable. This converts the whole node tree up front
    * (functions become ordinary `UnresolvedFunction`s the analyzer then
    * resolves normally).
    */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)
}

/** One-hop accessor for the `private[sql]` session UUID — the stable
  * per-session key the session-scoped DML registry
  * ([[graft.sql.GraftTables]]) uses. */
object SessionBridge {
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark match {
      case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
      case other => String.valueOf(System.identityHashCode(other))
    }
}

/** Same one-hop pattern for `Dataset.ofRows` (private[sql]) — needed to
  * materialize a DataFrame from a custom-parsed LogicalPlan.
  */
object DatasetBridge {
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
