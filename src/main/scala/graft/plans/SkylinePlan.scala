package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression, Literal, Multiply, RuntimeReplaceable, UnaryExpression, UnixDate, UnixMicros}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.types.{DateType, DoubleType, NumericType, TimestampNTZType, TimestampType}

/** Logical skyline node (after the EDBT'23 "Integration of Skyline
  * Queries into Spark SQL" pattern — PAPERS.md): keep exactly the child
  * rows not Pareto-dominated under `dims`, independently within each
  * group of `groupExprs` (one global skyline when empty).
  *
  * Every batch local-skyline-then-merge path plans through this node:
  * the `SKYLINE OF` clause, `SkylineOp.skyline`/`twoPhase`/`grouped`
  * and SkyMr's per-cell phase 1. `dims` are DOUBLE expressions in MIN
  * convention (the reference's value_type sign already multiplied in,
  * Range.java:19); rows with a NULL/NaN dim are excluded, ties kept.
  * Output = child output — skyline filters rows, never reshapes them.
  */
case class SkylinePlan(dims: Seq[Expression], groupExprs: Seq[Expression], child: LogicalPlan)
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output

  override protected def withNewChildInternal(newChild: LogicalPlan): SkylinePlan =
    copy(child = newChild)
}

object SkylinePlan {
  /** Global skyline over `(expression, sign)` dims (sign +1 MIN, −1 MAX),
    * each normalized through [[SkylineDim]]. */
  def apply(dims: Seq[(Expression, Int)], child: LogicalPlan): SkylinePlan =
    SkylinePlan(dims.map { case (e, sign) => Multiply(SkylineDim(e), Literal(sign.toDouble)) },
      Nil, child)
}

/** A skyline dim as an order-preserving DOUBLE: numerics cast, DATE as
  * epoch days, TIMESTAMP as epoch micros, TIMESTAMP_NTZ as its
  * zone-free micros (casting NTZ through the session zone would reorder
  * wall-clock times across a DST gap). Any other type fails analysis
  * with an AnalysisException naming the column and its type — a string
  * dim would otherwise compare numerically (`'9'` beats `'10'`) or die
  * in a task. Shared by `SkylineOp.normalizedDims` and the `SKYLINE OF`
  * parser, so both surfaces accept and order exactly the same types.
  */
case class SkylineDim(child: Expression) extends UnaryExpression with RuntimeReplaceable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => TypeCheckSuccess
    case other => DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
      "paramIndex" -> "first",
      "requiredType" -> "(\"NUMERIC\" or \"DATE\" or \"TIMESTAMP\" or \"TIMESTAMP_NTZ\")",
      "inputSql" -> s"\"${child.sql}\"",
      "inputType" -> s"\"${other.sql}\""))
  }

  override lazy val replacement: Expression = Cast(child.dataType match {
    case DateType => UnixDate(child)
    case TimestampType => UnixMicros(child)
    // NTZ → TIMESTAMP at UTC is the identity on the stored micros.
    case TimestampNTZType => UnixMicros(Cast(child, TimestampType, Some("UTC")))
    case _ => child
  }, DoubleType)

  override def prettyName: String = "skyline_dim"

  override protected def withNewChildInternal(newChild: Expression): SkylineDim =
    copy(child = newChild)
}
