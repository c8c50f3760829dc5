package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the
  * supported bridge, `classic.ExpressionUtils`, is private[sql]. This shim
  * lives in a subpackage of org.apache.spark.sql to re-export the two
  * conversions our custom Expressions need — the standard pattern for
  * Spark extension libraries that ship Catalyst expressions. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is private[sql]; optimizer/resolution rules that
    * rebuild a subtree with the DataFrame API (RollingDistinctRewrite)
    * need the plan→DataFrame direction too. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** If the column is a plain attribute reference (`col("x")`), its
    * dotted name. The `internal.ColumnNode` AST is `private[sql]`, so
    * operator code (e.g. TidierOps' month-frame routing) introspects
    * through these two helpers instead of matching nodes directly. */
  def attrNameOf(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
      Some(a.nameParts.mkString("."))
    case _ => None
  }

  /** If the column is an unresolved function call whose every argument is
    * a plain attribute or a literal: (lower-cased function name,
    * isDistinct, args) where each arg is Some(attrName) or None for a
    * literal. Any other shape → None. */
  def simpleAggCall(c: Column): Option[(String, Boolean, Seq[Option[String]])] =
    c.node match {
      case f: org.apache.spark.sql.internal.UnresolvedFunction =>
        val args = f.arguments.map {
          case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
            Some(Some(a.nameParts.mkString(".")))
          case _: org.apache.spark.sql.internal.Literal => Some(None)
          case _                                        => None
        }
        if (args.forall(_.isDefined))
          Some((f.functionName.toLowerCase, f.isDistinct, args.map(_.get)))
        else None
      case _ => None
    }
}
