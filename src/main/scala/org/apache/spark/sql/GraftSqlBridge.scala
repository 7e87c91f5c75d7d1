package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` DataFrame and Column constructors, so
  * the library's custom logical operators (graft.plans.AsOfJoin) can be
  * surfaced as DataFrames, a ready-made Catalyst expression (the
  * pipeline's target-set literal, its native model and matcher
  * expressions) as a Column, and a Column as the expression it wraps —
  * the standard extension-library pattern for plugging a custom
  * LogicalPlan or Expression into a session without the function
  * registry. Nothing else from the private surface is touched. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
