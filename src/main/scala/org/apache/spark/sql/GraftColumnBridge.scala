package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * native Catalyst expressions (graft.functions.*) can be used as plain
  * `Column`s without registering anything on the session — queries then
  * work on ANY SparkSession (including the driver's smoke-test session,
  * which graft does not construct). `ofRows` likewise turns a rewritten
  * logical plan back into a DataFrame without installing a rule.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
