package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * native Catalyst expressions (graft.functions.*) can be used as plain
  * `Column`s without registering anything on the session — queries then
  * work on ANY SparkSession (including the driver's smoke-test session,
  * which graft does not construct). `ofRows` likewise turns a rewritten
  * logical plan back into a DataFrame without installing a rule, and
  * `ofRdd` gives an RDD frame the size estimate the planner reads.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** A frame over the `rows` rows of `rdd` whose plan estimates its size
    * as `rows` × the schema's estimated row width — the estimate a
    * LocalRelation of the same rows gets. A plain RDD frame estimates
    * every RDD as larger than any broadcast threshold, so joins over it
    * never broadcast it. */
  def ofRdd(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
            rows: Long): DataFrame = {
    val attrs = DataTypeUtils.toAttributes(schema)
    ofRows(spark, LogicalRDD(attrs, rdd)(spark.asInstanceOf[classic.SparkSession],
      Some(Statistics(EstimationUtils.getSizePerRow(attrs) * rows)), None))
  }
}
