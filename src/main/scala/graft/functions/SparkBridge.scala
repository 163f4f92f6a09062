package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column↔Expression converters so graft
  * can expose native Catalyst expressions as user-facing Columns (the
  * supported pattern for third-party expression libraries on Spark 4's
  * ColumnNode API), and into `Dataset.ofRows`, which turns a logical
  * plan (the snapshot connector's DSv2 relation) into a DataFrame. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
