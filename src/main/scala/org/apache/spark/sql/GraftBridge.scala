package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Bridge into Spark's private[sql] Column↔Expression converters so
  * graft can wrap custom Catalyst expressions (e.g. DotProduct) as
  * Columns — the standard pattern for native expression libraries on
  * Spark 4's node-based Column API — and between DataFrames and their
  * analyzed logical plans. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed plan behind `df`. */
  def logicalPlan(df: DataFrame): LogicalPlan = castToImpl(df).logicalPlan

  /** A DataFrame over an already-resolved plan: analysis only, no
    * relation resolution. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(castToImpl(spark), plan)
}
