package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: Spark 4 hides `Dataset.ofRows` and
  * `Column.expr` from user code; a library adding a custom logical
  * operator needs exactly these two hooks (same technique as other
  * Spark-extension libraries). Nothing else from the internal API is
  * touched. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Expression → Column, session-independently: the Column carries the
    * expression itself, so it analyzes on any session, whether or not
    * graft's SQL functions are registered there. A Column that named
    * the function instead would resolve it in the DataFrame's own
    * session's registry at analysis time. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def plan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan
}
