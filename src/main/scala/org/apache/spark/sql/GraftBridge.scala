package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the classic Column factory (private[sql] in Spark 4's
  * Connect-era API): lets the library wrap its native Catalyst
  * expressions in Columns (see graft.plans.functions). Same mechanism
  * every Spark-native extension library (Delta, Sedona, etc.) uses. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an already-analyzed plan (classic `Dataset.ofRows`,
    * private[sql]): lets a loader reuse a resolved relation instead of
    * resolving its path again. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
