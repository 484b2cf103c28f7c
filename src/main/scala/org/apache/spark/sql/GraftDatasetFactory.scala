package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge for constructing a DataFrame from a custom LogicalPlan —
  * `Dataset.ofRows` is `private[sql]`, so library code plugs in here.
  * (Same pattern as public Spark-extension libraries' DatasetFactory
  * shims; cf. SNIPPETS.md [3].)
  */
object GraftDatasetFactory {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The unresolved Catalyst expression behind `c`, for a custom node. */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** A Column over Catalyst expression `e` (the inverse of [[expression]]). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
