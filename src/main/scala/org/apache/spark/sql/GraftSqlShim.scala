package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors: the public Spark
  * API deliberately has no "Dataset from a custom LogicalPlan" entry
  * point, and third-party operator libraries conventionally ship this
  * one-liner in the `org.apache.spark.sql` package to get one. The
  * custom operators in `graft.plans` use it, and
  * `GraftSources.writePartitioned` rebuilds a frame without its final
  * sort through it.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
}
