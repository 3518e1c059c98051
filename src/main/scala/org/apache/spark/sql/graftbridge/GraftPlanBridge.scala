package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge into the `org.apache.spark.sql` package namespace:
  * `Dataset.ofRows` is `private[sql]`, and building a DataFrame from a
  * custom LogicalPlan (graft.plans.AsofJoin) requires it. This is the
  * standard technique Spark extension libraries use to expose custom
  * operators through the public DataFrame API.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
}
