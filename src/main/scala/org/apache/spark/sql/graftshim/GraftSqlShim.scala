package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `Dataset.ofRows` (package-private in Spark) so graft's
  * custom logical operators ([[graft.plans.AsofJoinNode]]) can surface as
  * ordinary DataFrames. The standard extension-library pattern: one tiny
  * shim inside the `org.apache.spark.sql` package tree, nothing else
  * reaches into Spark internals.
  */
object GraftSqlShim {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
