package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LogicalPlan -> DataFrame bridge: Spark 4 keeps the classic
  * `Dataset.ofRows` `private[sql]`, and `ShuffleSizing.partitionedCut`
  * re-wraps a checkpoint's own `LogicalRDD` with the partitioning its
  * cut has. A straight delegation. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
