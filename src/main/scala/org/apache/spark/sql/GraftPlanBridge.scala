package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Reaches two classic-session calls Spark 4 keeps `private[sql]`.
  * Straight delegations. */
object GraftPlanBridge {
  /** LogicalPlan -> DataFrame: `ShuffleSizing.partitionedCut` re-wraps a
    * checkpoint's own `LogicalRDD` with the partitioning its cut has. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session on the same context with a copy of `spark`'s SQL
    * conf, registered functions and temp views: a stream that needs its
    * own conf starts on it and leaves the caller's session untouched. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
