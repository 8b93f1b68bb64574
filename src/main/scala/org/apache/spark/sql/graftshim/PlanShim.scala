package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge for constructing DataFrames from custom logical plans on
  * Spark 4, where `Dataset.ofRows` lives in the `private[sql]` classic
  * implementation. Same access rationale as [[ColumnShim]]: this file
  * sits in an `org.apache.spark.sql` subpackage purely for visibility;
  * all engine logic stays in `graft.*`.
  */
object PlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until every event posted so far has reached every
    * listener: listener counts are exact only after it.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Analyzed logical plan of a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
}
