package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge to the `private[sql]` LogicalPlan ⇄ DataFrame converters —
  * the hop a library needs to surface a custom logical operator
  * (graft.plans.TopKPerGroup) through the public Dataset API. Same
  * rationale as [[ColumnBridge]]: an org.apache.spark.sql subpackage is
  * the supported extension-shim location until Spark exposes a public
  * plan-construction API.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[ClassicSession], plan)

  /** The analyzed logical plan of a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
}
