package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SparkStrategy

/** Test-facing accessors for the `private[sql]` SparkSessionExtensions
  * builders — lets a suite verify what the config path
  * (`spark.sql.extensions=graft.GraftExtensions`) would inject without
  * building a fresh session (impossible in the shared test JVM).
  */
object ExtensionsBridge {
  def plannerStrategies(ext: SparkSessionExtensions, s: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(s.asInstanceOf[ClassicSession])
  def optimizerRules(ext: SparkSessionExtensions, s: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(s.asInstanceOf[ClassicSession])
}
