package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `classic` Dataset internals (analyzed plan extraction
  * and Dataset construction from a LogicalPlan) for graft's custom
  * logical operators — the Spark-4 equivalents of the long-standing
  * `Dataset.ofRows` / `df.logicalPlan` internal APIs — plus the
  * listener-bus drain [[graft.tools.JobProfile]] times against.
  */
object GraftPlanShim {
  def analyzedPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
  def optimizedPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Block until every listener has seen every event posted so far
    * (`private[spark]` on the context), so a listener removed after an
    * action has recorded all of that action's jobs and stages. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
