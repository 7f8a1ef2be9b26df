package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode

/** Specs' access to the `private[sql]` frame constructor. */
object TestPlans {

  /** The formatted physical plan `plan` runs with, planned afresh (an
    * executed plan's explain also carries AQE's final plan).
    */
  def explain(spark: SparkSession, plan: LogicalPlan): String =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
      .queryExecution.explainString(FormattedMode)
}
