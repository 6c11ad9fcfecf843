package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The `private[sql]` doors graft needs: turning a hand-built
  * [[LogicalPlan]] (e.g. `graft.plans.AsofJoinPlan`) back into a public
  * `DataFrame`, and a hand-built [[Expression]] (e.g. the SCD2 fold's
  * key lookup) into a public `Column`. `classic.Dataset.ofRows` and
  * `classic.ExpressionUtils.column` are package-private to
  * `org.apache.spark.sql`, so this shim lives in a subpackage — the
  * standard extension-library idiom for planting custom operators
  * (every Spark-native storage/engine layer ships one). Everything else
  * in graft goes through the public API; keep it that way.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
