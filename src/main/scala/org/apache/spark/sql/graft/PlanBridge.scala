package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The `private[sql]` doors graft needs: turning a hand-built
  * [[LogicalPlan]] (e.g. `graft.plans.AsofJoinPlan`) back into a public
  * `DataFrame`, a hand-built [[Expression]] (e.g. the SCD2 fold's
  * key lookup) into a public `Column`, and a frame's rows persisted at
  * RDD level back into a frame. `classic.Dataset.ofRows`,
  * `classic.ExpressionUtils.column` and `LogicalRDD.fromDataset` are
  * package-private to `org.apache.spark.sql`, so this shim lives in a
  * subpackage — the standard extension-library idiom for planting custom
  * operators (every Spark-native storage/engine layer ships one).
  * Everything else in graft goes through the public API; keep it that way.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** `df`'s rows persisted at `level` and materialized now, and a frame
    * over them; the caller unpersists the returned RDD when done.
    *
    * The rows are computed in one SQL execution named "persist", so query
    * listeners see its plan as they see any action's. The frame is a
    * `LogicalRDD` built as `Dataset.checkpoint` builds one (it keeps
    * `df`'s output partitioning, ordering and statistics), but the RDD is
    * persisted, not checkpointed: it keeps `df`'s lineage, so a lost
    * block is recomputed from the plan instead of failing the job. Nor is
    * it a CacheManager entry (`Dataset.persist`): no other query, and no
    * later call over the same inputs, is ever served these rows.
    */
  def persisted(df: DataFrame, level: StorageLevel): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("persist")) {
      val rows = qe.toRdd.map(_.copy()).persist(level)
      try rows.count()
      catch { case e: Throwable => rows.unpersist(); throw e }
      (ofRows(df.sparkSession, LogicalRDD.fromDataset(rows, ds, isStreaming = false)), rows)
    }
  }
}
