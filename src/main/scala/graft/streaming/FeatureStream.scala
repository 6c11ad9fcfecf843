package graft.streaming

import graft.plans.{AsofJoin, IntervalJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STREAMING face of the temporal feature composite
  * (`ext_temporal_pipeline`): purchases arrive as a stream; each
  * micro-batch is (1) as-of enriched with the latest prior click from a
  * STATIC click table and (2) point-in-interval aligned into the STATIC
  * view-version chain — both through the custom physical joins — and
  * the aligned rows accumulate. The per-user feature aggregate runs AT
  * READ over the accumulated rows, the
  * [[LeaderboardStream]]/[[CurationStream]] read-time-fold discipline:
  * per-row enrichment is batch-split invariant (row-local against
  * static sides, the [[EnrichStream]]/[[IntervalStream]] argument
  * composed), so aggregate-at-read ≡ the one-shot batch composite.
  *
  * foreachBatch is at-least-once; replays fold away via
  * [[FoldState]]'s replay guard.
  */
object FeatureStream {

  final class FeatureState(clicks: DataFrame, views: DataFrame,
      key: String, tsCol: String, tiebreak: String) extends FoldState {
    private val acc = emptySnapshot()

    /** `batch` is (key, ts, tiebreak) purchase rows; `clicks` is
      * (key, ts, tiebreak, click_id, click_value); `views` is the
      * stamped validity chain (key, vfrom, vto, view_id).
      */
    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      val enriched = AsofJoin.asofJoinExec(batch, clicks, key, tsCol,
        tiebreak, Seq("click_id", "click_value"))
      val aligned = IntervalJoin.intervalJoinExec(
        enriched.withColumn("vfrom", col(tsCol))
          .withColumn("vto", col(tsCol) + lit(1L)),
        views, key, "vfrom", "vto", Seq("view_id"))
      acc.accumulate(aligned)(_ unionByName _)
    }

    /** The per-user feature frame over everything aligned so far —
      * identical to the one-shot composite's aggregate over the same
      * purchases.
      */
    def features: DataFrame =
      acc.get.groupBy(col(key))
        .agg(count(lit(1)).as("n_purchases"),
          count(col("click_id")).as("n_clicked"),
          round(sum(col("click_value")), 3).as("sum_click_value"),
          countDistinct(col("view_id")).as("n_view_versions"))
  }
}
