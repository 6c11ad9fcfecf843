package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** STREAMING LAST-TOUCH ATTRIBUTION — the production shape of
  * ext_events_attrib: a conversion pipeline cannot wait for the day's
  * batch, so it keeps one tiny keyed state (latest click ts per user)
  * and attributes each micro-batch's purchases on arrival.
  *
  * Parity with the batch query is exact under ts-ordered replay
  * (StreamingSpec splits the fixture into ordered batches and asserts
  * the rollups are multiset-equal) because the within-batch logic IS
  * the batch query's union-and-window pass, run over the batch plus
  * the carried state projected as one synthetic click row per user:
  * a max-click-per-user shortcut would mask an earlier same-batch
  * click behind a later one and mis-attribute purchases between them —
  * the classic streaming-attribution bug this class exists to avoid.
  *
  * State is bounded on BOTH sides: the click state is ≤ |users| rows
  * (one ts per user — prunable past the lookback by construction: an
  * expired click can never attribute again), and the attribution
  * side folds each batch's scored purchases into an ADDITIVE
  * (day, counts, latency-sum) frame — ≤ |days| rows forever, never a
  * growing per-purchase history. Both frames fold under one
  * [[FoldState]] replay guard, which makes the additive fold
  * replay-safe.
  *
  * `initial` seeds the CLICK state only (the pre-stream picture a
  * dimension load provides); attribution accounting starts at the
  * first micro-batch — pre-stream purchases are history, not stream.
  */
object AttribStream {

  final class AttribState(initial: DataFrame, lookbackNs: Long,
      dayNs: Long) extends FoldState {
    private val clicks = snapshot(initial
      .where(col("event_type") === "click")
      .groupBy("user_id").agg(max(col("ts")).as("click_ts")))
    private val days =
      snapshot(dailyOf(scoreAgainst(initial.where(lit(false)), clicks.get)))

    /** (user_id, click_ts): the latest click seen per user. */
    def lastClick: DataFrame = clicks.get
    /** Additive per-day attribution state: purchases, attributed,
      * exact latency-ns sum. Seeded schema-correct and empty so a
      * probe before the first batch returns zero rows, not an error.
      */
    def daily: DataFrame = days.get

    /** The batch query's own union-and-window pass over batch ∪ the
      * carried state as synthetic clicks → per-purchase attribution.
      */
    private def scoreAgainst(batch: DataFrame, clicks: DataFrame): DataFrame = {
      val rows = batch
        .where(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          (col("event_type") === "click").cast("int").as("__c"))
      // carried state enters the batch window as synthetic click rows
      // (event_id -1 sorts any real same-ts click after it, which is
      // irrelevant: equal ts means equal attribution)
      val pseudo = clicks.select(col("user_id"),
        col("click_ts").as("ts"), lit(-1L).as("event_id"),
        lit("click").as("event_type"), lit(1).as("__c"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("__c").desc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rows.unionByName(pseudo)
        .withColumn("__click_ts",
          last(when(col("__c") === 1, col("ts")), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          (col("__click_ts").isNotNull &&
            col("ts") - col("__click_ts") <= lookbackNs).cast("int")
            .as("__attr"),
          col("__click_ts"))
    }

    /** Reduce scored purchases to the additive daily monoid. */
    private def dailyOf(scored: DataFrame): DataFrame = scored
      .groupBy(expr(s"ts div $dayNs").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("__attr")).cast("long").as("n_attributed"),
        sum(when(col("__attr") === 1, col("ts") - col("__click_ts"))
          .otherwise(0L)).as("lat_ns"))

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      days.advance(daily.unionByName(dailyOf(scoreAgainst(batch, lastClick)))
        .groupBy("day")
        .agg(sum("n_purchases").as("n_purchases"),
          sum("n_attributed").as("n_attributed"),
          sum("lat_ns").as("lat_ns")))
      val batchClicks = batch
        .where(col("event_type") === "click")
        .groupBy("user_id").agg(max(col("ts")).as("click_ts"))
      clicks.advance(lastClick.unionByName(batchClicks)
        .groupBy("user_id").agg(max(col("click_ts")).as("click_ts")))
    }

    /** Daily rollup off the folded state — the same output columns as
      * ext_events_attrib for the parity spec.
      */
    def rollup(): DataFrame = daily
      .select(col("day"), col("n_purchases"), col("n_attributed"),
        round(col("n_attributed") / col("n_purchases"), 6).as("attr_rate"),
        when(col("n_attributed") > 0,
          round(col("lat_ns") / col("n_attributed") / 60000000000.0, 4))
          .as("mean_latency_min"))
  }
}
