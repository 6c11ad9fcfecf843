package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STREAMING CUSUM MONITOR — the production shape of ext_events_cusum:
  * a level-shift detector that waits for the nightly batch detects the
  * crawler outage a day late. The carried state is the ADDITIVE
  * (group, day) count frame — a commutative monoid, so any batch
  * arrival order folds to the same state — and each probe recomputes
  * the CUSUM statistic off that compact state (≤ groups × days rows),
  * never off the event history.
  *
  * Exactly-once: counts are additive state, so a replayed micro-batch
  * would double-count; [[FoldState]]'s replay guard turns at-least-once
  * delivery into exactly-once state. Parity with
  * the batch query is exact by construction: the state after folding
  * batches B1..Bk EQUALS the one-shot daily aggregate of B1 ∪ .. ∪ Bk
  * (monoid law), and [[graft.operators.Monitoring.cusumFromDaily]] is
  * the same code both sides.
  */
object MonitorStream {

  final class CusumState(initial: DataFrame, dayNs: Long) extends FoldState {
    private def dailyOf(batch: DataFrame): DataFrame = batch
      .groupBy(col("event_type"), expr(s"ts div $dayNs").as("day"))
      .agg(count(lit(1)).as("y"))

    private val cell = snapshot(dailyOf(initial))
    def daily: DataFrame = cell.get

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      cell.advance(cell.get.unionByName(dailyOf(batch))
        .groupBy("event_type", "day").agg(sum("y").as("y")))
    }

    /** The changepoint read off the folded state — identical code to
      * the batch query, so parity is structural, not coincidental.
      */
    def changepoints(): DataFrame =
      graft.operators.Monitoring.cusumFromDaily(daily, "event_type")
  }
}
