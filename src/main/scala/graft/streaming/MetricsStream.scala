package graft.streaming

import graft.operators.Incremental
import org.apache.spark.sql.DataFrame

/** Per-key metrics maintained over a STREAM — Incremental's monoid
  * states driven by foreachBatch: each micro-batch is aggregated alone
  * (one map-side-combined pass over the batch, never the history) and
  * monoid-merged into the kept state, so the running metrics table is
  * always exact over everything seen so far.
  *
  * This is the streaming twin of ext_incr_agg's batch split: because
  * merge(state(A), state(B)) ≡ state(A ∪ B) for any split, the
  * micro-batch boundaries chosen by the engine are semantically
  * invisible — StreamingSpec asserts the folded state equals the
  * one-shot batch aggregate of all rows.
  *
  * The sums are additive, so a replayed batch would double-count; the
  * state folds through [[FoldState]], whose replay guard makes it a
  * no-op. At production scale the state side would be a bucketed table
  * co-partitioned on the key (see operators/Incremental.scala) or
  * Scd2Stream.KeyedCdcState's sliced layout; the fold logic is
  * unchanged.
  */
object MetricsStream {

  final class MetricsState(initial: DataFrame) extends FoldState {
    private val cell = snapshot(initial)
    def state: DataFrame = cell.get
    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      cell.advance(Incremental.mergeStates(cell.get, Incremental.eventState(batch)))
    }
  }
}
