package graft.streaming

import org.apache.spark.sql.DataFrame

/** STREAMING LEADERBOARD — the foreachBatch shape of ext_incr_topk:
  * each micro-batch reduces to its own per-group top-K
  * ([[graft.operators.Incremental.topKState]], a (group)-window over
  * the BATCH only) and folds into the carried K-row-per-group state by
  * union + re-cut. The bounded-semilattice law proved by
  * IncrementalSpec (merge of any split ≡ one-shot cut, precondition:
  * immutable per-item scores) is exactly what makes the stream correct
  * under any batch boundary placement; [[FoldState]]'s replay guard
  * makes the fold replay-safe. State is K·|groups| rows forever.
  */
object LeaderboardStream {

  final class TopKState(initial: DataFrame, k: Int) extends FoldState {
    private val cell = snapshot(graft.operators.Incremental.topKState(initial, k))
    def state: DataFrame = cell.get

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      cell.advance(graft.operators.Incremental.mergeTopK(cell.get,
        graft.operators.Incremental.topKState(batch, k), k))
    }
  }
}
