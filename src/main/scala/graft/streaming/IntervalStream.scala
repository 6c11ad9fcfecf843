package graft.streaming

import graft.plans.IntervalJoin
import org.apache.spark.sql.DataFrame

/** The STREAMING face of the interval overlap join
  * (`IntervalJoin.intervalJoinExec`, plans/IntervalJoin.scala) —
  * completing temporal-join batch/stream parity next to the as-of twin
  * ([[EnrichStream]]): one SCD2 history's version rows arrive as a
  * stream (vfrom/vto already stamped — the rows ARE the intervals, not
  * events still waiting on a lead() chain); each micro-batch aligns
  * against a STATIC second history and appends the overlapping pairs.
  *
  * Batch/stream parity is EXACT by construction: the interval overlap
  * is an inner row-wise theta join, so each left row's output depends
  * only on that row and the static right side — the union over a
  * stream split at ANY micro-batch boundaries equals the one-shot join
  * of the union. (Contrast CHAINING: deriving vto from the next
  * version's vfrom is NOT batch-local, so the stream contract takes
  * finished version rows — exactly what an SCD2 CDC feed emits.)
  * Inside each foreachBatch the planner's stats choice applies: a
  * dimension-sized static history rides BroadcastIntervalJoinExec and
  * the micro-batch crosses with zero exchange — the continuous
  * history-alignment shape at 100 TB.
  *
  * foreachBatch delivers at-least-once; overlap pairs are not
  * row-identity-deduplicable in general (two identical left versions
  * must both fan out), so replays fold away via [[FoldState]]'s replay
  * guard.
  */
object IntervalStream {

  final class IntervalState(staticHistory: DataFrame, key: String,
      startCol: String, endCol: String, payloadCols: Seq[String])
      extends FoldState {
    private val acc = emptySnapshot()

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      acc.accumulate(IntervalJoin.intervalJoinExec(batch, staticHistory, key,
        startCol, endCol, payloadCols))(_ unionByName _)
    }

    /** All overlap pairs so far; at least one batch must have folded. */
    def aligned: DataFrame = acc.get
  }
}
