package graft.streaming

import graft.plans.AsofJoin
import org.apache.spark.sql.DataFrame

/** The STREAMING face of the as-of dimension enrichment
  * (`AsofJoin.asofJoinExec`, the plans/AsofJoin.scala operator stack):
  * fact events arrive as a stream; each micro-batch is point-in-time
  * enriched against a STATIC dimension via foreachBatch and appended to
  * the accumulated result.
  *
  * Batch/stream parity is EXACT by construction: the enrichment is
  * row-local against a static right side, so the union over a stream
  * split at ANY micro-batch boundaries equals the one-shot batch
  * enrichment of the union — no watermark, no cross-batch state beyond
  * the accumulated output. Inside each foreachBatch the planner's usual
  * stats choice applies, so a dimension-sized right side rides the
  * broadcast exec and the micro-batch crosses with no shuffle — the
  * 100 TB continuous-enrichment shape (tiny hot batches, broadcast
  * dimension, zero exchanges per tick).
  *
  * foreachBatch delivers at-least-once: enrichment output is NOT
  * row-identity-deduplicable in general (two legitimate identical fact
  * rows must both survive), so replays are folded away by
  * [[FoldState]]'s replay guard.
  */
object EnrichStream {

  final class EnrichState(dim: DataFrame, key: String, tsCol: String,
      tiebreak: String, payloadCols: Seq[String]) extends FoldState {
    private val acc = emptySnapshot()

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      acc.accumulate(AsofJoin.asofJoinExec(batch, dim, key, tsCol, tiebreak,
        payloadCols))(_ unionByName _)
    }

    /** All enriched fact rows so far; at least one batch must have been
      * folded. */
    def enriched: DataFrame = acc.get
  }
}
