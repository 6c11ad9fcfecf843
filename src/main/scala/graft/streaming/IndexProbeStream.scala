package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame

/** The STREAMING face of the persist-and-probe incremental dedup loop
  * ([[Dedup.writeMinhashIndex]] / [[Dedup.probeMinhashIndex]]): incoming
  * documents arrive as a stream; each micro-batch probes the PERSISTED
  * band index via foreachBatch and folds its verified near-dup pairs
  * into the accumulated result.
  *
  * Batch/stream parity is EXACT by construction: the probe is bipartite
  * (batch × stored index only — intra-batch pairs are out of scope,
  * just as in the batch operator), so the accumulated result over a
  * stream split at ANY micro-batch boundaries equals the one-shot batch
  * probe of the union. No watermark or state store is needed: the
  * index lives on disk and each batch reads it like any other parquet
  * source; mutable state is only the accumulated pair set (tiny
  * relative to the corpus), a [[FoldState]] snapshot.
  *
  * foreachBatch delivers at-least-once: a re-delivered batchId is a
  * no-op under the replay guard, and the same rows arriving under a
  * fresh batchId re-derive the identical pairs (the probe is
  * deterministic in (index, batch)), which the per-fold dropDuplicates
  * on (new_id, old_id) folds away — so replays leave the accumulated set
  * unchanged.
  */
object IndexProbeStream {

  final class ProbeState(indexPath: String, idCol: String, textCol: String,
      numPerm: Int, rowsPerBand: Int, tau: Double, mode: Dedup.HashMode)
      extends FoldState {
    private val acc = emptySnapshot()

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      // the probe hands back its pairs checkpointed: a per-batch scratch
      val got = Dedup.probeMinhashIndex(indexPath, batch, idCol, textCol,
        numPerm, rowsPerBand, tau, mode)
      acc.accumulate(got)(_.unionByName(_).dropDuplicates("new_id", "old_id"))
      FoldState.release(got)
    }

    /** All pairs accumulated so far; at least one batch must have been
      * folded. */
    def pairs: DataFrame = acc.get
  }
}
