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
  * relative to the corpus), checkpointed per batch with the superseded
  * snapshot's blocks released deterministically (the
  * Scd2Stream.KeyedCdcState discipline).
  *
  * foreachBatch delivers at-least-once: a REPLAYED batch re-derives the
  * identical pairs (the probe is deterministic in (index, batch)), and
  * the per-fold dropDuplicates on (new_id, old_id) folds them away — so
  * replays leave the accumulated set unchanged.
  */
object IndexProbeStream {

  final class ProbeState(indexPath: String, idCol: String, textCol: String,
      numPerm: Int, rowsPerBand: Int, tau: Double, mode: Dedup.HashMode) {
    @volatile private var acc: DataFrame = _

    def sink(batch: DataFrame, batchId: Long): Unit = synchronized {
      val got = Dedup.probeMinhashIndex(indexPath, batch, idCol, textCol,
        numPerm, rowsPerBand, tau, mode)
      val old = acc
      // eager checkpoint: the new snapshot is fully materialized before
      // the superseded one's blocks are released
      acc = (if (old == null) got
             else old.unionByName(got).dropDuplicates("new_id", "old_id"))
        .localCheckpoint()
      if (old != null) Scd2Stream.releaseSnapshot(old)
    }

    /** All pairs accumulated so far; at least one batch must have been
      * folded (there is no session to make an empty frame from before
      * that).
      */
    def pairs: DataFrame = {
      require(acc != null, "no micro-batch folded yet")
      acc
    }
  }
}
