package graft.streaming

import org.apache.spark.sql.DataFrame

/** The one core every foreachBatch state holder folds through: a holder
  * keeps its merge function and its readers, and these mechanics:
  *
  *  - REPLAY GUARD. foreachBatch delivers at-least-once, so a batchId at
  *    or below the last one folded is a no-op. One high-water id, in
  *    memory, per incarnation: a query restarted without its streaming
  *    checkpoint numbers batches from 0 again and needs a fresh holder;
  *    one restarted from its checkpoint never re-delivers a committed
  *    epoch. A step that throws leaves the guard where it was.
  *  - SINK LOCK. Each fold runs under the holder's monitor, so two sink
  *    calls never interleave a read-modify-write of the state.
  *  - SNAPSHOT STEP ([[Snapshot.advance]]). The successor is
  *    localCheckpoint'ed eagerly, keeping its plan O(1) instead of
  *    embedding every prior batch's lineage, and only then are the
  *    predecessor's blocks released: state is one snapshot plus the one
  *    in flight. [[FoldState.scratch]] is the same step for a frame that
  *    lives for one fold.
  *  - EMPTY CHECK. A snapshot that starts empty fails a read before the
  *    first fold (there is no session to make an empty frame from until
  *    a batch brings one).
  */
abstract class FoldState {
  private var highWater = Long.MinValue

  /** The guard's whole state: the last batchId folded, or Long.MinValue. */
  private[graft] def lastFolded: Long = synchronized(highWater)

  /** Run `step` for `batchId` under the sink lock, unless a batch at or
    * above that id has already been folded. */
  protected final def fold(batchId: Long)(step: => Unit): Unit = synchronized {
    if (batchId > highWater) {
      step
      highWater = batchId
    }
  }

  /** A snapshot seeded with `seed`, checkpointed now. */
  protected final def snapshot(seed: DataFrame): Snapshot =
    new Snapshot(seed.localCheckpoint())

  /** A snapshot that stays empty until its first [[Snapshot.accumulate]]. */
  protected final def emptySnapshot(): Snapshot = new Snapshot(null)
}

object FoldState {

  /** Checkpoint `df` for one fold step: `use` reads the materialized
    * frame, whose blocks are released when `use` returns. Whatever
    * outlives the step must have been checkpointed inside it. */
  def scratch[A](df: DataFrame)(use: DataFrame => A): A = {
    val cp = df.localCheckpoint()
    try use(cp) finally release(cp)
  }

  /** Release the block set behind a localCheckpoint'ed frame. Dataset
    * .unpersist only knows cache() entries, so reach the checkpoint RDD
    * through the LogicalRDD node; without this, every superseded
    * snapshot's blocks linger until the ContextCleaner notices the
    * dropped reference (the cache-lifetime hazard
    * Dedup.materializePairs documents). */
  private[streaming] def release(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

/** One checkpointed state frame of a [[FoldState]] holder. Written only
  * inside the holder's fold; read from any thread. */
final class Snapshot private[streaming] (@volatile private var df: DataFrame) {

  /** The current snapshot. */
  def get: DataFrame = {
    require(df != null, "no micro-batch folded yet")
    df
  }

  /** Replace the snapshot with `next`: checkpoint it eagerly, then
    * release the predecessor's blocks. */
  def advance(next: DataFrame): Unit = {
    val old = df
    df = next.localCheckpoint()
    if (old != null) FoldState.release(old)
  }

  /** The accumulator step: the first fold keeps `delta` alone, each
    * later one `merge(current, delta)`. */
  def accumulate(delta: DataFrame)(merge: (DataFrame, DataFrame) => DataFrame): Unit =
    advance(if (df == null) delta else merge(df, delta))
}
