package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.DataFrame

/** Approximate-distinct maintained over a STREAM: the linear-counting
  * occupancy bitmap driven by foreachBatch — each micro-batch is hashed
  * and distinct'd alone (one map-side-combined pass over the batch,
  * never the history) and OR-merged into the kept state.
  *
  * This is the streaming twin of ext_sketch_lincount's sketch side.
  * Because the merge is an IDEMPOTENT set union — state(A) ⊕ state(B) ≡
  * state(A ∪ B) for any split, including overlapping/replayed rows —
  * micro-batch boundaries and redelivery are semantically invisible:
  * StreamingSpec replays the same keys across batches and asserts the
  * folded estimate equals the one-shot batch sketch. An ADDITIVE merge
  * (count sums) would overcount exactly there; the bitmap cannot.
  *
  * State is fixed-cardinality (≤ groups × buckets rows) — the reason a
  * 100 TB pipeline keeps THIS and drops the exact distinct: the state
  * never grows with the key universe.
  */
object SketchStream {

  final class LincountState(initial: DataFrame, keyCol: String,
      groupCol: String, buckets: Int) extends FoldState {
    private val cell =
      snapshot(Sketches.lincountState(initial, keyCol, groupCol, buckets))
    def state: DataFrame = cell.get

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      cell.advance(Sketches.mergeLincountStates(cell.get,
        Sketches.lincountState(batch, keyCol, groupCol, buckets)))
    }

    /** Current estimate per group off the folded occupancy state. */
    def estimate(): DataFrame =
      Sketches.lincountEstimate(state, groupCol, buckets)

    /** Pairwise overlap estimates off the SAME folded state — the
      * audience-overlap readout costs nothing extra to maintain: the
      * OR-merge makes the streamed state identical to the one-shot
      * bitmap, so these match the batch audit's estimates exactly
      * (spec-asserted).
      */
    def overlap(): DataFrame =
      Sketches.lincountOverlapEstimate(state, groupCol, buckets)
  }

  /** ADDITIVE sketch state under redelivery — the fixed-edge histogram
    * ([[Sketches.fixedHistState]]) folded over foreachBatch with the
    * IDEMPOTENT-SINK pattern: vector-ADD is exact for disjoint batches
    * but double-counts a replay (SketchSpec proves it), and Structured
    * Streaming's foreachBatch contract is AT-LEAST-once per batchId —
    * the same (batchId, data) pair may be re-delivered after a failure.
    * The fix is [[FoldState]]'s replay guard: a re-delivered batchId
    * no-ops, turning at-least-once delivery into exactly-once STATE. (In
    * a durable deployment the guard's high-water id is written with the
    * state in one transaction; here it is the in-memory id the spec
    * attacks by calling the sink twice with the same id.) This is the
    * half of the exactly-once story the OR-bitmap never needed — pairing
    * the two states makes the merge-algebra distinction operational, not
    * just documented.
    */
  final class HistState(initial: DataFrame, valCol: String,
      groupCol: String, lo: Double, hi: Double, bins: Int) extends FoldState {
    private val cell =
      snapshot(Sketches.fixedHistState(initial, valCol, groupCol, lo, hi, bins))
    def state: DataFrame = cell.get

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      cell.advance(Sketches.mergeHistStates(cell.get,
        Sketches.fixedHistState(batch, valCol, groupCol, lo, hi, bins)))
    }

    /** Quantile estimates off the folded histogram state. */
    def quantiles(qs: Seq[Double]): DataFrame =
      Sketches.fixedHistQuantiles(state, groupCol, lo, hi, bins, qs)
  }
}
