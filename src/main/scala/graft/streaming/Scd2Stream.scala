package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 maintenance as a STREAM: the reference's flagship composite
  * (expire superseded rows, insert new current rows — dm:185-232) applied
  * per micro-batch of a changefeed via foreachBatch.
  *
  * One fold and one state backend. [[applyCdc]] folds an I/U/D
  * changefeed into the dimension snapshot in a single pass over it; an
  * update-only feed passes `lit("U").as(opCol)`. [[KeyedCdcState]] holds
  * the snapshot hash-partitioned on the business key into N slices and
  * rewrites ONLY the slices whose keys a batch touches — per-batch cost
  * O(|batch| + |dimension|/N x touched slices), the keyed merge /
  * partition-overwrite pattern of table formats; `numPartitions = 1` is
  * the full rewrite. foreachBatch delivers at-least-once; `applyCdc` is
  * deterministic in (dim, batch), so a replayed batch folds to the
  * identical snapshot, and `KeyedCdcState.sink` keys on batchId besides:
  * it folds through [[FoldState]], whose replay guard makes a batchId at
  * or below the last one folded a no-op.
  *
  * Dimension schema: (keyCol, valueCol, effective_from, effective_to,
  * is_current) with Long event-time stamps (`effective_to` null on the
  * open row). Changefeed schema: (keyCol, valueCol, tsCol, opCol).
  */
object Scd2Stream {

  /** Fold ONE changefeed batch into the dimension snapshot. The op column
    * carries I/U/D with upsert semantics (I ≡ U) — the shape a
    * Debezium/warehouse CDC stream delivers, including the delete lane
    * the reference's SCD2 proc never exercises (warehouses rarely
    * hard-delete; CDC feeds do).
    *
    *  - null business keys are dropped (the reference's groupBy G2 rule:
    *    a dimension row needs a key);
    *  - several changes for a key in one batch collapse to the latest by
    *    (ts desc, op desc, value desc) — a total order (G6 discipline); at
    *    one ts an update outranks a delete ('U' > 'D'), a deterministic
    *    documented policy rather than an engine accident;
    *  - LATE data is dropped: a change at-or-before the open row's
    *    effective_from would regress the dimension and mint an inverted
    *    validity interval — the batch-side analog of a watermark;
    *  - a no-op update (value null-safely equal to the open row's) leaves
    *    the dimension untouched — no spurious version churn; transitions
    *    TO and FROM null values are real changes and are recorded;
    *  - a changed value expires the open row at the change's ts and opens
    *    a new current row from it; a key with no open row just opens one;
    *  - a winning DELETE expires the open row at its ts (soft delete:
    *    history keeps every closed interval — the SCD2 reading of
    *    deletion; GDPR hard erasure is ext_privacy_erasure's job, not a
    *    dimension fold) and opens nothing. A delete for a key with no
    *    open row is dropped, which is what makes replaying it a no-op;
    *  - a re-insert after a delete is just a newer update: it opens a
    *    fresh current row; the deleted interval stays closed history.
    *
    * Same-ts collision: a change whose ts EQUALS the open row's
    * effective_from is treated as late and dropped even if it carries a
    * different value — the strictly-newer guard is what makes replaying
    * a batch idempotent (the batch's own winner re-arrives at the same
    * ts and must fold to a no-op). Sources that can emit two distinct
    * values at one timestamp need a monotonic sequence column folded
    * into ts (e.g. ts*2^k + seq) before calling this.
    *
    * Shape: ONE pass over the snapshot, left-joined to the broadcast
    * latest-change-per-key on its open rows; each row emits itself
    * (closed when superseded) plus, on a value change, the new open row.
    * Keys with no open row take their non-delete winner from an anti-join
    * of the batch against the open keys. The output derives from the
    * snapshot through that one branch only, so a checkpointed result
    * does not inherit (and, fold after fold, compound) its input's plan
    * constraints.
    */
  def applyCdc(dim: DataFrame, changes: DataFrame, keyCol: String,
      valueCol: String, tsCol: String, opCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).desc, col(opCol).desc, col(valueCol).desc)
    val latest = changes
      .where(col(keyCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(keyCol).as("__k"), col(valueCol).as("__v"),
        col(tsCol).as("__ts"), col(opCol).as("__op"))
    val isDel = col("__op") === "D"
    val from = col("effective_from")
    // strictly newer than the open row (an update also supersedes an open
    // row without a stamp), and a delete or a null-safe value change
    val closes = (isDel && col("__ts") > from) ||
      (!isDel && !(col(valueCol) <=> col("__v")) &&
        (col("__ts") > from || from.isNull))
    // a dimension row in the snapshot's column order, some columns replaced
    def row(over: (String, Column)*): Seq[Column] = {
      val m = over.toMap
      dim.columns.toSeq.map(c => m.getOrElse(c, col(c)).as(c))
    }
    val self = row(
      "effective_to" -> when(closes, col("__ts")).otherwise(col("effective_to")),
      "is_current" -> when(closes, lit(0)).otherwise(col("is_current")))
    val opened = row(keyCol -> col("__k"), valueCol -> col("__v"),
      "effective_from" -> col("__ts"),
      "effective_to" -> lit(null).cast("long"), "is_current" -> lit(1))
    val folded = dim
      .join(broadcast(latest),
        col(keyCol) === col("__k") && col("is_current") === 1, "left")
      .select(explode(
        when(closes && !isDel, array(struct(self: _*), struct(opened: _*)))
          .otherwise(array(struct(self: _*)))).as("__r"))
      .select("__r.*")
    val openKeys = dim.where(col("is_current") === 1).select(col(keyCol).as("__k"))
    val firstOpen = latest.where(!isDel)
      .join(openKeys, Seq("__k"), "left_anti")
      .select(opened: _*)
    folded.unionByName(firstOpen)
  }

  /** foreachBatch fold state. The snapshot is held as `numPartitions`
    * [[FoldState]] snapshots, slice p owning the keys with
    * `pmod(hash(key), numPartitions) == p` (Murmur3 via the `hash`
    * expression, so batch rows and state rows route identically). Each
    * batch:
    *
    *   1. derives the touched slice ids from the batch's keys (a
    *      driver-side set of at most numPartitions ints — bounded
    *      metadata, not data);
    *   2. folds [[applyCdc]] over ONLY those slices, each against its
    *      key-slice of the batch. The fold is per-key throughout
    *      (latest-per-key window, key-equi joins, key anti-join), and
    *      every key's rows — dimension and changefeed alike — live in
    *      exactly one slice, so folding slice by slice is the same
    *      computation as folding whole frames;
    *   3. leaves untouched slices' checkpointed RDDs untouched — they
    *      are not referenced by any new plan, so nothing about them is
    *      recomputed, rewritten, or even scanned.
    *
    * `partitionVersions` exposes per-slice rewrite counts so tests (and
    * ops dashboards) can assert the untouched-slice guarantee. Reading
    * `dim` unions the live slices lazily — no copy.
    */
  final class KeyedCdcState(initial: DataFrame, keyCol: String,
      valueCol: String, tsCol: String, opCol: String,
      numPartitions: Int = 16) extends FoldState {
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    private def pidExpr = pmod(hash(col(keyCol)), lit(numPartitions))
    private val parts: Array[Snapshot] = {
      val keyed = initial.withColumn("__pid", pidExpr)
      Array.tabulate(numPartitions) { p =>
        snapshot(keyed.where(col("__pid") === p).drop("__pid"))
      }
    }
    // each fold's output is (snapshot ∪ first opens): coalescing it back
    // to the slice's initial width (no shuffle) keeps a long-running
    // stream from adding one partition per fold (an empty initial slice
    // has no partitions; its folds keep one)
    private val widths = parts.map(p => math.max(1, p.get.rdd.getNumPartitions))
    private val versions = Array.fill(numPartitions)(0L)

    /** Per-slice rewrite counts since construction (slice p rewritten
      * versions(p) times). Untouched-slice assertions key off this. */
    def partitionVersions: Seq[Long] = versions.toSeq

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      // one batch materialization, reused per slice
      FoldState.scratch(batch.where(col(keyCol).isNotNull)
          .withColumn("__pid", pidExpr)) { keyedBatch =>
        val touched = keyedBatch.select("__pid").distinct()
          .collect().map(_.getInt(0)).sorted
        touched.foreach { p =>
          parts(p).advance(applyCdc(parts(p).get,
            keyedBatch.where(col("__pid") === p).drop("__pid"),
            keyCol, valueCol, tsCol, opCol).coalesce(widths(p)))
          versions(p) += 1
        }
      }
    }

    /** The full dimension: lazy union of the slices. */
    def dim: DataFrame = parts.map(_.get).reduce(_ unionByName _)
  }
}
