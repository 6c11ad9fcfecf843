package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BoundReference, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** SCD2 maintenance as a STREAM: the reference's flagship composite
  * (expire superseded rows, insert new current rows — dm:185-232) applied
  * per micro-batch of a changefeed via foreachBatch.
  *
  * One fold and one state backend. [[applyCdc]] folds an I/U/D
  * changefeed into the dimension snapshot in a single pass over it; an
  * update-only feed passes `lit("U").as(opCol)`. [[KeyedCdcState]] holds
  * the snapshot hash-partitioned on the business key into N slices and
  * rewrites ONLY the slices whose keys a batch touches — per-batch cost
  * O(|batch|) to pick each key's winner (per partition on the executors,
  * then on the driver among at most one row per key per partition),
  * plus O(|dimension|/N x touched slices) on the executors, one hash
  * probe per open row: the keyed merge /
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
    * Shape: each key's winner is the max of (ts, op, value) under
    * Spark's natural ascending row ordering, whose NULLS FIRST max is
    * the (ts desc, op desc, value desc) window's rank 1, with keys
    * grouped as Spark groups them (-0.0 ≡ 0.0, one NaN). It is picked in
    * ONE map-only collect: each task picks its partition's winners, and
    * the driver picks among those. The winners ship to the executors
    * inside the plan as ONE hash table, key → struct(value, ts, op), so
    * a single pass over the snapshot finds each open row's winner in one
    * hash probe and emits the row itself (closed when superseded) plus,
    * on a value change, the new open row. A second collect finds which
    * winners' keys have an open row; the others' non-delete winners are
    * the first opens, appended as a local relation. No shuffle,
    * broadcast or join.
    *
    * The call itself launches those two jobs: it returns a plan that
    * already holds the winners and the first opens, so building the
    * fold is not free even if the result is never read. The output
    * derives from the snapshot through that one pass only, so a
    * checkpointed result does not inherit (and, fold after fold,
    * compound) its input's plan constraints; an unchecked chain of folds
    * instead re-runs every earlier fold's pass and probe on each call.
    *
    * Driver bound: the driver receives at most one row per key per
    * partition of the batch and holds each key's winner, so a batch is a
    * delta of the dimension, not its history. The executors do O(1) work
    * per dimension row.
    */
  def applyCdc(dim: DataFrame, changes: DataFrame, keyCol: String,
      valueCol: String, tsCol: String, opCol: String): DataFrame =
    new CdcBatch(changes, dim.schema, keyCol, valueCol, tsCol, opCol, lit(0))
      .fold(Seq(0 -> dim)).head

  /** Each key's winner among (ts, op, value, key, slice) rows: the max of
    * the first three fields under the natural ascending ordering, keys
    * grouped as Spark groups them. Keeps copies of the rows. */
  private def pick(rows: Iterator[InternalRow],
      types: Seq[DataType]): java.util.HashMap[UnsafeRow, InternalRow] = {
    val rank = RowOrdering.createNaturalAscendingOrdering(types.take(3))
    val keyOf = KeyTable.groupKey(types(3), 3)
    val best = new java.util.HashMap[UnsafeRow, InternalRow]
    rows.foreach { r =>
      val k = keyOf(r)
      val w = best.get(k)
      if (w == null) best.put(k.copy(), r.copy())
      else if (rank.gt(r, w)) best.put(k, r.copy())
    }
    best
  }

  /** One changefeed batch on the driver: its winners by slice, from the
    * one collect of `changes`' rows with a key, tagged with `slice`. The
    * winner's key, value and ts are cast to the dimension's types, which
    * is what the lookup compares against.
    */
  private final class CdcBatch(changes: DataFrame, dimSchema: StructType,
      keyCol: String, valueCol: String, tsCol: String, opCol: String,
      slice: Column) {
    private val keyType = dimSchema(keyCol).dataType
    // (ts, op, value) lead, so the natural ordering of the first three
    // fields is the winner's rank
    private val rows = changes.where(col(keyCol).isNotNull).select(
      col(tsCol).cast(dimSchema("effective_from").dataType).as("__ts"),
      col(opCol).as("__op"),
      col(valueCol).cast(dimSchema(valueCol).dataType).as("__v"),
      col(keyCol).cast(keyType).as("__k"), slice.as("__p"))
    private val types = rows.schema.fields.map(_.dataType).toSeq

    /** Slice id → (normalized key, winner) of each key: each task picks
      * its partition's winners, so the one collect ships at most one row
      * per key per partition, and the driver picks among those. */
    val winners: Map[Int, Seq[(UnsafeRow, InternalRow)]] = {
      val ts = types // a local: the task closure must not capture this batch
      val picked = rows.queryExecution.toRdd
        .mapPartitions(it => pick(it, ts).values.iterator.asScala).collect()
      pick(picked.iterator, types).asScala.toSeq.groupBy(_._2.getInt(4))
    }

    /** key → struct(__v, __ts, __op) of `ws`, as one lookup column. */
    private def lookup(ws: Seq[(UnsafeRow, InternalRow)]): Column = {
      val value = StructType(Seq("__v", "__ts", "__op").map(rows.schema(_)))
      val toValue = UnsafeProjection.create(Seq(2, 0, 1).map(i =>
        BoundReference(i, types(i), nullable = true)))
      val entries = new java.util.HashMap[UnsafeRow, UnsafeRow](ws.size * 2)
      ws.foreach { case (k, w) => entries.put(k, toValue(w).copy()) }
      PlanBridge.column(KeyLookup(UnresolvedAttribute.quoted(keyCol),
        new KeyTable(keyType, value, entries)))
    }

    /** Each (slice id, dimension slice) folded with that slice's winners,
      * lazily; the probe for open keys runs now, one job for all. */
    def fold(dims: Seq[(Int, DataFrame)]): Seq[DataFrame] = {
      val slices = dims.map { case (p, d) =>
        val ws = winners.getOrElse(p, Nil)
        (d, ws, lookup(ws))
      }
      val probes = slices.collect { case (d, ws, l) if ws.nonEmpty =>
        d.where(col("is_current") === 1 && l.isNotNull).select(col(keyCol))
      }
      val open = if (probes.isEmpty) Set.empty[UnsafeRow] else {
        val probe = probes.reduce(_ unionByName _)
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(probe.schema)
        val openKey = KeyTable.groupKey(keyType, 0)
        probe.collect().map(r => openKey(toCatalyst(r).asInstanceOf[InternalRow]).copy()).toSet
      }
      val toRow = CatalystTypeConverters.createToScalaConverter(rows.schema)
      slices.map { case (dim, ws, l) =>
        val folded = foldSlice(dim, l)
        val firstOpens = ws.collect { case (k, w) if !open(k) => toRow(w).asInstanceOf[Row] }
        if (firstOpens.isEmpty) folded
        else folded.unionByName(changes.sparkSession
          .createDataFrame(firstOpens.asJava, rows.schema)
          .where(!isDel).select(opened: _*))
      }
    }

    private val isDel = col("__op") === "D"

    // a dimension row in the snapshot's column order, some columns replaced
    private def row(over: (String, Column)*): Seq[Column] = {
      val m = over.toMap
      dimSchema.fieldNames.toSeq.map(c => m.getOrElse(c, col(c)).as(c))
    }

    private val opened =
      row(keyCol -> col("__k"), valueCol -> col("__v"),
        "effective_from" -> col("__ts"),
        "effective_to" -> lit(null).cast("long"), "is_current" -> lit(1))

    /** The one pass: each open row finds its winner in the table. */
    private def foldSlice(dim: DataFrame, lookup: Column): DataFrame = {
      val from = col("effective_from")
      // strictly newer than the open row (an update also supersedes an
      // open row without a stamp), and a delete or a null-safe value change
      val closes = (isDel && col("__ts") > from) ||
        (!isDel && !(col(valueCol) <=> col("__v")) &&
          (col("__ts") > from || from.isNull))
      val self = row(
        "effective_to" -> when(closes, col("__ts")).otherwise(col("effective_to")),
        "is_current" -> when(closes, lit(0)).otherwise(col("is_current")))
      dim.withColumn("__w", when(col("is_current") === 1, lookup))
        .select(col("*"), col(keyCol).as("__k"), col("__w.__v").as("__v"),
          col("__w.__ts").as("__ts"), col("__w.__op").as("__op"))
        .select(explode(
          when(closes && !isDel, array(struct(self: _*), struct(opened: _*)))
            .otherwise(array(struct(self: _*)))).as("__r"))
        .select("__r.*")
    }
  }

  /** foreachBatch fold state. The snapshot is held as `numPartitions`
    * [[FoldState]] snapshots, slice p owning the keys with
    * `pmod(hash(key), numPartitions) == p` (Murmur3 via the `hash`
    * expression, so batch rows and state rows route identically). Each
    * batch:
    *
    *   1. collects its rows with a key, each tagged with its slice id,
    *      and picks each key's winner (one map-only job, each task
    *      picking its partition's winners, then the driver among those).
    *      The touched slices are the winners' slice ids — at most
    *      numPartitions ints;
    *   2. folds [[applyCdc]]'s pass over ONLY those slices, each against
    *      its slice's winners, after one probe job across all of them
    *      for the winners' open keys. The fold is per-key throughout
    *      (winner pick, key lookup, open-key probe), and every key's
    *      rows — dimension and changefeed alike — live in exactly one
    *      slice, so folding slice by slice is the same computation as
    *      folding whole frames. Each touched slice's successor is then
    *      checkpointed (one job each): a batch is 2 + touched jobs, and
    *      a batch without a keyed row is the collect alone;
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
    private val schema = initial.schema
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
      val cdc = new CdcBatch(batch, schema, keyCol, valueCol, tsCol, opCol, pidExpr)
      val touched = cdc.winners.keys.toSeq.sorted
      touched.zip(cdc.fold(touched.map(p => p -> parts(p).get))).foreach { case (p, next) =>
        parts(p).advance(next.coalesce(widths(p)))
        versions(p) += 1
      }
    }

    /** The full dimension: lazy union of the slices. */
    def dim: DataFrame = parts.map(_.get).reduce(_ unionByName _)
  }
}
