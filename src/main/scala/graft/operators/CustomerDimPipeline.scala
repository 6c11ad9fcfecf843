package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel

/** The reference's whole program as one composable call: dmCustomerProc.py
  * runs 16 SQL blocks top-to-bottom, fully materializing between steps,
  * and accumulates three outputs — the dwd_customer upsert image, the
  * new-customer insert image, and the dwd_hstr SCD2 delta (dm:17-232,
  * SURVEY §3).
  *
  * Like the reference, graft materializes between blocks, once: the
  * staged snapshot (customer ⋈ per-customer order aggregates, SQL-1..5).
  * Every output is derived from it, and a lazy plan re-reads the staging
  * tables for each derivation. `run` therefore launches the staging job
  * when called: one aggregate over orders gives each customer's order
  * count, latest order date and urgent-F flag (the reference's count,
  * latest record per key and existence flag, dm:65-77, 197-199), left
  * joined to customer in one shuffle. It persists the staged rows in
  * executor storage (`MEMORY_AND_DISK`, through `PlanBridge.persisted`)
  * and returns three lazy outputs over them; writing them reads no
  * staging file again. The upsert image is a projection of them, the
  * insert image a filter on the flag, and the delta emits both of a
  * changed key's rows from one pass over its keyed join. The persisted
  * rows keep their lineage, so a lost block is recomputed from the
  * staging files rather than failing a write. They are no CacheManager
  * entry: the next `run` reads the files again and never sees this
  * call's rows. `Outputs.release()` unpersists them once
  * the outputs are written; a caller that drops the outputs without it
  * leaves an unreachable RDD that Spark's ContextCleaner unpersists.
  *
  * PRECONDITION: `c_custkey` is unique in customer, so `cust_id` is
  * unique in the staged snapshot — the same precondition
  * `Scd2.keyedUpsert` documents; the upsert and the keyed change
  * detection both rely on it. It covers the latest order too, one per
  * customer: the largest `o_orderkey` among a customer's orders is
  * unique (or, if all their keys are null, they have one order). The
  * reference's `dense_rank` fans a tie out into several staged rows for
  * one customer, which already breaks the precondition; the aggregate
  * keeps one row and one of the tied dates.
  *
  * Inputs are role-mapped testdata tables (FIXTURES.md): customer plays
  * the customer/party staging join product, orders the account/update
  * stream. Timestamps are injected literals (G9).
  */
object CustomerDimPipeline {

  private val UrgentF = "__urgent_f"

  final class Outputs private[operators] (
      val upsertImage: DataFrame, // SQL-12: current dim after keyed upsert
      val insertImage: DataFrame, // SQL-13: brand-new customers to insert
      val histDelta: DataFrame,   // SQL-14..16: expired ∪ new-current rows
      staged: RDD[_]) {
    /** Unpersists the staged snapshot; write the outputs first (a write
      * after this recomputes it from the staging files). */
    def release(): Unit = staged.unpersist(blocking = false)
  }

  def run(spark: SparkSession, sfDir: String, ts: String = "2026-01-01 00:00:00",
      cdate: String = "2023-06-15 00:00:00",
      histFrom: String = "2020-01-01 00:00:00"): Outputs = {
    val t = graft.Tables
    def lts(s: String) = to_timestamp(lit(s))

    // -- staging denorm + derived metrics (SQL-1..5 shapes), persisted:
    // the order count, the latest order and the SQL-13 flag come from one
    // hash aggregate over orders. The latest order is the dense_rank's
    // DESC NULLS LAST rank 1: the one with the largest o_orderkey, or, for
    // a customer whose orders all have a null key, that order (max_by
    // skips null keys, so the group's max date stands in). Every buffer is
    // fixed-width, so Spark plans a hash aggregate; max(struct(key, date))
    // says the same, but its struct buffer makes it a sort aggregate.
    val perCust = t.orders(spark, sfDir).groupBy(col("o_custkey").as("__k"))
      .agg(count(lit(1)).as("acct_count"),
        when(max(col("o_orderkey")).isNotNull, max_by(col("o_orderdate"), col("o_orderkey")))
          .otherwise(max(col("o_orderdate"))).as("latest_order_date"),
        max(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
          .as(UrgentF))
    val (flagged, stagedRows) = PlanBridge.persisted(t.customer(spark, sfDir)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
        col("c_mktsegment").as("mkt_segment"), col("c_acctbal").as("acct_bal"))
      .join(perCust, col("cust_id") === col("__k"), "left").drop("__k"),
      StorageLevel.MEMORY_AND_DISK)
    val staged = flagged.drop(UrgentF)

    // -- new snapshot with business change (SQL-14 input)
    val relabelled =
      when(col("mkt_segment") === "BUILDING", "BLDG").otherwise(col("mkt_segment"))
    def relabel(df: DataFrame) = df.withColumn("mkt_segment", relabelled)
    val newSnap = relabel(staged)

    // -- history (seeded role)
    val hist = staged
      .withColumn("effective_from_date", lts(histFrom))
      .withColumn("is_current_record", lit(1))

    // -- SQL-12: keyed upsert of the new snapshot's segments into the dim.
    // Both sides are the staged rows, one per cust_id, so the keyed join
    // is a projection: a keyed row takes its relabelled segment, and a
    // null-key row, which the join matches to nothing, keeps its own.
    val upsert = staged
      .withColumn("mkt_segment",
        when(col("cust_id").isNotNull, relabelled).otherwise(col("mkt_segment")))
      .withColumn("etl_date", lts(ts))

    // -- SQL-13: insert image, customers with no F/urgent order
    val insert = relabel(flagged.where(!coalesce(col(UrgentF), lit(false))))
      .drop(UrgentF)
      .withColumn("etl_date", lts(ts))

    // -- SQL-14..16: change detect -> expire -> new-current -> delta. With
    // cust_id unique on both sides, a key changed iff its new row differs
    // from its history row, null-safely, in a compared column: the
    // multiset difference of the reference's form, as one keyed join
    // that emits both of a changed key's rows, the expired one from its
    // history side and the new-current one from its new side.
    val changed = newSnap.as("n").join(hist.as("h"), col("n.cust_id") === col("h.cust_id"))
      .where(!Seq("cust_name", "mkt_segment", "acct_bal")
        .map(c => col(s"n.$c") <=> col(s"h.$c")).reduce(_ && _))
    def udate(side: String) = coalesce(col(s"$side.latest_order_date"), lts(cdate))
    val noTs = lit(null).cast("timestamp")
    // (column, expired row, new-current row): the snapshot's columns, then
    // the SCD2 stamps; an expired row has no sys_effective_from_date and a
    // new-current one no end dates
    val deltaCols = staged.columns.toSeq.map(c => (c, col(s"h.$c"), col(s"n.$c"))) ++ Seq(
      ("effective_from_date", col("h.effective_from_date"), udate("n")),
      ("is_current_record", lit(0), lit(1)),
      ("effective_to_date", udate("h"), noTs),
      ("sys_effective_to_date", lts(ts), noTs),
      ("etl_date", lts(ts), lts(ts)),
      ("sys_effective_from_date", noTs, lts(ts)))
    val delta = changed.select(inline(array(
      struct(deltaCols.map { case (c, e, _) => e.as(c) }: _*),
      struct(deltaCols.map { case (c, _, n) => n.as(c) }: _*))))

    new Outputs(upsert, insert, delta, stagedRows)
  }
}
