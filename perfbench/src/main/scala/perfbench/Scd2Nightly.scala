package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CustomerDimPipeline
import graft.sources.Sources
import graft.streaming.Scd2Stream

/** The paper's nightly job. Each iteration refreshes the customer
  * dimension from the staging snapshot (three outputs written), then folds
  * a fixed sequence of CDC batches into keyed SCD2 state seeded from the
  * refreshed dimension.
  */
final class Scd2Nightly(seed: Long) extends Workload {
  val Customers = 20000L
  val Orders = Customers * 5
  val BuildingShare = 0.2
  val Batches = 6
  val BatchRows = 200
  val WarmupBatches = 2
  val Slices = 1

  private val refreshS, foldS, batchMs, growths, slicesFrac = mutable.ArrayBuffer[Double]()
  private val lastOut = mutable.Map[String, Long]()
  private var expected: Map[String, Long] = Map.empty
  private val expectedLive = mutable.Map[Int, Long]()
  private var stateRows, stateMb = 0.0

  override def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    Sources.writeParquetTable(Gen.customers(s, seed, Customers, BuildingShare),
      ctx.dir("staging"), "customer.parquet", replace = true)
    Sources.writeParquetTable(Gen.orders(s, seed, Orders, Customers),
      ctx.dir("staging"), "orders.parquet", replace = true)
    Sources.writeParquetTable(Gen.cdc(s, seed, Batches, BatchRows, Customers),
      ctx.dir("cdc"), "cdc.parquet", replace = true)
  }

  override def checksums(ctx: Ctx): Seq[(String, String)] = Seq(
    "customer" -> Gen.checksum(Sources.readParquetTable(ctx.spark, ctx.dir("staging"), "customer")),
    "orders" -> Gen.checksum(Sources.readParquetTable(ctx.spark, ctx.dir("staging"), "orders")),
    "cdc" -> Gen.checksum(cdc(ctx)))

  private def cdc(ctx: Ctx): DataFrame = Sources.readParquetTable(ctx.spark, ctx.dir("cdc"), "cdc")

  override def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    val measured = i > 0 && !traced
    ctx.tracer.op = i
    // refresh: scan -> three outputs written
    val out = ctx.dir("refresh")
    ctx.op("refresh") {
      val o = ctx.span("operators", "CustomerDimPipeline.run") {
        CustomerDimPipeline.run(ctx.spark, ctx.dir("staging"))
      }
      Seq("upsert" -> o.upsertImage, "insert" -> o.insertImage, "delta" -> o.histDelta)
        .foreach { case (name, df) =>
          ctx.span("operators", s"refresh_$name") {
            ctx.span("sources", "writeParquetTable") {
              Sources.writeParquetTable(df, out, s"dim_$name.parquet", replace = true)
            }
          }
        }
    }.foreach { case (_, ms) =>
      ctx.log(f"refresh: $ms%.0f ms")
      if (measured) refreshS += ms / 1000
    }

    // fold: the CDC batch sequence into keyed state seeded from the refresh
    val dim0 = Sources.readParquetTable(ctx.spark, out, "dim_upsert")
      .select(col("cust_id"), col("mkt_segment"), lit(Gen.FoldBase).as("effective_from"),
        lit(null).cast("long").as("effective_to"), lit(1).as("is_current"))
    val feed = cdc(ctx)
    val t0 = System.nanoTime()
    val state = ctx.span("streaming", "KeyedCdcState.init") {
      new Scd2Stream.KeyedCdcState(dim0, "cust_id", "mkt_segment", "ts", "op", Slices)
    }
    val lat = mutable.ArrayBuffer[Double]()
    var rewritten = 0L
    // the warm-up folds only the first batches: that compiles the fold's
    // plans without paying for the slowdown of the later ones
    val n = if (i == 0) WarmupBatches else Batches
    for (b <- 0 until n) {
      val before = state.partitionVersions
      ctx.tracer.op = i * 1000L + b
      ctx.op(s"fold batch $b") {
        ctx.span("streaming", "KeyedCdcState.sink") {
          state.sink(feed.where(col("batch") === b).drop("batch"), b.toLong)
        }
      }.foreach { case (_, ms) => lat += ms; ctx.log(f"fold batch $b: $ms%.0f ms") }
      rewritten += state.partitionVersions.zip(before).map { case (a, c) => a - c }.sum
    }
    if (measured) {
      foldS += (System.nanoTime() - t0) / 1e9
      batchMs ++= lat
      if (lat.size >= 4) growths += Stats.growth(lat.toSeq)
    }
    if (traced) slicesFrac += rewritten.toDouble / (n * Slices)
    folded = Some((state.dim, n))
  }

  private var folded: Option[(DataFrame, Int)] = None

  override def verify(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    checkRefresh(ctx, ctx.dir("refresh"))
    folded.foreach { case (dim, n) => checkFold(ctx, dim, n, traced) }
    folded = None
  }

  private def checkRefresh(ctx: Ctx, out: String): Unit = {
    val s = ctx.spark
    if (expected.isEmpty) {
      Sources.readParquetTable(s, ctx.dir("staging"), "customer").createOrReplaceTempView("pb_customer")
      Sources.readParquetTable(s, ctx.dir("staging"), "orders").createOrReplaceTempView("pb_orders")
      // the refresh's three row counts, formulated independently in SQL
      val row = s.sql(
        """SELECT
          |  (SELECT count(*) FROM pb_customer) AS upsert,
          |  (SELECT count(*) FROM pb_customer c WHERE NOT EXISTS (
          |     SELECT 1 FROM pb_orders o WHERE o.o_custkey = c.c_custkey
          |       AND o.o_orderstatus = 'F' AND o.o_orderpriority = '1-URGENT')) AS insert,
          |  (SELECT 2 * count(*) FROM pb_customer WHERE c_mktsegment = 'BUILDING') AS delta
          |""".stripMargin).head()
      expected = Map("upsert" -> row.getLong(0), "insert" -> row.getLong(1), "delta" -> row.getLong(2))
      cdc(ctx).createOrReplaceTempView("pb_cdc")
    }
    for ((name, want) <- expected) {
      val got = Sources.readParquetTable(s, out, s"dim_$name").count()
      lastOut(name) = got
      ctx.report.check(s"refresh $name rows", got == want, s"$got written, $want by plain SQL")
    }
  }

  private def checkFold(ctx: Ctx, dim: DataFrame, batches: Int, traced: Boolean): Unit = {
    dim.createOrReplaceTempView("pb_dim")
    val r = ctx.spark.sql(
      """WITH d AS (
        |  SELECT *, lead(effective_from) OVER (PARTITION BY cust_id ORDER BY effective_from) AS nxt
        |  FROM pb_dim)
        |SELECT count(*) AS state_rows,
        |  count_if(is_current = 1) AS current_rows,
        |  count(DISTINCT CASE WHEN is_current = 1 THEN cust_id END) AS current_keys,
        |  count_if(nxt IS NOT NULL AND (effective_to IS NULL OR effective_to <> nxt)) AS not_contiguous,
        |  count_if(effective_to IS NOT NULL AND effective_to <= effective_from) AS empty_interval,
        |  count_if(is_current = 1 AND (nxt IS NOT NULL OR effective_to IS NOT NULL)) AS open_not_last,
        |  count_if(is_current = 0 AND effective_to IS NULL) AS closed_without_end
        |FROM d""".stripMargin).head()
    val Seq(rows, cur, keys, gaps, empty, openNotLast, closedNoEnd) = (0 until 7).map(r.getLong)
    // live keys after the first `batches` batches, from the feed alone:
    // every insert adds a key, every delete of a reserved key removes one
    // (reserved keys get no other changes)
    val live = expectedLive.getOrElseUpdate(batches, ctx.spark.sql(
      s"""SELECT $Customers
         |  - (SELECT count(DISTINCT cust_id) FROM pb_cdc
         |     WHERE batch < $batches AND op = 'D' AND ts > ${Gen.FoldBase})
         |  + (SELECT count(*) FROM pb_cdc
         |     WHERE batch < $batches AND op = 'I' AND cust_id IS NOT NULL AND ts > ${Gen.FoldBase})
         |""".stripMargin).head().getLong(0))
    ctx.report.check("fold one current row per live key", cur == keys && keys == live,
      s"$cur current rows, $keys current keys, $live live keys expected")
    ctx.report.check("fold intervals disjoint and contiguous",
      gaps == 0 && empty == 0 && openNotLast == 0 && closedNoEnd == 0,
      s"$gaps gaps/overlaps, $empty empty, $openNotLast open rows not last, $closedNoEnd closed rows without end")
    if (traced) {
      stateRows = rows.toDouble
      stateMb = ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    }
  }

  override def opSamplesMs: Seq[Double] = batchMs.toSeq

  override def finish(ctx: Ctx): Unit = {
    val r = ctx.report
    r.info("scd2_refresh_s", Stats.median(refreshS.toSeq), "s", refreshS.size)
    r.info("scd2_fold_s", Stats.median(foldS.toSeq), "s", foldS.size)
    r.info("scd2_batch_p50_ms", Stats.median(batchMs.toSeq), "ms", batchMs.size)
    r.info("scd2_batch_growth", Stats.median(growths.toSeq), "ratio", growths.size)
    Seq("upsert", "insert", "delta").foreach { n =>
      r.layer(s"operators.refresh_${n}_rows", lastOut(n).toDouble, 1)
      val (m, k) = Main.spanMedianS(ctx, s"refresh_$n")
      r.layer(s"operators.refresh_${n}_s", m, k)
    }
    if (slicesFrac.nonEmpty) {
      val sinks = ctx.tracer.allSpans.filter(_.name == "KeyedCdcState.sink")
      r.layer("streaming.sink_ms", Stats.median(sinks.map(_.durNs / 1e6)), sinks.size)
      r.layer("streaming.driver_self_ms",
        ctx.tracer.driverSelfMs(_.name == "KeyedCdcState.sink") / sinks.size.max(1), sinks.size)
      r.layer("streaming.slices_rewritten_frac", Stats.median(slicesFrac.toSeq), slicesFrac.size)
      r.layer("streaming.state_rows", stateRows, 1)
      r.layer("streaming.state_mb", stateMb, 1)
    }
  }
}
