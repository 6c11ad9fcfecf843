package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Sources

/** Interactive serving against a changing IVF index: each iteration is a
  * round of probe batches followed by one admission and one erasure.
  */
final class AnnServe(seed: Long) extends Workload {
  val N = 10000L
  val Dim = 32
  val Clusters = 50L
  val CentroidEvery = 200
  val Noise = 0.35
  val QueryCount = 200
  val Q = 10
  val K = 10
  val ProbesPerRound = 12
  val WarmupProbes = 8
  val Admit = 200L
  val Erase = 10
  val QueryIdBase = 1000000000L
  val AdmitIdBase = 2000000000L

  private val probeMs, writeMs = mutable.ArrayBuffer[Double]()
  private val scannedPerResult = mutable.ArrayBuffer[Double]()
  private var queries: Seq[Row] = Nil
  private var schema: org.apache.spark.sql.types.StructType = _
  private val admitted = mutable.ArrayBuffer[Long]()
  private val erased = mutable.ArrayBuffer[Long]()

  private def index(ctx: Ctx) = ctx.dir("ivf")

  override def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    Sources.writeParquetTable(Gen.vectors(s, seed, "", 0L, N, Dim, Clusters, Noise),
      ctx.dir("vectors"), "vectors.parquet", replace = true)
    Sources.writeParquetTable(Gen.vectors(s, seed, "q", QueryIdBase, QueryCount, Dim, Clusters, Noise),
      ctx.dir("vectors"), "queries.parquet", replace = true)
    Similarity.writeIvfIndex(Sources.readParquetTable(s, ctx.dir("vectors"), "vectors"),
      "id", "vec", CentroidEvery, index(ctx))
    val q = Sources.readParquetTable(s, ctx.dir("vectors"), "queries").orderBy("id")
    schema = q.schema
    queries = q.collect().toSeq
    admitted.clear(); erased.clear()
  }

  override def checksums(ctx: Ctx): Seq[(String, String)] = Seq(
    "vectors" -> Gen.checksum(Sources.readParquetTable(ctx.spark, ctx.dir("vectors"), "vectors")),
    "queries" -> Gen.checksum(Sources.readParquetTable(ctx.spark, ctx.dir("vectors"), "queries")))

  private def queryBatch(ctx: Ctx, n: Int): DataFrame = {
    val from = (n * Q) % QueryCount
    ctx.spark.createDataFrame(queries.slice(from, from + Q).asJava, schema)
  }

  override def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    val measured = i > 0 && !traced
    for (p <- 0 until (if (i == 0) WarmupProbes else ProbesPerRound)) {
      val n = i * ProbesPerRound + p
      ctx.tracer.op = n
      ctx.op("probe") {
        ctx.span("operators", "probe") {
          val df = Similarity.probeIvfIndexV2(index(ctx), queryBatch(ctx, n), "id", "vec", K)
          (df, df.collect().length)
        }
      }.foreach { case ((df, got), ms) =>
        if (measured) probeMs += ms
        ctx.log(f"probe $n: $ms%.0f ms")
        if (traced) scannedPerResult += scannedRows(df).toDouble / (Q * K)
        ctx.report.check("probe returns k neighbours per query", got == Q * K, s"$got rows for $Q queries")
      }
    }
    // then one admission and one erasure
    ctx.tracer.op = i * ProbesPerRound
    val first = AdmitIdBase + i * Admit
    ctx.op("append") {
      ctx.span("operators", "append") {
        Similarity.appendToIvfIndex(
          Gen.vectors(ctx.spark, seed, "admit", first, Admit, Dim, Clusters, Noise),
          "id", "vec", index(ctx))
      }
    }.foreach { case (_, ms) => if (measured) writeMs += ms; admitted ++= (first until first + Admit) }
    // erase original vectors, each once: stride 7 is coprime with N
    val tomb = (0 until Erase).map(j => ((i.toLong * Erase + j) * 7) % N)
    ctx.op("delete") {
      ctx.span("operators", "delete") {
        Similarity.deleteFromIvfIndex(index(ctx),
          ctx.spark.createDataFrame(tomb.map(Tuple1(_))).toDF("id"))
      }
    }.foreach { case (_, ms) => if (measured) writeMs += ms; erased ++= tomb }
  }

  override def verify(ctx: Ctx, i: Int, traced: Boolean): Unit = ()

  /** Rows the probe read from the index's cell table. */
  private def scannedRows(df: DataFrame): Long = {
    def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => all(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: all(q.plan)
        case o => o +: (o.children ++ o.subqueries).flatMap(all)
      }
    all(df.queryExecution.executedPlan).collect {
      case s: DataSourceV2ScanExecBase if s.output.exists(_.name == "vec_b") =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  override def opSamplesMs: Seq[Double] = probeMs.toSeq

  override def finish(ctx: Ctx): Unit = {
    val s = ctx.spark
    val r = ctx.report
    r.info("probe_p50_ms", Stats.median(probeMs.toSeq), "ms", probeMs.size)
    Stats.tailPercentile(probeMs.toSeq, 0.9) match {
      case Some(p90) => r.info("probe_p90_ms", p90, "ms", probeMs.size)
      case None => r.info("probe_p90_withheld_samples", probeMs.size.toDouble, "count", probeMs.size, "exact")
    }
    r.info("write_p50_ms", Stats.median(writeMs.toSeq), "ms", writeMs.size)
    // recall against brute force over the live index, outside the timed window
    val live = s.read.parquet(s"${index(ctx)}/cells").select(col("vec_b").as("id"), col("vb").as("vec"))
    val qs = s.createDataFrame(queries.asJava, schema)
    val exact = Similarity.bruteForceTopK(live, qs, "id", "vec", K)
    val approx = Similarity.probeIvfIndexV2(index(ctx), qs, "id", "vec", K)
    val hits = exact.join(approx, Seq("q_id", "neighbor_id")).count()
    val recall = hits.toDouble / (QueryCount * K)
    r.info("recall_at_10", recall, "ratio", QueryCount.toLong, "exact")
    r.check("recall_at_10 computed against brute force", approx.count() == QueryCount * K,
      f"recall $recall%.4f over $QueryCount queries")
    val liveIds = live.select("id")
    val erasedLeft = liveIds.join(s.createDataFrame(erased.map(Tuple1(_)).toSeq).toDF("id"), "id").count()
    val admittedFound = liveIds.join(s.createDataFrame(admitted.map(Tuple1(_)).toSeq).toDF("id"), "id").count()
    r.check("erased vectors are gone, admitted ones servable",
      erasedLeft == 0 && admittedFound == admitted.size,
      s"$erasedLeft of ${erased.size} erased still live, $admittedFound of ${admitted.size} admitted live")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(index(ctx), "cells"))
    val nFiles = try files.iterator().asScala.count(_.toString.endsWith(".parquet")) finally files.close()
    r.layer("sources.index_files", nFiles.toDouble, 1)
    if (scannedPerResult.nonEmpty)
      r.layer("sources.rows_scanned_per_result", Stats.median(scannedPerResult.toSeq), scannedPerResult.size)
    Seq("probe", "append", "delete").foreach { n =>
      val (m, k) = Main.spanMedianS(ctx, n)
      r.layer(s"operators.${n}_s", m, k)
    }
  }

  override def kernels(ctx: Ctx): Unit = {
    val s = ctx.spark
    Sources.readParquetTable(s, ctx.dir("vectors"), "vectors").createOrReplaceTempView("pb_vecs")
    s.read.parquet(s"${index(ctx)}/cents").createOrReplaceTempView("pb_cents")
    val cents = "(SELECT collect_list(named_struct('cent_id', cent_id, 'cvec', cvec, 'cn', cn)) AS cs FROM pb_cents)"
    val nsq = "aggregate(vec, 0D, (a, x) -> a + x * x)"
    // every vector against the first Pairs vectors: enough products to
    // outweigh the job overhead
    val pairs = s"pb_vecs a CROSS JOIN (SELECT vec AS w FROM pb_vecs WHERE id < ${Kernels.Pairs}) b"
    val base = Kernels.timeMs(ctx, s"SELECT max(a.vec[0] + b.w[0]) FROM $pairs")
    val dot = Kernels.timeMs(ctx, s"SELECT max(graft_dot(a.vec, b.w)) FROM $pairs")
    val nearBase = Kernels.timeMs(ctx, s"SELECT max(size(c.cs) + $nsq) FROM pb_vecs CROSS JOIN $cents c")
    val near = Kernels.timeMs(ctx,
      s"SELECT max(graft_nearest_centroid(c.cs, vec, $nsq)) FROM pb_vecs CROSS JOIN $cents c")
    ctx.report.layer("functions.dot_ns_per_dim", (dot - base) * 1e6 / (N * Kernels.Pairs * Dim), Kernels.Reps)
    ctx.report.layer("functions.nearest_centroid_ns_per_vec", (near - nearBase) * 1e6 / N, Kernels.Reps)
  }
}
