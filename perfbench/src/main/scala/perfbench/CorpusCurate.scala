package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, Dedup, TextAnalysis}
import graft.sources.Sources

/** The LLM-curation batch: clean, near-duplicate pairs, duplicate
  * clusters and top TF-IDF terms over a corpus with planted duplicates,
  * every result written.
  */
final class CorpusCurate(seed: Long) extends Workload {
  val Base = 4000L
  val Exact = 50L
  val Near = 150L
  val Vocab = 20000L
  val NumPerm = 64
  val RowsPerBand = 4
  val Tau = 0.5
  val MinQuality = 0.3
  val Langs = Seq("sqlish", "streamish", "mlish")

  private val runS = mutable.ArrayBuffer[Double]()
  private val recalls = mutable.ArrayBuffer[Double]()
  private var pairsOut, components = 0L

  override def setup(ctx: Ctx): Unit = {
    val (docs, planted) = Gen.corpus(ctx.spark, seed, Base, Exact, Near, Vocab)
    Sources.writeParquetTable(docs, ctx.dir("corpus"), "docs.parquet", replace = true)
    Sources.writeParquetTable(planted, ctx.dir("corpus"), "planted.parquet", replace = true)
  }

  private def docs(ctx: Ctx) = Sources.readParquetTable(ctx.spark, ctx.dir("corpus"), "docs")

  override def checksums(ctx: Ctx): Seq[(String, String)] = Seq(
    "docs" -> Gen.checksum(docs(ctx)),
    "planted" -> Gen.checksum(Sources.readParquetTable(ctx.spark, ctx.dir("corpus"), "planted")))

  override def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    ctx.tracer.op = i
    val out = ctx.dir("curated")
    def write(df: DataFrame, table: String): Unit =
      ctx.span("sources", "writeParquetTable") {
        Sources.writeParquetTable(df, out, s"$table.parquet", replace = true)
      }
    val t0 = System.nanoTime()
    val stages = Seq[(String, () => Unit)](
      "clean" -> (() => write(CorpusPipeline.clean(docs(ctx), "doc_id", "text", MinQuality, Langs,
        NumPerm, RowsPerBand, Tau), "cleaned")),
      "minhash" -> (() => write(Dedup.minhashLshPairs(docs(ctx), "doc_id", "text",
        NumPerm, RowsPerBand, Tau), "pairs")),
      "cc" -> (() => write(Dedup.connectedComponentsStar(
        Sources.readParquetTable(ctx.spark, out, "pairs")), "components")),
      "tfidf" -> (() => write(TextAnalysis.topTfidf(
        Sources.readParquetTable(ctx.spark, out, "cleaned"), "doc_id", "text", 5), "tfidf")))
    val ok = stages.forall { case (name, run) =>
      ctx.op(name)(ctx.span("operators", name)(run())) match {
        case Some((_, ms)) => ctx.log(f"$name: $ms%.0f ms"); true
        case None => false
      }
    }
    if (ok && i > 0 && !traced) runS += (System.nanoTime() - t0) / 1e9
    completed = ok
  }

  private var completed = false

  override def verify(ctx: Ctx, i: Int, traced: Boolean): Unit = if (completed) {
    val s = ctx.spark
    val out = ctx.dir("curated")
    val planted = Sources.readParquetTable(s, ctx.dir("corpus"), "planted")
    val pairs = Sources.readParquetTable(s, out, "pairs")
    val found = planted.join(pairs, col("orig") === col("doc_a") && col("copy") === col("doc_b"), "left")
      .groupBy("kind").agg(count(lit(1)).as("planted"), count(col("doc_a")).as("found"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (exactPlanted, exactFound) = found.getOrElse("exact", (0L, 0L))
    val (nearPlanted, nearFound) = found.getOrElse("near", (0L, 0L))
    val kept = Sources.readParquetTable(s, out, "cleaned")
      .join(planted.where(col("kind") === "exact"), col("doc_id") === col("copy"), "left_semi").count()
    ctx.report.check("curate finds every planted exact duplicate",
      exactPlanted == Exact && exactFound == exactPlanted && kept == 0,
      s"$exactFound of $exactPlanted pairs found, $kept copies left in the cleaned corpus")
    recalls += nearFound.toDouble / nearPlanted.max(1)
    pairsOut = pairs.count()
    components = Sources.readParquetTable(s, out, "components").select("component").distinct().count()
  }

  override def opSamplesMs: Seq[Double] = runS.map(_ * 1000).toSeq

  override def finish(ctx: Ctx): Unit = {
    val r = ctx.report
    r.info("curate_s", Stats.median(runS.toSeq), "s", runS.size)
    r.info("curate_dup_recall", Stats.median(recalls.toSeq), "ratio", recalls.size, "exact")
    r.layer("operators.pairs_out", pairsOut.toDouble, 1)
    r.layer("operators.components", components.toDouble, 1)
    Seq("clean", "minhash", "cc", "tfidf").foreach { n =>
      val (m, k) = Main.spanMedianS(ctx, n)
      r.layer(s"operators.${n}_s", m, k)
    }
  }

  override def kernels(ctx: Ctx): Unit = {
    docs(ctx).createOrReplaceTempView("pb_docs")
    val chars = ctx.spark.sql("SELECT sum(length(text)) FROM pb_docs").head().getLong(0).toDouble
    // each document 20 times over, so the kernels outweigh the job overhead
    val copies = s"(SELECT concat(text, ' r', r.id) AS text FROM pb_docs CROSS JOIN range(${Kernels.Copies}) r)"
    val base = Kernels.timeMs(ctx, s"SELECT max(length(text)) FROM $copies")
    val shingle = Kernels.timeMs(ctx, s"SELECT count(*) FROM (SELECT graft_shingles_distinct(text) FROM $copies)")
    val poly = Kernels.timeMs(ctx, s"SELECT max(graft_polyhash(text)) FROM $copies")
    val n = chars * Kernels.Copies
    ctx.report.layer("functions.shingle_ns_per_char", (shingle - base) * 1e6 / n, Kernels.Reps)
    ctx.report.layer("functions.polyhash_ns_per_char", (poly - base) * 1e6 / n, Kernels.Reps)
  }
}

/** Standalone kernel timing: median wall time of a SQL query, run in a
  * `functions` span.
  */
object Kernels {
  val Reps = 5
  val Copies = 20
  val Pairs = 100
  def timeMs(ctx: Ctx, sql: String): Double =
    Stats.median((1 to Reps).map { _ =>
      ctx.timeMs(ctx.span("functions", sql.take(60))(ctx.spark.sql(sql).collect()))._2
    })
}
