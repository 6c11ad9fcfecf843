package graft.streaming

import graft.operators.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The STREAMING face of the whole curation pipeline — clean (quality +
  * language prefilter) → incremental near-dup removal against the
  * persisted band index → stratified-sample fold → sequence pack —
  * under ONE foreachBatch, closing the batch/stream parity story at
  * PIPELINE granularity (each stage already has an operator-level
  * streaming twin; this is the composite a daily-crawl admission
  * pipeline actually runs).
  *
  * PARITY CONTRACT (StreamingSpec asserts it): under ORDERED replay —
  * batches partition the corpus into ascending-id ranges — the final
  * [[CurationState.curated]] equals the one-shot batch composite
  * (ext_corpus_curate) and [[CurationState.lineageRollup]] equals the
  * batch lineage audit (ext_corpus_lineage). Why each stage holds:
  *
  *  - PREFILTER is per-row (quality/langId are pure functions of text)
  *    — trivially split-invariant.
  *  - DEDUP: the batch sweep removes the HIGHER id of every verified
  *    near-dup pair. Under ordered replay a pair (a < b) is either
  *    intra-batch (caught by the in-batch LSH pass) or crosses batches
  *    with `a` already in the index when `b` arrives (caught by the
  *    bipartite probe — the arriving doc is always the removable side).
  *    ALL prefiltered docs are admitted to the index, including removed
  *    ones: the batch sweep's NOT EXISTS is independent of whether the
  *    pair's lower side itself survived, so a removed doc must still
  *    remove ITS later near-dups. Content-derived signatures (PolyHash/
  *    XxHash; DenseId is rejected by the index writers) make stored
  *    band rows batch-split-invariant.
  *  - SAMPLE: the stratified draw keeps the per-language top-`quota` by
  *    the IMMUTABLE key (polyHash(salt‖text), id) — exactly the
  *    bounded-semilattice precondition IncrementalSpec proves, so
  *    union + re-cut per batch ≡ the one-shot cut. Survivorship is
  *    append-only (removal only ever targets the ARRIVING doc), so no
  *    folded entry is ever retroactively invalid.
  *  - PACK runs at READ time over the folded sample state
  *    (≤ quota·|langs| rows) — packing is a function of the final
  *    sample set, not of arrival order.
  *
  * Scale shape per batch: per-row scoring + one O(batch) LSH pass +
  * one bipartite probe against the persisted index (the stored side
  * never re-shuffles in the bucketed form) + an append + a ≤ 2·quota
  * per-lang merge. Carried state: the on-disk index (O(corpus) — but
  * disk, not executor memory), the quota-bounded sample state, and a
  * per-language additive funnel frame, both [[FoldState]] snapshots
  * under one replay guard. The batch's scored frame, its checkpointed
  * near-dup pair sets and its removed-id set are released before the
  * sink returns.
  */
object CurationStream {

  final class CurationState(
      indexPath: String, idCol: String, textCol: String,
      minQuality: Double, langs: Seq[String],
      numPerm: Int, rowsPerBand: Int, tau: Double, mode: Dedup.HashMode,
      quota: Int, sampleSalt: String,
      unitsCol: String, budget: Long, packSalt: String) extends FoldState {

    /** Per-lang top-`quota` survivors with their sample rank key. */
    private val sample = emptySnapshot()
    /** Per-lang additive (scored, prefiltered, removed) doc/char masses. */
    private val funnel = emptySnapshot()
    private var indexInitialized = false

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      graft.functions.GraftFunctions.register(batch.sparkSession)
      val t = col(textCol)
      FoldState.scratch(batch
          .withColumn("quality", TextAnalysis.qualityScore(t))
          .withColumn("pred_lang", TextAnalysis.langId(t))) { scored =>
        val pre = scored.where(col("quality") >= minQuality &&
          col("pred_lang").isin(langs.map(x => x: Any): _*))
        val intra = Dedup.minhashLshPairs(pre, idCol, textCol,
            numPerm, rowsPerBand, tau, mode)
          .select(col("doc_b").as(idCol))
        val cross =
          if (!indexInitialized) intra.limit(0)
          else Dedup.probeMinhashIndex(indexPath, pre, idCol, textCol,
              numPerm, rowsPerBand, tau, mode)
            .select(col("new_id").as(idCol))
        val found = intra.unionByName(cross)
        // checkpointed before this batch's signatures are admitted, so
        // the probe never sees them
        FoldState.scratch(found.distinct()) { removedIds =>
          FoldState.release(found) // Dedup's checkpointed pair sets
          val survivors = pre.join(broadcast(removedIds), Seq(idCol), "left_anti")
          if (!indexInitialized) {
            Dedup.writeMinhashIndex(pre, idCol, textCol, numPerm, rowsPerBand,
              mode, indexPath)
            indexInitialized = true
          } else
            Dedup.appendMinhashIndex(pre, idCol, textCol, numPerm, rowsPerBand,
              mode, indexPath)
          sample.accumulate(topQuota(survivors.select(col(idCol),
            col("pred_lang"), col("quality"), col(unitsCol),
            Dedup.polyHash(concat(lit(sampleSalt), t)).as("__srank"))))(
            (s, b) => topQuota(s.unionByName(b)))
          val removedRows = pre.join(broadcast(removedIds), Seq(idCol), "left_semi")
          funnel.accumulate(funnelOf(scored, pre, removedRows))(mergeFunnel)
        }
      }
    }

    /** Union + re-cut of the per-lang sample (the LeaderboardStream
      * semilattice, keyed (rank, id) ascending like Sampling.stratified). */
    private def topQuota(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("pred_lang")
        .orderBy(col("__srank").asc, col(idCol).asc)
      df.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= quota).drop("__rn")
    }

    private def funnelOf(scored: DataFrame, pre: DataFrame,
        removed: DataFrame): DataFrame = {
      def m(df: DataFrame, sfx: String) = df.groupBy("pred_lang")
        .agg(count(lit(1)).as(s"n_$sfx"), sum(col(unitsCol)).as(s"c_$sfx"))
      m(scored, "scored")
        .join(m(pre, "pre"), Seq("pred_lang"), "full_outer")
        .join(m(removed, "rm"), Seq("pred_lang"), "full_outer")
        .na.fill(0L)
    }

    private def mergeFunnel(a: DataFrame, b: DataFrame): DataFrame = {
      val sums = Seq("n_scored", "c_scored", "n_pre", "c_pre", "n_rm", "c_rm")
        .map(c => sum(col(c)).as(c))
      a.unionByName(b).groupBy("pred_lang").agg(sums.head, sums.tail: _*)
    }

    /** The packed-corpus rollup ≡ ext_corpus_curate's one-shot result
      * (pack is a read-time function of the folded sample set). */
    def curated: DataFrame =
      Sampling.packSequences(sample.get, Seq("pred_lang"), idCol, unitsCol,
          budget, packSalt)
        .groupBy("pred_lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col(unitsCol)).as("total_chars"),
          sum(col("spans_next")).cast("long").as("n_spanning"),
          min(col("quality")).as("min_quality"))

    /** Per-(pred_lang, lineage-bitmask) funnel ≡ ext_corpus_lineage's
      * rollup: masks 0/1/3 read off the additive funnel state, 7/15 off
      * the sample state + read-time pack (nested stages — see
      * CorpusPipeline.lineage).
      */
    def lineageRollup: DataFrame = {
      val packed = Sampling.packSequences(sample.get, Seq("pred_lang"),
        idCol, unitsCol, budget, packSalt)
      val smp = packed.groupBy("pred_lang").agg(
        count(lit(1)).as("n_smp"), sum(col(unitsCol)).as("c_smp"),
        sum(when(col("spans_next") === 1, 1L).otherwise(0L)).as("n_span"),
        sum(when(col("spans_next") === 1, col(unitsCol)).otherwise(0L))
          .as("c_span"))
      val masks = funnel.get.join(smp, Seq("pred_lang"), "left").na.fill(0L)
        .select(col("pred_lang"), explode(array(
          struct(lit(0).as("lineage"),
            (col("n_scored") - col("n_pre")).as("n_docs"),
            (col("c_scored") - col("c_pre")).as("total_chars")),
          struct(lit(1).as("lineage"),
            col("n_rm").as("n_docs"), col("c_rm").as("total_chars")),
          struct(lit(3).as("lineage"),
            (col("n_pre") - col("n_rm") - col("n_smp")).as("n_docs"),
            (col("c_pre") - col("c_rm") - col("c_smp")).as("total_chars")),
          struct(lit(7).as("lineage"),
            (col("n_smp") - col("n_span")).as("n_docs"),
            (col("c_smp") - col("c_span")).as("total_chars")),
          struct(lit(15).as("lineage"),
            col("n_span").as("n_docs"), col("c_span").as("total_chars"))))
          .as("m"))
      masks.select(col("pred_lang"), col("m.lineage").as("lineage"),
          col("m.n_docs").as("n_docs"), col("m.total_chars").as("total_chars"))
        .where(col("n_docs") > 0)
    }
  }
}
