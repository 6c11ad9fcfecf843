package graft.streaming

import graft.operators.{IndexRoute, Similarity}
import org.apache.spark.sql.DataFrame

/** STREAMING ANN ADMISSION — the foreachBatch shape of
  * ext_ann_hnsw_append: the FIRST micro-batch builds the persisted
  * graph index (and with it the quantizer — centroids are picked once
  * and never re-picked, the serving-geometry contract), every later
  * batch admits through [[Similarity.appendToGraphIndex]]. The
  * batch-split invariance proved by SimilaritySpec (any partition of
  * the ingest into batch sequences lands the identical index, because
  * every append ranks against the same stored quantizer and the edge
  * merge is a semilattice fold under immutable pair scores) is exactly
  * what makes the stream correct under any micro-batch boundary
  * placement; [[FoldState]]'s replay guard makes a replayed epoch a
  * no-op.
  *
  * State is the ON-DISK index — the stream carries no in-memory frame
  * at all, so a driver restart resumes from the persisted files plus
  * the query's own streaming checkpoint (the IVF/minhash incremental
  * index discipline, on the graph structure).
  */
object GraphIngestStream {

  final class GraphState(idCol: String, vecCol: String,
      centroidEvery: Int, m: Int, val path: String) extends FoldState {
    // resume-aware: after a driver restart a FRESH GraphState must not
    // rebuild-and-overwrite (that would re-pick the quantizer from one
    // arbitrary batch and drop everything admitted so far) — an index
    // already on disk means every future batch is an admission
    private var built = false

    private def indexOnDisk(batch: DataFrame): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/cents")
      p.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
        .exists(p)
    }

    def sink(batch: DataFrame, batchId: Long): Unit = fold(batchId) {
      if (!batch.isEmpty) {
        if (!built && !indexOnDisk(batch))
          Similarity.writeGraphIndex(batch, idCol, vecCol,
            centroidEvery, m, path)
        else
          Similarity.appendToGraphIndex(batch, idCol, vecCol, m, path)
        built = true
      }
    }

    /** Serve top-k off the index as folded so far. */
    def probe(queries: DataFrame, k: Int, entryEvery: Int, beam: Int,
        rounds: Int): DataFrame =
      Similarity.probeGraphIndex(IndexRoute.Parquet(path), queries, idCol, vecCol, k,
        entryEvery, beam, rounds)
  }
}
