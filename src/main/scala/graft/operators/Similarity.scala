package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - `bruteForceTopK`: exact cosine top-k — the baseline. The query set
  *    is broadcast against the corpus, so the corpus is never shuffled;
  *    cost is |Q| x |corpus| dot products, each a codegen'd ordered fold.
  *  - `lshTopK`: random-hyperplane LSH — the 100 TB path. Corpus and
  *    queries hash to sign-pattern buckets; candidates come from an
  *    equi-join on the bucket id, so per-query work drops from |corpus|
  *    to the bucket occupancy (recall < 1, deterministic given the seeded
  *    hyperplanes).
  *
  * Hyperplanes are PSEUDO-RANDOM FROM INTEGER ARITHMETIC (LCG over
  * (plane, dim)), not an RNG: reproducible in any engine, including the
  * DuckDB oracle, with no stored model.
  */
object Similarity {

  /** Top-k per query by cosine, exact. Ties broken by ascending id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
      VectorOps.normSq(col(vecCol)).as("nb"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("va"),
      VectorOps.normSq(col(vecCol)).as("na"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    broadcast(q).crossJoin(c)
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("cosine", VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** LCG hyperplane coefficient for (plane j, dim d), in [-0.5, 0.5):
    * ((1103515245 * (j * dim + d) + 12345) mod 2048) / 2048 - 0.5.
    * Pure integer arithmetic then one exact binary-fraction division —
    * bit-identical in any IEEE engine.
    */
  def planeCoef(j: Int, d: Int, dim: Int): Double =
    ((1103515245L * (j * dim + d) + 12345L) % 2048L).toDouble / 2048.0 - 0.5

  /** The centroid set as ONE row holding an array<struct<cent_id,cvec,cn>>
    * — the broadcast build for [[argmaxCell]]'s per-row fold. Array order
    * is whatever collect_list sees; argmaxCell's total tie-break makes
    * the assignment independent of it.
    */
  private def centArray(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cent_id"), col("cvec"), col("cn"))).as("__cents"))

  /** Nearest-centroid id for one row — the codegen'd
    * [[graft.functions.NearestCentroid]] loop over `__cents` (see its
    * scaladoc for why neither a window, an aggregate, nor an `aggregate()`
    * HOF is the right plan shape for this). No shuffle, no sort, numCells
    * fused dot products per row, tie-break (cos DESC, cent_id ASC).
    */
  private def argmaxCell(vec: Column, nsq: Column): Column =
    call_function(graft.functions.GraftFunctions.NearestCentroidName,
      col("__cents"), vec, nsq)

  /** The p nearest cells for one row as an ordered array — the top-p
    * generalization of [[argmaxCell]] ([[graft.functions.NearestCells]]).
    * `explode` of this array replaces the `row_number() <= p` window
    * over the crossJoin, which hash-shuffled the |rows| × |cents|
    * product (O(n²/centroidEvery) at scale since |cents| grows with the
    * corpus); the fold keeps multi-cell assignment MAP-ONLY over the
    * broadcast centroid array — zero exchange, zero sort, same
    * (cos DESC, cent_id ASC) order bit-for-bit.
    */
  private def topCellsArr(vec: Column, nsq: Column, p: Int): Column =
    call_function(graft.functions.GraftFunctions.NearestCellsName,
      col("__cents"), vec, nsq, lit(p))

  /** The p-nearest-cell assignment shared by the graph-ANN build,
    * admission, and persisted-index write: `base` is (vid, vec, nsq),
    * `cents` is (cent_id, cvec, cn); returns (vid, vec, nsq, cell, rn)
    * with rn the 1-based closeness rank. MAP-ONLY by construction —
    * package-private so ScaleSpec can pin the zero-exchange plan.
    */
  private[graft] def cellAssignment(base: DataFrame, cents: DataFrame,
      p: Int): DataFrame =
    base.crossJoin(broadcast(centArray(cents)))
      .select(col("vid"), col("vec"), col("nsq"),
        posexplode(topCellsArr(col("vec"), col("nsq"), p)).as(Seq("__pos", "cell")))
      .withColumn("rn", col("__pos") + lit(1))
      .drop("__pos")

  /** IVF-style ANN (nprobe=1): a small deterministic coarse quantizer —
    * `numCells` "centroids" drawn from the corpus itself (every
    * `centroidEvery`-th id, the seeded stand-in for a k-means training
    * step) — assigns each vector to its nearest centroid by cosine
    * (ties broken by centroid id); queries search only their own cell.
    *
    * Scale shape: assignment is |corpus| x numCells dot products against
    * a BROADCAST centroid set (numCells is small by construction), then
    * the search is an equi-join on cell id — per-query work is the cell
    * occupancy, |corpus|/numCells in expectation. Recall < 1 at cell
    * borders, the classic IVF trade; `nprobe` > 1 is the standard
    * mitigation — each QUERY probes its nprobe nearest cells (the corpus
    * side stays single-cell, so the pair space is still unique: a corpus
    * vector reaches a query only through its one cell), multiplying
    * per-query work by nprobe and recovering border neighbors.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroidEvery: Int, nprobe: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = corpus.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cvec"),
        VectorOps.normSq(col(vecCol)).as("cn"))
    def assign(df: DataFrame, idAs: String, vecAs: String, nAs: String,
        cells: Int): DataFrame = {
      val base = df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        VectorOps.normSq(col(vecCol)).as(nAs))
      if (cells == 1)
        // single-cell assignment as a SHUFFLE-FREE per-row fold over the
        // centroid set collected into ONE broadcast array row: inside
        // whole-stage codegen the broadcast row is read by reference, so
        // the corpus streams through map-only — no exchange, no sort (the
        // window form shuffles |corpus| x numCells rows; a max(struct)
        // agg plans as SortAggregate, same sort again). The fold's
        // explicit tie-break (greater cos, then smaller cent_id) makes
        // the result independent of centroid array order — identical to
        // the oracle's ORDER BY cos DESC, cent_id ASC.
        base.crossJoin(broadcast(centArray(cents)))
          .withColumn("cell", argmaxCell(col(vecAs), col(nAs)))
          .drop("__cents")
      else
        // nprobe fan-out rides the same shuffle-free fold: the top-p
        // array explodes to (row, cell) pairs map-side — no window, no
        // |rows| × |cents| exchange
        base.crossJoin(broadcast(centArray(cents)))
          .select(col(idAs), col(vecAs), col(nAs),
            explode(topCellsArr(col(vecAs), col(nAs), cells)).as("cell"))
    }
    val c = assign(corpus, "vec_b", "vb", "nb", 1)
    val q = assign(queries, "q_id", "va", "na", nprobe)
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    q.join(c, Seq("cell"))
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("cosine", VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** GRAPH-BASED ANN (HNSW-lite) — the third member of the ANN family
    * triad next to the partition (IVF) and quantization (PQ) paths, and
    * the deterministic stand-in for the highest-recall serving structure
    * in production vector search. Classic HNSW is inherently sequential
    * (randomized level draws, one-at-a-time greedy inserts); this
    * variant keeps its two load-bearing ideas — a navigable neighbor
    * graph and a coarse entry level above it — in a form that is
    * data-parallel, insertion-order-free, and CTE-unrollable for the
    * DuckDB oracle (the CC/PageRank discipline):
    *
    *  - LEVELS by arithmetic, not coin flips: the entry level is every
    *    `entryEvery`-th id (the centroidEvery idiom) — the depth-2
    *    analog of HNSW's geometric level assignment.
    *  - GRAPH by bounded candidates, not sequential insert: each node
    *    keeps its `m` best neighbors (cos desc, id asc) among nodes
    *    sharing any of its TWO nearest coarse cells — the 2-cell
    *    assignment makes edges cross cell borders, which is exactly
    *    what lets beam search escape the entry cell and beat
    *    single-probe IVF on border queries.
    *  - SEARCH as fixed-round beam expansion: entry = top-`beam` of the
    *    entry level per query; each of `rounds` rounds scores the
    *    out-neighbors of the current frontier, pools them with
    *    everything visited, and re-cuts the global top-`beam`; the
    *    final top-k reads the visited pool. Fixed rounds (not
    *    convergence) keep the oracle a finite CTE chain.
    *
    * Scale shape: the edge build is the bucketed self-join the dedup
    * family already scales (per-cell pairs, top-m window per src —
    * never all-pairs); each search round is one broadcast join of the
    * |Q|·beam frontier against the edge list and one broadcast join
    * against the corpus vectors — the corpus never shuffles, per-round
    * state is ≤ |Q|·beam·m rows. The entry descent is DEPTH-3 (see
    * [[beamSearch]]): brute force only against the n/entryEvery² super
    * level, then the routed buckets — |Q| × (n/entryEvery² +
    * beam·entryEvery) scored rows instead of |Q| × n/entryEvery.
    *
    * Determinism: every cut is a (cosine desc, id asc) total order on
    * identical IEEE expression trees in both engines; pairs dedup on
    * (q_id, vec_b, cosine) where cosine is a pure function of the pair.
    */
  def graphTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroidEvery: Int, entryEvery: Int,
      m: Int, beam: Int, rounds: Int, levels: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = corpus.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cvec"),
        VectorOps.normSq(col(vecCol)).as("cn"))
    val base = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"),
      VectorOps.normSq(col(vecCol)).as("nsq"))
    // 2-nearest-cell assignment: border-crossing edge candidates. The
    // top-2 fold + explode keeps this MAP-ONLY over the broadcast
    // centroid array (the former window-over-crossJoin shuffled the
    // |corpus| × |cents| product — O(n²/centroidEvery) at scale)
    val ranked2 = cellAssignment(base, cents, 2).drop("rn")
    val edges = edgeList(ranked2, m)
      .localCheckpoint(false) // one build, read once per round; LAZY —
      // a plain plan here recomputes the top-m window (over the full
      // candidate-pair stream) once per beam round: only the exchange
      // BELOW the window is a reuse point, the window itself is not
    val qF = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"),
      VectorOps.normSq(col(vecCol)).as("qn"))
    beamSearch(base, edges, qF, entryEvery, k, beam, rounds, levels)
  }

  /** Top-m co-bucket edge list over a 2-nearest-cell assignment — the
    * build shared by [[graphTopK]] and [[writeGraphIndex]]. `ranked2`
    * is (vid, vec, nsq, cell) with ≤2 rows per vid.
    *
    * dense_rank BEFORE the dedupe (r13 opt): a pair sharing both cells
    * appears twice with the SAME ecos, so dense_rank over (ecos desc,
    * dst asc) ranks distinct neighbors exactly like the former
    * row_number-after-distinct — but the candidate-pair stream now
    * crosses ONE exchange (the window's hash(src)) instead of two (the
    * old 3-column distinct's plus the window's), and the residual
    * dedupe runs on the top-m output (n·m rows), not the pair stream.
    */
  private[graft] def edgeList(ranked2: DataFrame, m: Int): DataFrame = {
    val aSide = ranked2.select(col("vid").as("src"), col("vec").as("sv"),
      col("nsq").as("sn"), col("cell"))
    val bSide = ranked2.select(col("vid").as("dst"), col("vec").as("dv"),
      col("nsq").as("dn"), col("cell"))
    val ew = Window.partitionBy("src").orderBy(col("ecos").desc, col("dst").asc)
    aSide.join(bSide, Seq("cell"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        VectorOps.cosine(col("sv"), col("dv"), col("sn"), col("dn")).as("ecos"))
      .withColumn("ern", dense_rank().over(ew))
      .where(col("ern") <= m)
      .select("src", "dst")
      .distinct() // both-cell pairs kept twice by the window, same rank
  }

  /** The fixed-round beam-expansion search core shared by [[graphTopK]]
    * (in-plan build) and [[probeGraphIndex]] (persisted build): a
    * `levels`-deep descent to the entry frontier, then `rounds` rounds
    * of expand-score-pool-recut. `vecs` is (vid, vec, nsq); `edges` is
    * (src, dst); `qF` is (q_id, qv, qn).
    *
    * The descent (the level trick that lifts the former
    * |Q| × n/entryEvery brute-force entry ceiling): level l holds every
    * entryEvery^l-th id; the TOP level (l = levels−1) is scored
    * brute-force (|Q| × n/entryEvery^(levels−1) rows), each query keeps
    * its top-`beam` as ROUTES (self allowed — routing, not results),
    * and each lower level scores only the nodes ASSIGNED to the routed
    * parents (each node's single nearest level-(l+1) node, the
    * shuffle-free [[cellAssignment]] fold — avg bucket = entryEvery
    * nodes, so each descent step scores beam·entryEvery rows). The
    * default `levels = 3` is the round-9 shape (one super level at
    * entryEvery²); `levels = 4` is the production recipe for corpora
    * where n/entryEvery² itself outgrows a brute-force scan — entry
    * cost |Q|·(n/e³ + 2·beam·e) instead of |Q|·(n/e² + beam·e). A
    * corpus with NO top-level id (all % entryEvery^(levels−1) ids
    * deleted) returns zero rows — the oracle restates the same
    * algorithm and agrees.
    */
  /** The `levels`-deep entry descent on its own: (entry frontier, the
    * per-stage SCORED frames — stage 0 is the top-level brute force,
    * then one per descended level). [[beamSearch]] consumes only the
    * frontier; the stage frames are returned UNEVALUATED so the
    * depth-cost spec can count the rows each depth actually scores
    * (SimilaritySpec pins levels=4 scoring strictly fewer entry rows
    * than levels=3 at equal recall on a corpus where n/e² dominates).
    */
  private[graft] def entryDescent(vecs: DataFrame, qF: DataFrame,
      entryEvery: Int, beam: Int,
      levels: Int): (DataFrame, Seq[DataFrame]) = {
    require(levels >= 3, s"beamSearch needs levels >= 3, got $levels")
    val cvecs = vecs.select(col("vid").as("vec_b"), col("vec").as("vb"),
      col("nsq").as("nb"))
    def topB(pool: DataFrame, n: Int): DataFrame =
      pool.withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)))
        .where(col("rnk") <= n)
    def levelMod(l: Int): Long = BigInt(entryEvery).pow(l).toLong
    def levelNodes(l: Int): DataFrame =
      vecs.where(col("vid") % levelMod(l) === 0)
        .select(col("vid").as("cent_id"), col("vec").as("cvec"),
          col("nsq").as("cn"))
    // route: top-`beam` TOP-level nodes per query, brute force, by the
    // same (cos desc, id asc) total order as every other cut
    val topScores = broadcast(qF)
      .crossJoin(levelNodes(levels - 1).select(col("cent_id").as("vec_b"),
        col("cvec").as("vb"), col("cn").as("nb")))
      .withColumn("cosine",
        VectorOps.cosine(col("qv"), col("vb"), col("qn"), col("nb")))
      .select("q_id", "vec_b", "cosine")
    var routed = topB(topScores, beam)
      .select(col("q_id"), col("vec_b").as("cell"))
    var frontier: DataFrame = null
    val stages = scala.collection.mutable.ArrayBuffer[DataFrame](topScores)
    // descend level by level: nodes of level l bucketed by their single
    // nearest level-(l+1) node (map-only fold over the broadcast parent
    // array), scored only inside the routed buckets
    for (l <- (levels - 2) to 1 by -1) {
      val asn = cellAssignment(
          vecs.where(col("vid") % levelMod(l) === 0), levelNodes(l + 1), 1)
        .select(col("vid").as("vec_b"), col("cell"))
      val scored = broadcast(routed.join(asn, Seq("cell"))
          .select("q_id", "vec_b")
          .where(col("q_id") =!= col("vec_b"))
          .join(qF, Seq("q_id")))
        .join(cvecs, Seq("vec_b"))
        .withColumn("cosine",
          VectorOps.cosine(col("qv"), col("vb"), col("qn"), col("nb")))
        .select("q_id", "vec_b", "cosine")
      stages += scored
      if (l == 1) frontier = scored
      else routed = topB(scored, beam).select(col("q_id"), col("vec_b").as("cell"))
    }
    (frontier, stages.toSeq)
  }

  private def beamSearch(vecs: DataFrame, edges: DataFrame, qF: DataFrame,
      entryEvery: Int, k: Int, beam: Int, rounds: Int,
      levels: Int = 3): DataFrame = {
    val cvecs = vecs.select(col("vid").as("vec_b"), col("vec").as("vb"),
      col("nsq").as("nb"))
    def topB(pool: DataFrame, n: Int): DataFrame =
      pool.withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)))
        .where(col("rnk") <= n)
    val (frontier, _) = entryDescent(vecs, qF, entryEvery, beam, levels)
    // visited pool starts as the entry frontier (the descent result),
    // not the whole entry level — matching HNSW, where upper-layer
    // nodes only seed layer 0, they don't pad the result candidates.
    // ONE lazy lineage cut at the descent/rounds boundary, and NONE
    // inside the round loop (r14 opt — supersedes r13's eager→lazy
    // move): the rounds then chain as one lazy plan and the whole
    // expansion executes as a single adaptive query — measured
    // 25 jobs / 1.8 s → 1 job / 0.26 s for the 3-round loop in
    // isolation (Probe beamab). The double consumption of each round's
    // pool (next frontier + union) does NOT recompute it: every pool
    // ends at the repartition(q_id) exchange below, and ReuseExchange
    // dedupes the two reads of that identical subtree within the one
    // executed plan. The pool_0 cut stays because the plan tree doubles
    // per round — 2^rounds copies of a checkpoint LEAF are free, while
    // 2^rounds copies of the full entry-descent subtree measurably blow
    // up optimizer/AQE time (probe 2.6 → 3.7 s when it was tried).
    // rounds = 3 everywhere; truncate per round again if a caller ever
    // passes rounds ≳ 8.
    var pool = topB(frontier, beam).drop("rnk").localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val frontier = topB(pool, beam).drop("rnk")
      // no per-round cand.distinct() (r14 opt): a dst reachable from
      // several frontier srcs scores the identical cosine, and the pool
      // union's distinct dedupes it anyway — the 3-column distinct paid
      // one exchange+stage per round to dedupe rows the next operator
      // re-dedupes; duplicate candidates only repeat bounded map-side
      // scoring (≤ beam copies of a dst per query)
      val cand = frontier.select(col("q_id"), col("vec_b").as("src"))
        .join(edges, Seq("src"))
        .select(col("q_id"), col("dst").as("vec_b"))
        .where(col("q_id") =!= col("vec_b"))
      val nb = broadcast(cand.join(qF, Seq("q_id")))
        .join(cvecs, Seq("vec_b"))
        .withColumn("cosine",
          VectorOps.cosine(col("qv"), col("vb"), col("qn"), col("nb")))
        .select("q_id", "vec_b", "cosine")
      // repartition(q_id) BEFORE the pool distinct (r14 opt, §2.4 "two
      // operations keyed the same way share one exchange"): hash(q_id)
      // satisfies the distinct's (q_id, vec_b) clustering AND the next
      // round's topB window, so each round pays ONE exchange where the
      // bare distinct's hash(q_id, vec_b) forced the window to
      // re-shuffle — and that exchange is also the ReuseExchange point
      // that lets the un-truncated plan read each pool twice while
      // computing it once. Same rows, same results.
      pool = pool.unionByName(nb).repartition(col("q_id")).distinct()
    }
    topB(pool, k).select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** PERSIST the graph-ANN serving structure ([[graphTopK]]'s build
    * half): the vector table and the m-NN edge list written to parquet —
    * the graph twin of [[writeIvfIndex]]. The entry level needs no
    * stored state (it is id arithmetic); the edge build is the same
    * 2-nearest-cell bucketed candidate join. Build once per corpus
    * version, probe per query batch via [[probeGraphIndex]].
    */
  def writeGraphIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, m: Int, path: String): Unit = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = corpus.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cvec"),
        VectorOps.normSq(col(vecCol)).as("cn"))
    val base = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"),
      VectorOps.normSq(col(vecCol)).as("nsq"))
    // top-2 fold + posexplode: map-only assignment, rn = position + 1
    // reproduces the ranked window's 1-based rank (same total order)
    val ranked2 = cellAssignment(base, cents, 2)
    // dense_rank-then-dedupe, the [[edgeList]] build shared with
    // [[graphTopK]] (r13 opt): one exchange over the candidate-pair
    // stream instead of two, and the dedupe shrinks from the pair
    // stream to the n·m top-m output.
    val edges = edgeList(ranked2, m)
    // edges land in the src's PRIMARY cell partition: admission
    // ([[appendToGraphIndex]]) then rewrites only the partitions whose
    // srcs gained candidates — the dynamic-overwrite discipline of the
    // IVF lane, on the graph structure
    val prim = ranked2.where(col("rn") === 1)
      .select(col("vid").as("src"), col("cell").as("pcell"))
    // the four index tables are independent jobs writing disjoint paths
    // — submit them from a thread pool so the three trivial per-node
    // writes (vecs / cells / cents) back-fill the executors the edge
    // build's straggler tail leaves idle, instead of running serially
    // after it (guide §2.6; FIFO scheduling gives the edge job priority)
    // (cell assignments + centroids persist so admission never re-ranks
    // the stored corpus and never retrains the quantizer)
    parallelJobs(
      () => edges.join(prim, Seq("src"))
        .write.mode("overwrite").partitionBy("pcell").parquet(s"$path/edges"),
      () => base.write.mode("overwrite").parquet(s"$path/vecs"),
      () => ranked2.select("vid", "cell", "rn")
        .write.mode("overwrite").parquet(s"$path/cells"),
      () => cents.write.mode("overwrite").parquet(s"$path/cents"))
  }

  /** Run independent Spark actions concurrently and propagate the first
    * failure. Spark's scheduler runs jobs from several driver threads at
    * once (FIFO: earlier submissions get resources first, later ones
    * back-fill the tail) — the standard move for a write fan-out whose
    * jobs touch disjoint outputs.
    */
  private def parallelJobs(jobs: (() => Unit)*): Unit =
    ParallelJobs.run(jobs)

  /** PROBE a [[writeGraphIndex]]-persisted graph index — identical
    * results to the in-plan [[graphTopK]] (the build round-trips
    * losslessly; SimilaritySpec pins it), plus the TOMBSTONE MASK that
    * serves erasure on a graph structure: masked ids are removed from
    * the entry level, the edge list (BOTH endpoints), the expansion
    * targets, and the result pool — a deleted vector is neither
    * returned NOR scored (scoring would read its embedding, which is
    * exactly what erasure forbids). Masking is probe-time filtering of
    * the stored frames, the standard serving-tier move: unlike the IVF
    * cell rewrite ([[deleteFromIvfIndex]]) it costs nothing at delete
    * time, at the price of stored-but-masked bytes until the next
    * offline rebuild — and strict edge removal can orphan graph
    * regions, which the rebuild (production HNSW repair) also heals.
    * The recall the mask costs is measured, not guessed: the delete
    * query's oracle computes truth over the SURVIVING corpus.
    */
  def probeGraphIndex(path: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, entryEvery: Int, beam: Int, rounds: Int,
      tombstones: Option[DataFrame] = None,
      viaV2: Boolean = false, levels: Int = 3,
      catalog: Option[String] = None): DataFrame = {
    val s = queries.sparkSession
    graft.functions.GraftFunctions.register(s)
    // viaV2: the graft-index DataSourceV2 serving table (see
    // sources/GraftIndexSource.scala) — identical rows by contract; the
    // edge read prunes to (src, dst) at the parquet projection layer.
    // catalog = Some("cat.`index`"): the same V2 table resolved by NAME
    // through a registered GraftIndexCatalog — no path in the probe.
    def rd(sub: String) = catalog match {
      case Some(prefix) => s.table(s"$prefix.$sub")
      case None if viaV2 => s.read.format("graft-index").load(s"$path/$sub")
      case None => s.read.parquet(s"$path/$sub")
    }
    val vecs0 = rd("vecs")
    val edges0 = rd("edges").select("src", "dst")
    val qF0 = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"),
      VectorOps.normSq(col(vecCol)).as("qn"))
    val (vecs, edges, qF) = tombstones match {
      case None => (vecs0, edges0, qF0)
      case Some(t) =>
        // no checkpoint (r13 opt): the four anti-joins share one
        // identical broadcast subtree, so ReuseExchange builds the
        // tombstone broadcast once per executed plan — a separate
        // eager materialization job bought nothing
        val tomb = t.select(col(t.columns.head).as("__tid")).distinct()
        (vecs0.join(broadcast(tomb), col("vid") === col("__tid"), "left_anti"),
          edges0
            .join(broadcast(tomb), col("src") === col("__tid"), "left_anti")
            .join(broadcast(tomb), col("dst") === col("__tid"), "left_anti"),
          qF0.join(broadcast(tomb), col("q_id") === col("__tid"), "left_anti"))
    }
    // the stored edge table is already materialized (it IS parquet) —
    // checkpointing the scan into block-manager blocks was a full extra
    // copy plus an eager job; per-round reads are column-pruned scans
    // (and at bench/broadcastable sizes ReuseExchange collapses the
    // per-round edge broadcasts into one)
    beamSearch(vecs, edges, qF, entryEvery, k, beam, rounds, levels)
  }

  /** ADMIT a new batch into a [[writeGraphIndex]]-persisted graph index —
    * the graph twin of [[appendToIvfIndex]], completing the lifecycle
    * write / append / probe / delete on the navigable-graph structure.
    *
    * No-retrain contract: new nodes are assigned to their ≤2 nearest
    * STORED centroids (read from `$path/cents` — the quantizer never
    * re-picks on admission, so serving geometry stays stable), exactly
    * the IVF admission policy. Edge maintenance is the LEADERBOARD
    * MERGE: a src's edge list is its top-m co-bucket candidates by
    * (cosine desc, dst asc), and because admission never changes an
    * existing pair's score, top-m(old ∪ new) = top-m(top-m(old) ∪ new)
    * — so the result is EXACTLY the edge set a full rebuild with the
    * stored centroid set would produce (the append query's oracle
    * restates that rebuild and hash-gates it), while touching only:
    *   - new srcs (full candidate ranking over their co-bucket), and
    *   - stored srcs sharing a cell with a new node (their stored top-m
    *     re-cut against the new candidates).
    * Cost is O(batch + touched), not O(index): vecs/cells are pure
    * parquet APPENDS, and the partitioned edge file rewrites only the
    * primary-cell partitions containing a rewritten src (dynamic
    * overwrite — untouched partitions' files stay byte-identical,
    * spec-pinned).
    */
  def appendToGraphIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      m: Int, path: String): Unit = {
    val s = newVecs.sparkSession
    graft.functions.GraftFunctions.register(s)
    val cents = s.read.parquet(s"$path/cents")
    val storedVecs = s.read.parquet(s"$path/vecs")
    val storedCells = s.read.parquet(s"$path/cells")
    val edges0 = s.read.parquet(s"$path/edges")
    // lazy checkpoints (r13): both frames materialize during `out`'s
    // eager checkpoint below and the appends then reuse the blocks —
    // same once-only compute, two fewer barrier jobs per admission
    val newBase = newVecs.select(col(idCol).as("vid"), col(vecCol).as("vec"),
      VectorOps.normSq(col(vecCol)).as("nsq")).localCheckpoint(eager = false)
    val newCells = cellAssignment(newBase, cents, 2)
      .select(col("vid"), col("cell"), col("rn"))
      .localCheckpoint(eager = false)
    val allVecs = storedVecs.unionByName(newBase)
    val allCells = storedCells.select("vid", "cell")
      .unionByName(newCells.select("vid", "cell"))
    // new srcs rank their FULL co-bucket (stored + batch neighbors).
    // broadcast the BATCH side (r14 opt): newCells is a lazy-checkpoint
    // RDD with no stats, so the planner fell back to a SortMergeJoin
    // that exchanged BOTH sides on cell — including the corpus-sized
    // allCells, the side that must never move at 100 TB. The batch is
    // O(admission) by definition: broadcast it and the corpus side
    // stays a map-only stream (2 exchanges + 2 sorts removed).
    val newPairs = broadcast(newCells.select(col("vid").as("src"), col("cell")))
      .join(allCells.select(col("vid").as("dst"), col("cell")), Seq("cell"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
    // stored srcs sharing a cell with the batch merge: stored top-m ∪
    // the new co-bucket candidates, re-cut
    val landed = newCells.select("cell").distinct()
    // lazy (r13): every consumer sits inside `out`'s eager
    // materialization, so the blocks still compute once without a
    // separate barrier job
    // no .distinct() (r14): both consumers are dedupe-insensitive — the
    // touchedOld attach is a left_semi, and rewrittenSrc re-distincts
    // after its union — so the exchange+aggregate bought nothing
    val touchedSrc = storedCells
      .join(broadcast(landed), Seq("cell"), "left_semi")
      .select("vid").localCheckpoint(eager = false)
    val touchedNewPairs = storedCells
      .join(broadcast(landed), Seq("cell"), "left_semi")
      .select(col("vid").as("src"), col("cell"))
      .join(broadcast(newCells.select(col("vid").as("dst"), col("cell"))),
        Seq("cell"))
      .select("src", "dst")
    val touchedOld = edges0.select("src", "dst")
      .join(touchedSrc.withColumnRenamed("vid", "src"), Seq("src"),
        "left_semi")
    // ONE global dedupe, keyed so the recut window reuses its exchange
    // (r14 opt, §2.4): the three branches are pairwise disjoint-or-
    // overlapping exactly as before (newPairs' src is batch-only, the
    // touched branches' srcs are stored-only), so a single distinct over
    // the union ≡ the old per-branch distincts — but hash(src) satisfies
    // both the (src, dst) dedupe and the top-m window partitioning, so
    // three exchanges (two pair-wide distincts + the window's) collapse
    // into this repartition. The window input stays globally distinct,
    // which is what makes row_number a faithful neighbor rank.
    val candidates = newPairs
      .unionByName(touchedOld).unionByName(touchedNewPairs)
      .repartition(col("src")).distinct()
    val sa = allVecs.select(col("vid").as("src"), col("vec").as("sv"),
      col("nsq").as("sn"))
    val sb = allVecs.select(col("vid").as("dst"), col("vec").as("dv"),
      col("nsq").as("dn"))
    val ew = Window.partitionBy("src").orderBy(col("ecos").desc, col("dst").asc)
    val recut = candidates.join(sa, Seq("src")).join(sb, Seq("dst"))
      .withColumn("ecos",
        VectorOps.cosine(col("sv"), col("dv"), col("sn"), col("dn")))
      .withColumn("ern", row_number().over(ew))
      .where(col("ern") <= m)
      .select("src", "dst")
    // rewrite only the primary-cell partitions that contain a rewritten
    // src — every OTHER src in those partitions keeps its rows verbatim
    val allPrim = storedCells.where(col("rn") === 1)
      .unionByName(newCells.where(col("rn") === 1))
      .select(col("vid").as("src"), col("cell").as("pcell"))
    val rewrittenSrc = touchedSrc.unionByName(newBase.select("vid"))
      .distinct().withColumnRenamed("vid", "src")
    val parts = allPrim.join(rewrittenSrc, Seq("src"), "left_semi")
      .select("pcell").distinct()
    val keepRows = edges0
      .join(broadcast(parts), Seq("pcell"), "left_semi")
      .join(rewrittenSrc, Seq("src"), "left_anti")
      .select("src", "dst", "pcell")
    val out = keepRows
      .unionByName(recut.join(allPrim, Seq("src"))
        .select("src", "dst", "pcell"))
      .localCheckpoint() // the overwrite target is still in this plan
    // the three writes touch disjoint outputs (edges overwrite, two
    // appends of already-checkpointed frames) — overlap them (§2.6).
    // dynamic partition overwrite is a PER-WRITE DataFrameWriter option
    // (r14 — replaces the session-global conf window, which was safe
    // only because the concurrent appends ignore it, and brittle the
    // moment another partitioned write joined the pool)
    parallelJobs(
      () => out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pcell").parquet(s"$path/edges"),
      () => newBase.write.mode("append").parquet(s"$path/vecs"),
      () => newCells.write.mode("append").parquet(s"$path/cells"))
  }

  /** TOMBSTONE COMPACTION of a [[writeGraphIndex]]-persisted graph
    * index (round-12): bake a tombstone set into storage so probes stop
    * paying for it. [[probeGraphIndex]]'s mask is the right
    * delete-time move (O(0) write cost), but a long-lived index pays
    * the mask on EVERY probe forever — masked rows still decode, the
    * broadcast anti-joins still run, and storage never shrinks. This op
    * rewrites ONLY the edge partitions a tombstone touches (the
    * hnsw_append dynamic-overwrite shape: untouched pcell directories'
    * files stay byte-identical, spec-pinned) dropping edges with a
    * masked endpoint, and drops masked rows from the per-node side
    * tables (vecs/cells — O(n) frames next to the O(n·m) edge
    * structure; at 100 TB the selective rewrite is on the table that
    * matters). Centroids are untouched: compaction, like delete and
    * append, never retrains the quantizer.
    *
    * Contract (SimilaritySpec): an unmasked probe of the compacted
    * index ≡ the tombstone-masked probe of the original — the mask and
    * the rewrite implement the SAME erasure semantics (edges cut at
    * both endpoints AFTER the stored rank cut, entry level and pool
    * over survivors) — and storage bytes strictly shrink. The
    * touched-pcell id list is a driver-side collect bounded by the
    * partition count, the same documented tiny-collect as
    * [[deleteFromIvfIndex]]'s.
    */
  def compactGraphIndex(path: String, tombstones: DataFrame): Unit = {
    val s = tombstones.sparkSession
    val tomb = tombstones
      .select(col(tombstones.columns.head).as("__tid")).distinct()
      .localCheckpoint()
    val edges = s.read.parquet(s"$path/edges")
    // partitions holding a tombstoned endpoint — two broadcast-hash
    // semi-joins (an OR-condition join would plan a nested loop over
    // the whole edge table)
    val touched = edges
      .join(broadcast(tomb), col("src") === col("__tid"), "left_semi")
      .select("pcell")
      .unionByName(edges
        .join(broadcast(tomb), col("dst") === col("__tid"), "left_semi")
        .select("pcell"))
      .distinct().collect().map(_.get(0))
    if (touched.nonEmpty) {
      val remain = edges.where(col("pcell").isin(touched: _*))
        .join(broadcast(tomb), col("src") === col("__tid"), "left_anti")
        .join(broadcast(tomb), col("dst") === col("__tid"), "left_anti")
        .localCheckpoint() // the overwrite target is still in this plan
      // per-write dynamic overwrite (r14) — no session-global conf window
      remain.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pcell").parquet(s"$path/edges")
      // a pcell fully emptied writes no partition under dynamic
      // overwrite — remove its directory explicitly (the erasure must
      // not leave servable bytes behind)
      val kept = remain.select("pcell").distinct().collect().map(_.get(0)).toSet
      val edgesRoot = new org.apache.hadoop.fs.Path(s"$path/edges")
      val fs = edgesRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
      touched.filterNot(kept).foreach { c =>
        val dir = new org.apache.hadoop.fs.Path(edgesRoot, s"pcell=$c")
        fs.delete(dir, true)
        require(!fs.exists(dir),
          s"graph compaction failed to remove emptied partition $dir")
      }
    }
    // per-node side tables: masked rows drop, surviving rows rewrite
    // (flat O(n) frames — vecs carries one row per node, not per edge).
    // The two rewrites are independent — overlap them (§2.6); each
    // frame still checkpoints eagerly BEFORE its own overwrite (the
    // overwrite target is in the plan)
    parallelJobs(Seq("vecs" -> "vid", "cells" -> "vid").map {
      case (sub, idc) => () => {
        val remain = s.read.parquet(s"$path/$sub")
          .join(broadcast(tomb), col(idc) === col("__tid"), "left_anti")
          .localCheckpoint()
        remain.write.mode("overwrite").parquet(s"$path/$sub")
      }
    }: _*)
  }

  /** Integer grid for cross-engine-exact centroid means: 2^20. A float
    * times a power of two is EXACT in double (exponent shift only), so
    * `round(vec[d] * Grid)` is the same integer in any IEEE engine, and
    * integer sums are order-independent — the whole Lloyd update becomes
    * deterministic without ordered float folds.
    */
  val KmeansGrid = 1048576L

  /** IVF with a K-MEANS-REFINED coarse quantizer: the seeded every-Nth-id
    * pick of [[ivfTopK]] becomes the Lloyd INIT, then `lloydIters`
    * assign/update rounds tighten the cells before the final search.
    * Tighter cells put true neighbors in the query's cell more often —
    * the standard recall lift at identical search cost (same nprobe,
    * same expected occupancy).
    *
    * Determinism across engines (the oracle-parity contract): the mean
    * is the ONE step where float fold order could diverge, so it runs on
    * the [[KmeansGrid]] integer image of the vectors — exact per-dim
    * BIGINT sums (order-free), then a single exact-integer division
    * `sum / (n * Grid)` to double. Assignment/search cosines fold
    * ascending-dim like everything else. Cells keep their seed centroid
    * id as a stable label (argmax tie-break); cells that lose all
    * members drop out, identically in SQL's GROUP BY.
    *
    * Scale shape: centroids stay a broadcast set (numCells rows); each
    * Lloyd round is one broadcast crossJoin + argmax (no corpus shuffle
    * beyond the per-cell-dim aggregation, which AQE-combines map-side);
    * rounds are a fixed small count, not data-dependent.
    */
  /** Corpus image for the Lloyd machinery: double vec + squared norm +
    * the [[KmeansGrid]] integer image (exact, order-free sums). */
  private def kmBase(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("vec"),
      VectorOps.normSq(col(vecCol)).as("nsq"),
      transform(col(vecCol),
        x => round(x.cast("double") * KmeansGrid).cast("long")).as("si"))

  /** Nearest cell(s) by cosine, ties to the smaller centroid label.
    * Both arms are the shuffle-free per-row fold over the broadcast
    * centroid array: cells == 1 (every Lloyd round + the corpus side of
    * the search) via [[argmaxCell]], cells > 1 via the top-p
    * [[topCellsArr]] + explode.
    */
  private def kmAssign(df: DataFrame, cents: DataFrame, cells: Int): DataFrame =
    if (cells == 1)
      df.crossJoin(broadcast(centArray(cents)))
        .withColumn("cell", argmaxCell(col("vec"), col("nsq")))
        .drop("__cents")
    else
      // multi-cell fan-out through the same fold: top-p array + explode,
      // map-only (the former ranked window shuffled |rows| × |cents|)
      df.crossJoin(broadcast(centArray(cents)))
        .select(df.columns.map(col) :+
          explode(topCellsArr(col("vec"), col("nsq"), cells)).as("cell"): _*)

  /** `lloydIters` assign/update rounds from the seeded every-Nth-id
    * init; the mean runs on the integer grid image (see ivfKmeansTopK's
    * determinism notes). Cells keep their seed centroid id as label.
    */
  private def kmRefine(base: DataFrame, centroidEvery: Int,
      lloydIters: Int): DataFrame = {
    val init = base.where(col("vid") % centroidEvery === 0)
      .select(col("vid").as("cent_id"), col("vec").as("cvec"), col("nsq").as("cn"))
    (1 to lloydIters).foldLeft(init) { (cents, _) =>
      val sums = kmAssign(base, cents, 1)
        .select(col("cell"), posexplode(col("si")).as(Seq("d", "v")))
        .groupBy("cell", "d")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        // exact-integer division straight to double, then rebuild the
        // array in dim order (sort on d — deterministic)
        .withColumn("m", col("s") / (col("n") * KmeansGrid))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
      sums.select(col("cell").as("cent_id"),
          transform(col("dm"), e => e.getField("m")).as("cvec"))
        .withColumn("cn", VectorOps.normSq(col("cvec")))
    }
  }

  /** SEMDEDUP-style SEMANTIC near-dup pairs: cluster the embedding
    * corpus with the k-means-refined coarse quantizer, then score
    * cosine ONLY between cluster-mates — pairs crossing a cluster
    * boundary are never materialized. This is the published recipe for
    * semantic dedup at the 100 TB scale where even the sharded GEMM's
    * all-pairs candidate set is infeasible: k-means makes candidate
    * generation O(Σ|cell|²) instead of O(n²), with recall controlled by
    * the cluster count (coarser cells = fewer missed cross-cell dups).
    * Complements the lexical family: MinHash/Jaccard see shared
    * SURFACE strings, this sees shared embedding DIRECTION — paraphrases
    * and near-translations that share no 3-gram at all.
    *
    * Scale shape: the Lloyd rounds never shuffle the corpus (broadcast
    * centroids + the codegen'd argmax fold, see [[ivfKmeansTopK]]); the
    * pair step is ONE equi-join on the cell label — the same
    * inverted-index discipline as every lexical dedup operator
    * (candidates come from a key join, never a cross join).
    *
    * Determinism: identical grid-exact Lloyd rounds as [[ivfKmeansTopK]]
    * (the oracle unrolls them as CTEs), ascending-dim cosine folds,
    * HALF_UP rounding of the reported similarity.
    */
  def semanticDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, lloydIters: Int, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val base = kmBase(corpus, idCol, vecCol)
    val refined = kmRefine(base, centroidEvery, lloydIters)
    val assigned = kmAssign(base, refined, 1)
    val a = assigned.select(col("vid").as("vec_a"), col("vec").as("va"),
      col("nsq").as("na"), col("cell"))
    val b = assigned.select(col("vid").as("vec_b"), col("vec").as("vb"),
      col("nsq").as("nb"), col("cell"))
    a.join(b, Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cosine", VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("cosine") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cell"),
        round(col("cosine"), 6).as("cos_r"))
  }

  def ivfKmeansTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroidEvery: Int, lloydIters: Int,
      nprobe: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val base = kmBase(corpus, idCol, vecCol)
    val refined = kmRefine(base, centroidEvery, lloydIters)
    val c = kmAssign(base, refined, 1)
      .select(col("vid").as("vec_b"), col("vec").as("vb"), col("nsq").as("nb"), col("cell"))
    val qbase = queries.select(col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("vec"),
      VectorOps.normSq(col(vecCol)).as("nsq"))
    val q = kmAssign(qbase, refined, nprobe)
      .select(col("vid").as("q_id"), col("vec").as("va"), col("nsq").as("na"), col("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    q.join(c, Seq("cell"))
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("cosine", VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** ANGULAR PRODUCT QUANTIZATION ANN — the memory-side counterpart of
    * IVF's candidate pruning: each vector is stored as `numSub` small
    * CODES (nearest codebook entry per subspace, by cosine — ties to the
    * smaller centroid id), so a billion-vector index keeps M integers
    * per vector instead of `dim` floats; search scores queries against
    * the RECONSTRUCTION (concatenated codewords) instead of the raw
    * vector. Recall < 1 comes from quantization error alone — no
    * candidate set is pruned, every corpus row is scored (compose with
    * IVF cells for that; classic IVF-PQ).
    *
    * Scale shape: codebooks are `numSub` broadcast arrays (corpus-seeded
    * like ivfTopK's quantizer); encoding is the same shuffle-free
    * per-row [[argmaxCell]] fold per subspace — the corpus is NEVER
    * hash-partitioned; scoring reconstructs each row's vector from the
    * broadcast codebook inside the projection (the reconstruction is
    * never materialized to storage — only the codes are the "stored"
    * form) and runs the usual broadcast-queries x corpus scan with one
    * final q_id top-k window (WindowGroupLimit-pruned map-side).
    *
    * Determinism: subvector cosines are the same ascending-dim ordered
    * folds as everywhere else; identical codes give IDENTICAL
    * reconstructions, so score ties collapse to the vec_b ASC
    * tie-break — engine-independent.
    */
  /** PQ encode + reconstruct: `df` (carrying the double vector in
    * `__v`) gains `__vrec` (concatenated nearest codewords per
    * subspace) and `__nrec`. Codebooks are seeded from `corpus`
    * (every-`centroidEvery`-th id, per-subspace slices); encoding is a
    * shuffle-free [[argmaxCell]] fold per subspace, reconstruction a
    * chain of broadcast codebook joins. `keep` lists the columns to
    * carry through.
    */
  private def pqReconstruct(df: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, numSub: Int, centroidEvery: Int, dim: Int,
      keep: Seq[String]): DataFrame = {
    require(dim % numSub == 0, s"dim $dim must split into $numSub subspaces")
    val subLen = dim / numSub
    val vecD = transform(col(vecCol), x => x.cast("double"))
    def subCents(m: Int): DataFrame =
      corpus.where(col(idCol) % centroidEvery === 0)
        .select(col(idCol).as("cent_id"),
          slice(vecD, m * subLen + 1, subLen).as("cvec"))
        .withColumn("cn", VectorOps.normSq(col("cvec")))
    val encoded = (0 until numSub).foldLeft(df) { (d, m) =>
      val sv = slice(col("__v"), m * subLen + 1, subLen)
      d.crossJoin(broadcast(centArray(subCents(m))))
        .withColumn(s"code_$m", argmaxCell(sv, VectorOps.normSq(sv)))
        .drop("__cents")
    }
    // reconstruct from the codes (broadcast codebook joins — the codes,
    // not __v or the reconstruction, are what a PQ index persists)
    val withRec = (0 until numSub).foldLeft(encoded) { (d, m) =>
      d.join(broadcast(subCents(m).select(col("cent_id").as(s"code_$m"),
        col("cvec").as(s"__rv_$m"))), Seq(s"code_$m"))
    }
    withRec
      .withColumn("__vrec", concat((0 until numSub).map(m => col(s"__rv_$m")): _*))
      .select(keep.map(col) :+ col("__vrec") :+
        VectorOps.normSq(col("__vrec")).as("__nrec"): _*)
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numSub: Int, centroidEvery: Int,
      dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val rec = pqReconstruct(
      corpus.select(col(idCol).as("vec_b"), vecD.as("__v")),
      corpus, idCol, vecCol, numSub, centroidEvery, dim, Seq("vec_b"))
    val q = queries.select(col(idCol).as("q_id"), vecD.as("va"),
      VectorOps.normSq(vecD).as("na"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    broadcast(q).crossJoin(rec)
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("cosine",
        VectorOps.cosine(col("va"), col("__vrec"), col("na"), col("__nrec")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** IVF-PQ — the production ANN composite: IVF's coarse quantizer
    * prunes CANDIDATES (queries score only their own cell's occupants,
    * |corpus|/numCells in expectation) while PQ compresses STORAGE
    * (candidates are scored against code reconstructions, never their
    * raw vectors). At 100 TB this is the only shape that works: the
    * full-precision corpus is read once to build cells + codes; search
    * touches a cell's worth of M-byte codes per query. Both legs reuse
    * the audited pieces as-is — the shuffle-free cell/code argmax folds
    * and broadcast codebooks; recall multiplies the two approximations
    * (cell misses x quantization error), the standard trade.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroidEvery: Int, numSub: Int,
      dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val cents = corpus.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), vecD.as("cvec"),
        VectorOps.normSq(vecD).as("cn"))
    def withCell(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(centArray(cents)))
        .withColumn("cell", argmaxCell(col("__v"), VectorOps.normSq(col("__v"))))
        .drop("__cents")
    val c = pqReconstruct(
      withCell(corpus.select(col(idCol).as("vec_b"), vecD.as("__v"))),
      corpus, idCol, vecCol, numSub, centroidEvery, dim, Seq("vec_b", "cell"))
    val q = withCell(queries.select(col(idCol).as("q_id"), vecD.as("__v")))
      .select(col("q_id"), col("__v").as("va"),
        VectorOps.normSq(col("__v")).as("na"), col("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    broadcast(q).join(c, Seq("cell"))
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("cosine",
        VectorOps.cosine(col("va"), col("__vrec"), col("na"), col("__nrec")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** FILTERED vector search — the metadata-constrained query every
    * production vector store serves ("top-k similar WITHIN the query's
    * category"), under both strategies of the classic design axis:
    * PRE-FILTER restricts the corpus to eligible rows before ranking
    * (exact top-k among eligible — always k results, the correct
    * semantics, at the cost of filtering inside the index), POST-FILTER
    * ranks unfiltered then drops ineligible hits (the cheap overlay —
    * holes where eligible neighbors were crowded out of the global
    * top-k; original ranks kept so the holes are visible). Emitting both
    * from ONE scored frame makes the recall gap auditable row-by-row.
    *
    * Scale shape: one broadcast-query scan of the corpus scores both
    * strategies; the windows run per query on candidate-sized data
    * (WindowGroupLimit pre-prunes map-side as in [[bruteForceTopK]]).
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val c = corpus.select(col(idCol).as("vec_b"), vecD.as("vb"),
      VectorOps.normSq(vecD).as("nb"), col(labelCol).as("lb"))
    val q = queries.select(col(idCol).as("q_id"), vecD.as("va"),
      VectorOps.normSq(vecD).as("na"), col(labelCol).as("lq"))
    val scored = broadcast(q).crossJoin(c)
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("cosine",
        VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    val pre = scored.where(col("lb") === col("lq"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(lit("prefilter").as("strategy"), col("q_id"), col("rnk"),
        col("vec_b").as("neighbor_id"))
    val post = scored
      .withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k && col("lb") === col("lq"))
      .select(lit("postfilter").as("strategy"), col("q_id"), col("rnk"),
        col("vec_b").as("neighbor_id"))
    pre.unionAll(post)
  }

  /** HYBRID retrieval fusion by Reciprocal Rank Fusion: the dense leg
    * (vector top-k, e.g. [[bruteForceTopK]]) and the sparse leg (lexical
    * top-k, e.g. [[Dedup.jaccardTopK]]) merged per (query, candidate) as
    * rrf = Σ 1 / (c + rank) over the legs that retrieved it, re-ranked
    * to the final top-k. RRF is THE production hybrid-search combiner
    * (Cormack et al. 2009; every lexical+vector search stack ships it):
    * rank-based, so the two legs' incomparable score scales never meet.
    *
    * Scale shape: both legs are top-k lists — n_queries × k rows — so
    * the fusion join, the rrf projection, and the final per-query window
    * all run on candidate-list-sized data; the corpus is only touched
    * inside the legs.
    */
  def hybridRrfTopK(sem: DataFrame, lex: DataFrame, k: Int,
      c: Int = 60): DataFrame = {
    val s = sem.select(col("q_id"), col("neighbor_id"), col("rnk").as("rnk_s"))
    val l = lex.select(col("q_id"), col("neighbor_id"), col("rnk").as("rnk_l"))
    val fused = s.join(l, Seq("q_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0d) / (col("rnk_s") + lit(c)), lit(0.0d)) +
          coalesce(lit(1.0d) / (col("rnk_l") + lit(c)), lit(0.0d)))
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("neighbor_id").asc)
    fused.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** PERSIST the IVF index: the corpus written to parquet PARTITIONED BY
    * its cell assignment (one directory per inverted list — the on-disk
    * form of a billion-vector IVF index) plus the centroid table. The
    * serving win is physical: a probe touches only its own cell's
    * directory, so the full-precision corpus is never re-scanned at
    * query time. [[probeIvfIndex]] is the read side; SimilaritySpec
    * asserts probe ≡ the in-plan [[ivfTopK]] and that the probe's scan
    * carries a dynamic-partition-pruning filter on `cell`.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, path: String): Unit = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val cents = corpus.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), vecD.as("cvec"),
        VectorOps.normSq(vecD).as("cn"))
    // two independent outputs — overlap them (§2.6): the tiny centroid
    // write back-fills the partitioned corpus write's tail
    parallelJobs(
      () => corpus.select(col(idCol).as("vec_b"), vecD.as("vb"),
          VectorOps.normSq(vecD).as("nb"))
        .crossJoin(broadcast(centArray(cents)))
        .withColumn("cell", argmaxCell(col("vb"), col("nb")))
        .drop("__cents")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells"),
      () => cents.write.mode("overwrite").parquet(s"$path/cents"))
  }

  /** ADMIT a new batch into a [[writeIvfIndex]]-persisted index — the
    * missing half of the ANN daily loop (the minhash index has the same
    * pair in appendMinhashIndex): new vectors are assigned to their
    * cell with the STORED centroids — the quantizer does NOT retrain on
    * admission, so serving geometry stays stable and the append is a
    * pure partitioned parquet append touching only the cells the batch
    * lands in — O(batch), not O(index). Probing after an append finds
    * old and new vectors through exactly the same dynamic-partition-
    * pruned scan ([[probeIvfIndex]]). Retraining (re-picking centroids
    * over the grown corpus) is the offline rebuild, the same split as
    * the delete lane's no-retrain policy.
    */
  def appendToIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val s = newVecs.sparkSession
    graft.functions.GraftFunctions.register(s)
    val cents = s.read.parquet(s"$path/cents")
    val vecD = transform(col(vecCol), x => x.cast("double"))
    newVecs.select(col(idCol).as("vec_b"), vecD.as("vb"),
        VectorOps.normSq(vecD).as("nb"))
      .crossJoin(broadcast(centArray(cents)))
      .withColumn("cell", argmaxCell(col("vb"), col("nb")))
      .drop("__cents")
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** ERASURE from a persisted IVF index (the GDPR-deletion-from-serving
    * lane): remove tombstoned vectors by rewriting ONLY the cell
    * partitions that contain them — dynamic partition overwrite leaves
    * every untouched cell's files alone, so deletion cost is
    * O(touched cells), not O(index). The quantizer (centroids) is
    * deliberately NOT retrained: a serving index keeps its cell
    * geometry stable under deletes and retrains offline.
    *
    * The touched-cell id list is a driver-side collect of a
    * distinct-cell frame — bounded by the number of cells, the same
    * documented tiny-collect as Scd2Stream's touched-slice ids. The
    * remaining rows are localCheckpointed BEFORE the overwrite (Spark
    * refuses to overwrite a path its plan still reads). A cell fully
    * emptied by the tombstones writes no partition under dynamic
    * overwrite, so its directory is removed explicitly.
    */
  def deleteFromIvfIndex(path: String, tombstones: DataFrame): Unit = {
    val s = tombstones.sparkSession
    val corp = s.read.parquet(s"$path/cells")
    val tomb = tombstones
      .select(col(tombstones.columns.head).as("vec_b")).distinct()
      .localCheckpoint()
    val touched = corp.join(broadcast(tomb), Seq("vec_b"), "left_semi")
      .select("cell").distinct().collect().map(_.get(0))
    if (touched.isEmpty) return
    val remain = corp.where(col("cell").isin(touched: _*))
      .join(broadcast(tomb), Seq("vec_b"), "left_anti")
      .localCheckpoint()
    // per-write dynamic overwrite (r14) — no session-global conf window
    remain.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$path/cells")
    val kept = remain.select("cell").distinct().collect().map(_.get(0)).toSet
    // Resolve the filesystem OF THE INDEX PATH, not fs.defaultFS: with an
    // s3a:// or hdfs:// index under a file:// default, FileSystem.get would
    // target the wrong FS and the emptied-cell cleanup would silently no-op,
    // leaving deleted vectors servable — the exact failure this erasure lane
    // exists to prevent.
    val cellsRoot = new org.apache.hadoop.fs.Path(s"$path/cells")
    val fs = cellsRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    touched.filterNot(kept).foreach { c =>
      val dir = new org.apache.hadoop.fs.Path(cellsRoot, s"cell=$c")
      fs.delete(dir, true)
      require(!fs.exists(dir),
        s"IVF erasure failed to remove emptied cell directory $dir")
    }
  }

  /** PROBE the persisted IVF index ([[writeIvfIndex]]): queries assign
    * to their cell via the broadcast centroid table (the shuffle-free
    * argmax fold), then join the partitioned corpus on the PARTITION
    * column — the broadcast join plants a dynamic-partition-pruning
    * subquery on the scan, so only the probed cells' directories are
    * read. Same top-k contract as [[ivfTopK]].
    */
  def probeIvfIndex(path: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    probeIvfIndexVia(queries, idCol, vecCol, k,
      sub => queries.sparkSession.read.parquet(s"$path/$sub"))

  /** [[probeIvfIndex]] through the `graft-index` DataSourceV2 serving
    * table (sources/GraftIndexSource.scala) — identical results
    * (spec-pinned); the per-query cell pruning arrives as an ordinary V2
    * runtime filter instead of parquet DPP, and the scan's reported
    * stats cover only the probed cells.
    */
  def probeIvfIndexV2(path: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    probeIvfIndexVia(queries, idCol, vecCol, k,
      sub => queries.sparkSession.read.format("graft-index").load(s"$path/$sub"))

  /** Catalog-routed probe — identical to [[probeIvfIndexV2]], but the
    * index's sub-tables resolve by NAME through a registered
    * [[graft.sources.GraftIndexCatalog]]: `catalogIndex` is the
    * `catalog.index` prefix (backtick the index segment when it carries
    * non-identifier characters), and the probe reads
    * `catalogIndex.cents` / `catalogIndex.cells` via spark.table — the
    * serving story with no filesystem paths in the query. The reader
    * receives the SUB-TABLE name directly (never a slash-joined
    * pseudo-path: an index name containing '/' inside its backticks
    * would mis-split — round-10 ADVICE).
    */
  def probeIvfIndexCatalog(catalogIndex: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    probeIvfIndexVia(queries, idCol, vecCol, k,
      sub => queries.sparkSession.table(s"$catalogIndex.$sub"))

  /** Probe from ALREADY-LOADED index frames — the STREAMING serving
    * shape: `cells` is the accumulated admissions stream (the
    * connector's MicroBatchStream over `$path/cells`), `cents` any
    * batch read of the stored centroids. Identical results to the
    * path-routed probe over the same state (spec-pinned), so a probe
    * over replayed admissions IS the batch probe.
    */
  def probeIvfIndexFrames(cents: DataFrame, cells: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    probeIvfIndexVia(queries, idCol, vecCol, k,
      sub => if (sub == "cents") cents else cells)

  /** `reader` maps a sub-table NAME ("cents" / "cells") to its frame —
    * each route closes over its own prefix (path or catalog identifier).
    */
  private def probeIvfIndexVia(queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      reader: String => DataFrame): DataFrame = {
    val s = queries.sparkSession
    graft.functions.GraftFunctions.register(s)
    val cents = reader("cents")
    val corp = reader("cells")
    val vecD = transform(col(vecCol), x => x.cast("double"))
    // the probe's cell key is cast to the STORED side's partition type
    // (always safe: probe cells come from the same stored centroid ids
    // that named the directories) — a type mismatch would put a Cast on
    // the SCAN side of the join, which the V2 runtime-filter translation
    // cannot push, silently losing the dynamic cell pruning
    val q = queries.select(col(idCol).as("q_id"), vecD.as("va"),
        VectorOps.normSq(vecD).as("na"))
      .crossJoin(broadcast(centArray(cents)))
      .withColumn("cell",
        argmaxCell(col("va"), col("na")).cast(corp.schema("cell").dataType))
      .drop("__cents")
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    corp.join(broadcast(q), Seq("cell"))
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("cosine",
        VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** Simplified (centroid-based) SILHOUETTE — the cluster-quality audit
    * of an embedding space: per vector, cos1 = cosine to its own
    * (nearest) centroid, cos2 = cosine to the runner-up centroid;
    * s = (cos1 - cos2) / (1 - cos2) in [0, 1) — 0 means the vector sits
    * on a cell border (ambiguous cluster), 1 means it coincides with its
    * centroid. Emitted PER VECTOR (with the assigned cell and the
    * confidence margin), never as a float mean across partitions — group
    * averages of doubles are fold-order-dependent; per-row values are
    * not.
    *
    * Scale shape: ONE projection over the broadcast centroid array — no
    * shuffle, no window; per-row cost is numCells fused dot products
    * plus a bounded numCells-element array sort.
    */
  def silhouette(corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int): DataFrame = {
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val cents = corpus.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), vecD.as("cvec"),
        VectorOps.normSq(vecD).as("cn"))
    val scored = transform(col("__cents"), c =>
      struct(
        VectorOps.cosine(col("__v"), c.getField("cvec"), col("__n"),
          c.getField("cn")).as("cos"),
        c.getField("cent_id").as("cent_id")))
    val bestFirst = array_sort(scored, (l, r) =>
      when(l.getField("cos") > r.getField("cos"), -1)
        .when(l.getField("cos") < r.getField("cos"), 1)
        .when(l.getField("cent_id") < r.getField("cent_id"), -1)
        .when(l.getField("cent_id") > r.getField("cent_id"), 1)
        .otherwise(0))
    val cos1 = col("__top").getField("cos")
    val cos2 = col("__snd").getField("cos")
    corpus.select(col(idCol).as("vec_id"), vecD.as("__v"),
        VectorOps.normSq(vecD).as("__n"))
      .crossJoin(broadcast(centArray(cents)))
      .withColumn("__sorted", bestFirst)
      .withColumn("__top", element_at(col("__sorted"), 1))
      .withColumn("__snd", element_at(col("__sorted"), 2))
      .select(col("vec_id"), col("__top").getField("cent_id").as("cell"),
        round(when(lit(1.0d) - cos2 === 0.0d, lit(0.0d))
          .otherwise((cos1 - cos2) / (lit(1.0d) - cos2)), 6).as("silhouette"),
        round(cos1 - cos2, 6).as("margin"))
  }

  /** Two-stage retrieval with exact RE-RANKING — the production serving
    * shape: the approximate first stage ([[ivfPqTopK]], cell-pruned
    * candidates scored on code reconstructions) keeps a candidate list of
    * size c >> k per query; the second stage re-scores ONLY those c
    * candidates against their raw full-precision vectors and emits the
    * exact-cosine top-k. Any global-truth neighbor the candidate stage
    * recovers is GUARANTEED into the final list (it beats every other
    * candidate on exact cosine), so recall(rerank) >= recall(ivfpq@k) by
    * construction — SimilaritySpec asserts it.
    *
    * The 100 TB shape: stage one never touches raw vectors at search
    * time (codes only); stage two's raw-vector reads are bounded by
    * n_queries x c — the tiny candidate list BROADCASTS onto the
    * un-shuffled corpus, so full-precision data moves for candidates
    * only, never for the corpus.
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cands: Int, centroidEvery: Int, numSub: Int,
      dim: Int): DataFrame = {
    val cand = ivfPqTopK(corpus, queries, idCol, vecCol, cands,
        centroidEvery, numSub, dim)
      .select(col("q_id"), col("neighbor_id"))
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val corp = corpus.select(col(idCol).as("neighbor_id"), vecD.as("vb"),
      VectorOps.normSq(vecD).as("nb"))
    val q = queries.select(col(idCol).as("q_id"), vecD.as("va"),
      VectorOps.normSq(vecD).as("na"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    corp.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine",
        VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"))
  }

  /** Symmetric per-vector int8 quantization — the storage form of a
    * billion-vector ANN index (4x smaller than float32, SIMD-friendly
    * dot products). scale = max|v| / 127, q_i = floor(v_i / scale + 0.5)
    * (round-half-up — floor over the BINARY double, because decimal
    * `round` disagrees between engines on doubles whose shortest decimal
    * representation crosses .5: Spark rounds the decimal string, DuckDB
    * the binary value; floor(+0.5) is the same IEEE op sequence in
    * both): every component lands in [-127, 127] by construction. Returns the
    * quantized vector plus order-free audit metrics (max reconstruction
    * error, saturated-component count) — avg-style metrics would be
    * float-fold-order-dependent, max/count are not.
    *
    * Scale shape: a pure projection — no shuffle, no aggregate; the
    * plan is scan + project whatever the corpus size. All-zero vectors
    * get scale 0 and a zero quantized vector (guarded, no NaN).
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vecD = transform(col(vecCol), x => x.cast("double"))
    // the working scale is named __scale, NOT "scale": the final select
    // aliases the rounded value as "scale", and Spark's lateral column
    // alias resolution would bind a same-name col("scale") inside the
    // sibling max_err expression to the ROUNDED alias instead of the
    // input column — reconstructing against the wrong scale (caught by
    // the oracle gate: max_err landed above scale/2)
    emb.select(col(idCol), vecD.as("__v"))
      .withColumn("__scale", array_max(transform(col("__v"), x => abs(x))) / 127.0d)
      .withColumn("qvec",
        when(col("__scale") === 0.0d, transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"),
            x => floor(x / col("__scale") + 0.5d).cast("int"))))
      .select(col(idCol),
        round(col("__scale"), 6).as("scale"),
        round(array_max(zip_with(col("__v"), col("qvec"),
          (x, q) => abs(x - q * col("__scale")))), 6).as("max_err"),
        size(filter(col("qvec"), q => abs(q) === 127)).as("n_saturated"))
  }

  /** Retrieval impact of int8 STORAGE ([[quantizeInt8]]): brute-force
    * top-k where corpus vectors are their int8 reconstructions
    * (code × scale) while queries stay full-precision — the asymmetric
    * search every quantized index serves — evaluated as recall@k against
    * the float truth. ONE output row: the "does 4× compression hurt
    * retrieval" number read before committing a billion-vector index to
    * int8.
    */
  def int8RecallAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val rec = corpus.select(col(idCol), vecD.as("__v"))
      .withColumn("__scale",
        array_max(transform(col("__v"), x => abs(x))) / 127.0d)
      .withColumn("__q",
        when(col("__scale") === 0.0d, transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"),
            x => floor(x / col("__scale") + 0.5d).cast("int"))))
      .select(col(idCol),
        transform(col("__q"), q => q.cast("double") * col("__scale"))
          .as(vecCol))
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val approx = bruteForceTopK(rec, queries, idCol, vecCol, k)
    recallAtK(truth, Seq("int8" -> approx), k)
  }

  /** Recall@k evaluation harness: for each (method, result) the fraction
    * of the exact top-k ground truth the approximate method recovered —
    * the quality dial every ANN deployment tunes (nprobe, bands, codebook
    * size) against. One output row per method:
    * (method, n_queries, n_hits, recall_k).
    *
    * Fully relational — hits are a semi-join of truth against the method's
    * result on (q_id, neighbor_id), never a collect; top-k lists are
    * n_queries x k rows, tiny relative to the corpus at any scale. The
    * ground truth feeds one semi-join per method plus the query count, so
    * it is persisted for the evaluation and released after the (few-row)
    * result materializes — brute-force truth is the expensive input here
    * and must not be recomputed per method branch.
    */
  def recallAtK(exact: DataFrame, approx: Seq[(String, DataFrame)],
      k: Int): DataFrame = {
    val truth = exact.select("q_id", "neighbor_id").persist()
    val nq = truth.agg(countDistinct(col("q_id")).as("n_queries"))
    // NOT overlapped via ParallelJobs on purpose (r14 negative result):
    // materializing each method's pipeline concurrently measured SLOWER
    // (sweep 8.75 → 11.4 s, recall 3.97 → 4.93 s isolated) — the single
    // union plan shares subtrees ACROSS methods (ReuseExchange /
    // ReuseSubquery on the common query scans and index reads), and
    // separate per-method actions rebuild those subtrees once per method,
    // which costs more than the overlap recovers.
    val rows = approx.map { case (method, res) =>
      truth.join(res.select("q_id", "neighbor_id"),
          Seq("q_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(nq) // both sides are 1-row aggregates
        .select(lit(method).as("method"),
          col("n_queries").cast("int").as("n_queries"),
          col("n_hits").cast("int").as("n_hits"),
          round(col("n_hits") / (col("n_queries") * k), 6).as("recall_k"))
    }.reduce(_ unionByName _)
    val out = rows.localCheckpoint()
    truth.unpersist()
    out
  }

  /** kNN label prediction per query: majority vote over the exact top-k
    * neighbors' labels, ties broken by the smallest label — the standard
    * embedding-quality probe (a representation whose neighborhoods
    * don't predict labels is a bad retrieval/clustering space).
    * Output: (q_id, true_label, pred_label) per query.
    *
    * Scale shape: the corpus-sized label table is joined ONCE by
    * neighbor id with the tiny top-k pair list broadcast onto it (the
    * list is n_queries x k rows; the label table never shuffles), then
    * vote counting and the argmax window run on query-bounded data.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val labels = corpus.select(col(idCol).as("__nid"), col(labelCol).as("__lbl"))
    val topk = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val votes = labels
      .join(broadcast(topk.select(col("q_id"), col("neighbor_id").as("__nid"))), Seq("__nid"))
      .groupBy("q_id", "__lbl").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("q_id").orderBy(col("__c").desc, col("__lbl").asc)
    val pred = votes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("q_id"), col("__lbl").as("pred_label"))
    pred.join(
        queries.select(col(idCol).as("q_id"), col(labelCol).as("true_label")),
        Seq("q_id"))
      .select("q_id", "true_label", "pred_label")
  }

  /** Rank of the FIRST same-label neighbor in each query's exact top-k
    * (0 when none lands in the top-k) — the exact-integer cousin of MRR:
    * the mean-reciprocal-rank float sum is partition-order-dependent,
    * while the first-relevant-rank HISTOGRAM carries the same retrieval-
    * quality signal (mass at rank 1 = good, mass at 0 = misses) with
    * nothing but integer counts, so it gates bit-exactly cross-engine.
    *
    * Scale shape follows [[knnClassify]]: the corpus label table is
    * joined once with the query-bounded top-k list broadcast onto it;
    * everything after is n_queries-sized.
    */
  def firstRelevantRank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val labels = corpus.select(col(idCol).as("__nid"), col(labelCol).as("__lbl"))
    val topk = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val qlbl = queries.select(col(idCol).as("q_id"), col(labelCol).as("__qlbl"))
    val rel = labels
      .join(broadcast(topk.select(col("q_id"), col("rnk"),
        col("neighbor_id").as("__nid"))), Seq("__nid"))
      .join(broadcast(qlbl), Seq("q_id"))
      .where(col("__lbl") === col("__qlbl"))
      .groupBy("q_id").agg(min("rnk").as("first_rank"))
    qlbl.select("q_id").join(rel, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("first_rank"), lit(0)).as("first_rank"))
  }

  /** CONTRASTIVE TRIPLET MINING — the data-prep operator for embedding
    * training: for each anchor query, the nearest same-label neighbor
    * (the positive) and the nearest DIFFERENT-label neighbor (the hard
    * negative — high-cosine wrong-label examples are what contrastive
    * losses learn the most from). Queries lacking either half inside the
    * top-k are dropped: every output row is a complete training triplet.
    *
    * Determinism: both picks are min-over-struct((rnk, id)) — rnk is
    * unique per query, so the argmin is total. Scale shape follows
    * [[knnClassify]]: one broadcast of the query-bounded top-k list onto
    * the label table; everything after is n_queries-sized.
    *
    * Output: (q_id, pos_id, pos_rank, neg_id, neg_rank).
    */
  def contrastiveTriplets(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val labels = corpus.select(col(idCol).as("__nid"), col(labelCol).as("__lbl"))
    val topk = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val qlbl = queries.select(col(idCol).as("q_id"), col(labelCol).as("__qlbl"))
    val tagged = labels
      .join(broadcast(topk.select(col("q_id"), col("rnk"),
        col("neighbor_id").as("__nid"))), Seq("__nid"))
      .join(broadcast(qlbl), Seq("q_id"))
      .withColumn("__same", col("__lbl") === col("__qlbl"))
    tagged.groupBy("q_id")
      .agg(
        min(when(col("__same"), struct(col("rnk"), col("__nid")))).as("__p"),
        min(when(!col("__same"), struct(col("rnk"), col("__nid")))).as("__n"))
      .where(col("__p").isNotNull && col("__n").isNotNull)
      .select(col("q_id"),
        col("__p.__nid").as("pos_id"), col("__p.rnk").as("pos_rank"),
        col("__n.__nid").as("neg_id"), col("__n.rnk").as("neg_rank"))
  }

  /** Integer grid for exact centroid sums: components quantize to
    * multiples of 2^-20 BEFORE summing, so the per-group component sums
    * are exact BIGINTs (order-free under any partitioning) instead of
    * order-dependent float folds. x * 2^20 is an exact double op
    * (power-of-two scaling), so the quantization itself is
    * engine-reproducible.
    */
  val CentroidGrid: Long = 1L << 20

  /** Per-label embedding CENTROID DRIFT: cosine of each label's centroid
    * against the global centroid — the semantic counterpart of the
    * lexical TV-drift diagnostic (a well-separated class points away
    * from the global mean; cos ≈ 1 means the class is not separated).
    * The 1/n centroid scaling cancels inside cosine, so the similarity
    * is computed directly on the exact grid SUMS — no float mean ever
    * exists; the only float ops are the final sqrt/divide on exact
    * DECIMAL(38,0) dot products.
    *
    * Scale shape: one posexplode + one (label, dim) aggregate is the
    * corpus-sized work; the global sums attach as a dim-partitioned
    * window over the |labels| × dim result rows, and everything after is
    * label-bounded.
    */
  def centroidCosines(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val q = emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("q",
        floor(col("x").cast("double") * CentroidGrid + 0.5d).cast("long"))
    q.groupBy("label", "pos")
      .agg(sum("q").as("cs"), count(lit(1)).as("cnt"))
      .withColumn("cg", sum("cs").over(Window.partitionBy("pos")))
      .groupBy("label")
      .agg(max("cnt").as("n_vecs"),
        sum(col("cs").cast(dec) * col("cg")).as("__dot"),
        sum(col("cs").cast(dec) * col("cs")).as("__na"),
        sum(col("cg").cast(dec) * col("cg")).as("__nb"))
      .select(col("label"), col("n_vecs"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6)
          .as("cos_to_global"))
  }

  /** Sign-pattern bucket for band `bb` over `planesPerBand` hyperplanes
    * (planes bb*planesPerBand .. +planesPerBand-1).
    */
  def bandBucket(vec: Column, bb: Int, planesPerBand: Int, dim: Int): Column = {
    val bits = (0 until planesPerBand).map { r =>
      val j = bb * planesPerBand + r
      val plane = array((0 until dim).map(d => lit(planeCoef(j, d, dim))): _*)
      when(VectorOps.dot(vec, plane) > 0.0, lit(1L << r)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Banded (multi-probe) LSH ANN: `bands` hash tables of `planesPerBand`
    * hyperplanes each; candidates share ANY band's bucket (union over
    * bands — recall 1-(1-p^r)^b instead of single-table p^(r*b)), then
    * exact cosine re-rank over the distinct candidate set. Candidates
    * still come from equi-joins on (band, bucket); per-query work is the
    * sum of its bands' bucket occupancies.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bands: Int, planesPerBand: Int,
      dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def banded(df: DataFrame, idAs: String, vecAs: String, nAs: String) = {
      val base = df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        VectorOps.normSq(col(vecCol)).as(nAs))
      base.select(col(idAs), col(vecAs), col(nAs),
        posexplode(array((0 until bands).map(bb =>
          bandBucket(col(vecAs), bb, planesPerBand, dim)): _*)).as(Seq("band", "bucket")))
    }
    val c = banded(corpus, "vec_b", "vb", "nb")
    val q = banded(queries, "q_id", "va", "na")
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_b").asc)
    q.join(c, Seq("band", "bucket"))
      .where(col("q_id") =!= col("vec_b"))
      .select("q_id", "va", "na", "vec_b", "vb", "nb").distinct()
      .withColumn("cosine", VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_b").as("neighbor_id"))
  }

  /** MAXIMAL MARGINAL RELEVANCE diversification: greedily re-rank an
    * exact top-`cands` candidate list so each successive pick trades
    * relevance against redundancy with what's already shown —
    * round 1 = argmax rel; round r = argmax λ·rel − μ·max_{s∈selected}
    * sim(c, s). The serving-tier step after ext_ann_rerank: a result
    * page of near-duplicates is useless however relevant, and in a
    * dedup-minded corpus MMR is the query-time face of the same
    * diversity objective.
    *
    * `mu` must be passed EXPLICITLY (not computed as 1−λ): 0.3 as a
    * literal and 1.0−0.7 are different doubles, and the oracle writes
    * the same literals — the determinism discipline every float query
    * here follows. Greedy rounds are unrolled relationally (the
    * CC/BPE loop discipline): everything after the one corpus scan
    * operates on queries×cands frames — serving-page-sized, broadcast
    * all the way down. Scores are bit-reproducible: cosine folds are
    * order-fixed, the λ/μ combination is one fused expression, and
    * ties break on vec_b.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cands: Int, rounds: Int, lambda: Double,
      mu: Double): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
      VectorOps.normSq(col(vecCol)).as("nb"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("va"),
      VectorOps.normSq(col(vecCol)).as("na"))
    val relW = Window.partitionBy("q_id")
      .orderBy(col("rel").desc, col("vec_b").asc)
    val cand = broadcast(q).crossJoin(c)
      .where(col("q_id") =!= col("vec_b"))
      .withColumn("rel",
        VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("rn", row_number().over(relW))
      .where(col("rn") <= cands)
      .select("q_id", "vec_b", "vb", "nb", "rel")
      .localCheckpoint()
    val sims = cand.select(col("q_id"), col("vec_b"), col("vb"), col("nb"))
      .join(cand.select(col("q_id"), col("vec_b").as("sel_b"),
        col("vb").as("svb"), col("nb").as("snb")), Seq("q_id"))
      .where(col("vec_b") =!= col("sel_b"))
      .select(col("q_id"), col("vec_b"), col("sel_b"),
        VectorOps.cosine(col("vb"), col("svb"), col("nb"), col("snb"))
          .as("sim"))
      .localCheckpoint()
    var selected = cand.withColumn("rn", row_number().over(relW))
      .where(col("rn") === 1)
      .select(col("q_id"), col("vec_b").as("sel"),
        lit(1).as("pick"), col("rel").as("score"))
      .localCheckpoint()
    for (r <- 2 to rounds) {
      val msim = sims
        .join(selected.select(col("q_id"), col("sel").as("sel_b")),
          Seq("q_id", "sel_b"))
        .groupBy("q_id", "vec_b").agg(max(col("sim")).as("msim"))
      val next = cand
        .join(selected.select(col("q_id"), col("sel").as("vec_b")),
          Seq("q_id", "vec_b"), "left_anti")
        .join(msim, Seq("q_id", "vec_b"))
        .withColumn("score", lit(lambda) * col("rel") - lit(mu) * col("msim"))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("vec_b").asc)))
        .where(col("rn") === 1)
        .select(col("q_id"), col("vec_b").as("sel"),
          lit(r).as("pick"), col("score"))
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected.select(col("q_id"), col("pick"),
      col("sel").as("selected_id"), round(col("score"), 6).as("mmr"))
  }

  /** TOP PRINCIPAL COMPONENT by power iteration — ENTIRELY on integer
    * grids, so both engines (and any partitioning) produce the
    * bit-identical eigenvector:
    *
    *  1. components quantize to the 1e6 grid (q = round(x·1e6));
    *  2. the centered Gram matrix is exact BIGINT arithmetic
    *     (C_ij = n·Σq_i q_j − S_i·S_j — the n² factors are uniform and
    *     cancel in the eigenproblem), then scales down by a fixed
    *     truncating division so the matvec below can never overflow;
    *  3. each of the fixed `rounds` iterations is an integer matvec
    *     (order-free BIGINT sums — no float fold to stabilize) followed
    *     by an integer renormalization to the 1e6 grid
    *     (v' = m div (max|m| div 1e6), truncation sign-symmetric on
    *     both engines via the explicit CASE).
    *
    * The only floats are the three reported statistics (unit-norm
    * loading, Rayleigh quotient, explained-variance share) — fixed
    * trees over the final integers; sqrt is IEEE-correctly-rounded so
    * even the loading is bit-stable.
    *
    * Scale shape: the corpus-sized steps are the quantize explode
    * (n·d rows) and the Gram aggregate (n·d² products, map-side
    * combined — the shuffle carries ≤ partitions·d² rows); everything
    * after runs on the d² matrix frame with the d-row vector broadcast
    * into each round. At 100 TB you would fold per-partition Gramians
    * first; the aggregate here IS that shape.
    */
  def pcaTopComponent(embeddings: DataFrame, idCol: String, vecCol: String,
      rounds: Int, grid: Long, cDiv: Long): DataFrame = {
    // sign-symmetric truncating division — Spark's `div` truncates toward
    // zero but the oracle's `//` floors, so both sides spell it explicitly
    def truncDiv(a: String, b: String) = IntMath.truncDivSpark(a, b)
    val q = embeddings
      .select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        expr(s"CAST(round(CAST(x AS DOUBLE) * $grid, 0) AS BIGINT)").as("q"))
      .localCheckpoint()
    val sums = q.groupBy("i").agg(sum("q").as("s"))
    val nf = q.agg((count(lit(1)) / max("i").plus(1).cast("long"))
      .cast("long").as("n"))
    val c = q.as("a").join(q.as("b"), "vec_id")
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.q") * col("b.q")).as("sqq"))
      .join(broadcast(sums.select(col("i"), col("s").as("si"))), Seq("i"))
      .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))), Seq("j"))
      .crossJoin(broadcast(nf))
      .selectExpr("i", "j", truncDiv("n * sqq - si * sj", cDiv.toString) + " AS c")
      .localCheckpoint()
    var v = sums.select(col("i"), lit(grid).as("v")).localCheckpoint(eager = false)
    def matvec(vk: DataFrame): DataFrame = c
      .join(broadcast(vk.select(col("i").as("j"), col("v"))), Seq("j"))
      .groupBy("i").agg(sum(col("c") * col("v")).as("m"))
    for (k <- 1 to rounds) {
      val m = matvec(v)
      val dv = m.agg(greatest(expr(s"CAST(max(abs(m)) div $grid AS BIGINT)"),
        lit(1L)).as("dv"))
      v = m.crossJoin(broadcast(dv))
        .selectExpr("i", truncDiv("m", "dv") + " AS v")
        .localCheckpoint(eager = k == rounds)
    }
    // Rayleigh quotient and explained variance off one final matvec,
    // reduced onto coarser grids so the products stay in 64 bits
    val fin = matvec(v).join(v, Seq("i"))
    val stats = fin
      .selectExpr("i",
        truncDiv("v", "1000") + " AS vs",
        truncDiv("m", "1000000") + " AS ms",
        "v * v AS v2")
      .agg(sum(expr("vs * ms")).as("num"), sum(expr("vs * vs")).as("den"),
        sum("v2").as("vv"))
    val trace = c.where(col("i") === col("j")).agg(sum("c").as("tr"))
    v.crossJoin(broadcast(stats)).crossJoin(broadcast(trace))
      .select(col("i").as("dim"), col("v").as("v_grid"),
        round(col("v") / sqrt(col("vv")), 6).as("loading"),
        round(col("num") / col("den"), 6).as("rayleigh"),
        round(col("num") * 1000.0 / col("den") / col("tr"), 6).as("ev_share"))
  }
}
