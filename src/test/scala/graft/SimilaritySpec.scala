package graft

import graft.operators.{Dedup, IndexRoute, Similarity}
import graft.operators.TextAnalysis
import graft.operators.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, InSet}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.functions._

/** ANN, text-analysis, and multimodal-plumbing unit tests. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val emb = Seq(
    (0L, Seq(1.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f)),
    (2L, Seq(0.0f, 1.0f)),
    (3L, Seq(-1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK: nearest neighbor ranked first") {
    val q = emb.where(col("vec_id") === 0)
    val got = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .orderBy("rnk").as[(Long, Int, Long)].collect()
    assert(got.map(_._3).toSeq == Seq(1L, 2L, 3L)) // by descending cosine
  }

  test("lshTopK: identical vectors share a bucket and rank") {
    val corpus = Seq((0L, Seq.fill(4)(0.5f)), (1L, Seq.fill(4)(0.5f)),
      (2L, Seq.fill(4)(-0.5f))).toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 0)
    val got = Similarity.lshTopK(corpus, q, "vec_id", "embedding", 5, 2, 2, 4)
      .as[(Long, Int, Long)].collect()
    assert(got.exists(r => r._3 == 1L && r._2 == 1))
  }

  test("IVF multi-probe: nprobe=2 recall@5 >= nprobe=1, both nonzero") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val p1 = pairs(Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, 25))
    val p2 = pairs(Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, 25, nprobe = 2))
    val r1 = (p1 & exact).size.toDouble / exact.size
    val r2 = (p2 & exact).size.toDouble / exact.size
    // probing a second cell only ADDS candidates, and a candidate can
    // displace an exact hit from the top-5 only by being closer — i.e.
    // by being an exact hit itself — so recall is monotone in nprobe
    assert(r2 >= r1 && r1 > 0.0)
    // k-means refinement on ISOTROPIC synthetic embeddings cannot beat
    // the seeded quantizer (there is no cluster structure to exploit —
    // measured 0.90 vs 0.94 across 1..4 Lloyd rounds); pin a floor so a
    // broken refinement (collapsed cells, wrong means) still fails, and
    // leave the "refinement wins" claim to the clustered-data test below
    val pk = pairs(Similarity.ivfKmeansTopK(corpus, queries, "vec_id", "embedding", 5, 25, 2))
    val rk = (pk & exact).size.toDouble / exact.size
    info(f"recall@5 seeded=$r1%.3f nprobe2=$r2%.3f kmeans=$rk%.3f")
    assert(rk >= 0.8, f"k-means IVF recall collapsed: $rk%.3f")
  }

  test("graphTopK (HNSW-lite): k ranked rows per query, recall floor vs brute truth") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val nQ = queries.count()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val g = Similarity.graphTopK(corpus, queries, "vec_id", "embedding", 5,
      25, 8, 8, 8, 3)
    val rows = g.collect()
    // shape contract: exactly k rows per query, ranks 1..k, never self
    assert(rows.length == nQ * 5, s"expected ${nQ * 5} rows, got ${rows.length}")
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 5))
      assert(rs.forall(_.getLong(2) != q), "self must be excluded")
    }
    val rg = (pairs(g) & exact).size.toDouble / exact.size
    // the floor a broken graph (empty edges, dead frontier) cannot fake;
    // measured ~0.9 on the isotropic fixture — pinned conservatively
    assert(rg >= 0.6, f"graph ANN recall collapsed: $rg%.3f")
    // expansion must help: more rounds can only grow the visited pool,
    // and a pool can lose an exact hit only to a closer vector — which
    // is itself an exact hit — so recall is monotone in rounds
    val g0 = Similarity.graphTopK(corpus, queries, "vec_id", "embedding", 5,
      25, 8, 8, 8, 0)
    val r0 = (pairs(g0) & exact).size.toDouble / exact.size
    info(f"recall@5 entry-only=$r0%.3f graph(2 rounds)=$rg%.3f")
    assert(rg >= r0, "beam expansion may never lose recall vs the entry cut")
  }

  test("depth-4 descent: levels=4 ≡ levels=3 on the fixture, entry-stage row count pinned") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val e = 8
    val d3 = Similarity.graphTopK(corpus, queries, "vec_id", "embedding", 5,
      25, e, 8, 8, 3, levels = 3)
    val d4 = Similarity.graphTopK(corpus, queries, "vec_id", "embedding", 5,
      25, e, 8, 8, 3, levels = 4)
    assert(d3.count() > 0)
    assert(d3.exceptAll(d4).count() == 0 && d4.exceptAll(d3).count() == 0,
      "levels=4 must land the same results as levels=3 at fixture scale")
    // the cost claim, pinned with INDEPENDENT (window-ranked) code:
    // reconstruct the levels=4 descent's stage sizes and check the
    // entry stage scores a routed-bucket subset, not the whole level
    import org.apache.spark.sql.expressions.Window
    val base = corpus.select(col("vec_id").as("vid"),
      col("embedding").as("vec"),
      graft.functions.VectorOps.normSq(col("embedding")).as("nsq"))
    val qF = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("qv"),
      graft.functions.VectorOps.normSq(col("embedding")).as("qn"))
    def lvl(l: Int) = base.where(col("vid") % math.pow(e, l).toLong === 0)
    def nearestParent(nodes: org.apache.spark.sql.DataFrame,
        parents: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy("vid")
        .orderBy(col("__c").desc, col("pid").asc)
      nodes.crossJoin(broadcast(parents.select(col("vid").as("pid"),
          col("vec").as("pv"), col("nsq").as("pn"))))
        .withColumn("__c", graft.functions.VectorOps.cosine(
          col("vec"), col("pv"), col("nsq"), col("pn")))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("vid"), col("pid"))
    }
    def routeBeam(cand: org.apache.spark.sql.DataFrame, beam: Int) = {
      val w = Window.partitionBy("q_id")
        .orderBy(col("__c").desc, col("vid").asc)
      cand.withColumn("rn", row_number().over(w)).where(col("rn") <= beam)
        .select("q_id", "vid")
    }
    val beam = 8
    // stage 1: brute-force the e^3 top level
    val topScored = qF.crossJoin(broadcast(lvl(3)))
      .withColumn("__c", graft.functions.VectorOps.cosine(
        col("qv"), col("vec"), col("qn"), col("nsq")))
    val routes1 = routeBeam(topScored, beam)
    // stage 2: supers (e^2) in routed super-super buckets
    val asn2 = nearestParent(lvl(2), lvl(3))
    val cand2 = routes1.withColumnRenamed("vid", "pid")
      .join(asn2, Seq("pid")).where(col("q_id") =!= col("vid"))
    // stage 3 (ENTRY): e-level nodes in routed super buckets
    val scored2 = cand2.join(base, Seq("vid")).join(
        qF, Seq("q_id"))
      .withColumn("__c", graft.functions.VectorOps.cosine(
        col("qv"), col("vec"), col("qn"), col("nsq")))
    val routes2 = routeBeam(scored2, beam)
    val asn1 = nearestParent(lvl(1), lvl(2))
    val entryCand4 = routes2.withColumnRenamed("vid", "pid")
      .join(asn1, Seq("pid")).where(col("q_id") =!= col("vid")).count()
    // the depth-2 (pre-round-9) entry cost this descent replaces
    val bruteEntry = qF.count() * lvl(1).count()
    assert(entryCand4 > 0, "descent must reach the entry level")
    assert(entryCand4 < bruteEntry,
      s"entry stage must score a routed subset: $entryCand4 !< $bruteEntry")
    info(s"entry-stage rows: levels=4 scores $entryCand4 of $bruteEntry brute pairs")
  }

  test("depth-4 wins where n/e² dominates: strictly fewer entry rows at equal recall (synthetic corpus)") {
    // bounded, seeded synthetic corpus (round-11 verdict ask): 2048
    // points on a smooth unit circle — navigable by construction, with
    // e=4 so the levels=3 top level (n/e² = 128 nodes) dominates entry
    // cost while levels=4 routes through n/e³ = 32
    val n = 2048
    val e = 4
    val beam = 4
    val k = 5
    val corpus = spark.range(n).select(col("id").as("vec_id"),
      array(cos(col("id") * 0.003), sin(col("id") * 0.003)).as("embedding"))
    val queries = corpus.where(col("vec_id") % 256 === 0) // 8 queries
    val base = corpus.select(col("vec_id").as("vid"),
      col("embedding").as("vec"),
      graft.functions.VectorOps.normSq(col("embedding")).as("nsq"))
    val qF = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("qv"),
      graft.functions.VectorOps.normSq(col("embedding")).as("qn"))
    // the REAL descent's per-stage scored frames, counted
    def entryRows(levels: Int): Long = {
      val (_, stages) = Similarity.entryDescent(base, qF, e, beam, levels)
      stages.map(_.count()).sum
    }
    val rows3 = entryRows(3)
    val rows4 = entryRows(4)
    info(s"entry rows scored: levels=3 $rows3, levels=4 $rows4")
    assert(rows4 < rows3,
      s"levels=4 must score strictly fewer entry rows: $rows4 !< $rows3")
    // ... at equal top-k recall against the brute-force truth
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k))
    def recall(levels: Int): Double = {
      val g = Similarity.graphTopK(corpus, queries, "vec_id", "embedding",
        k, 32, e, 8, beam, 3, levels = levels)
      (pairs(g) & exact).size.toDouble / exact.size
    }
    val r3 = recall(3)
    val r4 = recall(4)
    info(f"recall@$k: levels=3 $r3%.3f, levels=4 $r4%.3f")
    assert(r3 > 0.9, f"the synthetic corpus must be navigable: $r3%.3f")
    assert(r4 == r3, f"equal recall required: levels=4 $r4%.3f vs levels=3 $r3%.3f")
  }

  test("graph admission ≡ rebuild; untouched edge partitions byte-identical") {
    // batch ids %1000==3 are never %25==0, so the stored centroid set
    // equals the union's — writeGraphIndex on the union IS the
    // rebuild-with-stored-centroids the merge identity promises, and
    // the two indexes must agree EDGE FOR EDGE (stronger than probe
    // agreement). The tiny batch also lands in few cells, leaving
    // most primary-cell partitions untouched — those files never move.
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val batch = corpus.where(col("vec_id") % 1000 === 3) // tiny: few landed cells
    val rest = corpus.exceptAll(batch)
    val pathA = java.nio.file.Files
      .createTempDirectory("graft_hnsw_app").toString
    val pathB = java.nio.file.Files
      .createTempDirectory("graft_hnsw_reb").toString
    try {
      Similarity.writeGraphIndex(rest, "vec_id", "embedding", 25, 8, pathA)
      def files() = new java.io.File(s"$pathA/edges").listFiles()
        .filter(_.getName.startsWith("pcell="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
        .map(f => f.getPath ->
          ((f.length(), f.lastModified()))).toMap
      val before = files()
      Similarity.appendToGraphIndex(batch, "vec_id", "embedding", 8, pathA)
      val after = files()
      Similarity.writeGraphIndex(corpus, "vec_id", "embedding", 25, 8, pathB)
      val ea = spark.read.parquet(s"$pathA/edges").select("src", "dst")
      val eb = spark.read.parquet(s"$pathB/edges").select("src", "dst")
      assert(ea.exceptAll(eb).count() == 0 && eb.exceptAll(ea).count() == 0,
        "admitted edge set must equal the rebuild's, edge for edge")
      // untouched partitions: files that survived kept length AND mtime
      val untouched = before.keySet & after.keySet
      assert(untouched.nonEmpty, "a small batch must leave partitions alone")
      untouched.foreach { f =>
        assert(before(f) == after(f), s"untouched partition file moved: $f")
      }
      assert(before.keySet != after.keySet,
        "the landed partitions must actually rewrite")
      // vecs grew by exactly the batch
      assert(spark.read.parquet(s"$pathA/vecs").count() ==
        rest.count() + batch.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pathA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pathB))
    }
  }

  test("graph admission is batch-split invariant: any append order lands the same index") {
    // the daily-ingest contract: because every append ranks against the
    // SAME stored quantizer and the edge merge is a semilattice fold
    // (top-m under fixed scores), splitting the ingest into different
    // batch sequences must land the IDENTICAL final index — one append
    // of {B1 ∪ B2} ≡ appending B1 then B2
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = corpus.where(col("vec_id") % 3 =!= 0)
    val b1 = corpus.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val b2 = corpus.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 1)
    val pathA = java.nio.file.Files
      .createTempDirectory("graft_hnsw_one").toString
    val pathB = java.nio.file.Files
      .createTempDirectory("graft_hnsw_two").toString
    try {
      Similarity.writeGraphIndex(base, "vec_id", "embedding", 25, 8, pathA)
      Similarity.appendToGraphIndex(b1.unionByName(b2), "vec_id",
        "embedding", 8, pathA)
      Similarity.writeGraphIndex(base, "vec_id", "embedding", 25, 8, pathB)
      Similarity.appendToGraphIndex(b1, "vec_id", "embedding", 8, pathB)
      Similarity.appendToGraphIndex(b2, "vec_id", "embedding", 8, pathB)
      for (f <- Seq("edges", "vecs", "cells")) {
        val a = spark.read.parquet(s"$pathA/$f")
        val b = spark.read.parquet(s"$pathB/$f")
          .select(a.columns.map(col): _*)
        assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
          s"$f diverged between one-shot and two-batch admission")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pathA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pathB))
    }
  }

  test("graph admission of a 20-row local batch: index tables read with no schema-inference job") {
    val corpus = Tables.embeddings(spark, sf0001)
    val rows = corpus.where(col("vec_id") % 10 === 7).orderBy("vec_id").limit(20).collect()
    val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), corpus.schema)
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw_jobs").toString
    try {
      Similarity.writeGraphIndex(corpus.where(col("vec_id") % 10 =!= 7),
        "vec_id", "embedding", 25, 8, path)
      // cents, vecs, cells and edges come through graft-index, whose
      // schema is read on the driver (`spark.read.parquet` adds one
      // inference job per table), and the recut's two broadcasts of the
      // stored vectors are one exchange, reused, since equal graft-index
      // scans compare equal
      val jobs = jobsOf(Similarity.appendToGraphIndex(batch, "vec_id", "embedding", 8, path))._2
      assert(jobs <= 19, s"a graph admission launched $jobs Spark jobs")
      assert(spark.read.parquet(s"$path/vecs").where(col("vid") % 10 === 7).count() == 20)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("persisted graph index: probe ≡ in-plan graphTopK; tombstone mask never returns nor scores deleted ids") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_hnsw_idx").toString
    try {
      Similarity.writeGraphIndex(corpus, "vec_id", "embedding", 25, 8, path)
      val probed = Similarity.probeGraphIndex(IndexRoute.Parquet(path), queries, "vec_id",
        "embedding", 5, 8, 8, 3)
      val inPlan = Similarity.graphTopK(corpus, queries, "vec_id",
        "embedding", 5, 25, 8, 8, 8, 3)
      assert(probed.exceptAll(inPlan).count() == 0 &&
        inPlan.exceptAll(probed).count() == 0,
        "persisted-index probe must round-trip losslessly")
      // erasure mask: vec_id % 7 == 3 tombstoned
      val tomb = corpus.where(col("vec_id") % 7 === 3).select("vec_id")
      val masked = Similarity.probeGraphIndex(IndexRoute.Parquet(path), queries, "vec_id",
        "embedding", 5, 8, 8, 3, tombstones = Some(tomb))
      val got = masked.collect()
      assert(got.nonEmpty)
      assert(got.forall(_.getLong(2) % 7 != 3),
        "a tombstoned id must never be returned")
      assert(got.forall(_.getLong(0) % 7 != 3),
        "a tombstoned query must not be served")
      // the mask costs recall but not collapse: compare against brute
      // truth over the SURVIVING corpus
      val truth = Similarity.bruteForceTopK(corpus.where(col("vec_id") % 7 =!= 3),
        queries.where(col("vec_id") % 7 =!= 3), "vec_id", "embedding", 5)
        .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val gotSet = got.map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (gotSet & truth).size.toDouble / truth.size
      info(f"masked recall@5 vs surviving-corpus truth = $recall%.3f")
      assert(recall >= 0.5, f"masked graph recall collapsed: $recall%.3f")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("tombstone compaction: unmasked probe of compacted index ≡ masked probe; untouched pcells byte-identical; storage shrinks") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    // query set disjoint from the tombstones — the masked lane drops
    // tombstoned queries via its mask, the compacted lane has no mask
    val queries = corpus.where(col("vec_id") % 50 === 0 &&
      col("vec_id") % 7 =!= 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_hnsw_cmp").toString
    def filesUnder(sub: String): Map[String, Array[Byte]] = {
      val root = java.nio.file.Paths.get(path, sub)
      val out = scala.collection.mutable.Map[String, Array[Byte]]()
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out(root.relativize(p).toString) = java.nio.file.Files.readAllBytes(p)
      }
      out.toMap
    }
    def storageBytes: Long =
      Seq("edges", "vecs", "cells").map(sub =>
        filesUnder(sub).values.map(_.length.toLong).sum).sum
    try {
      Similarity.writeGraphIndex(corpus, "vec_id", "embedding", 25, 8, path)
      val tomb = corpus.where(col("vec_id") % 7 === 3).select("vec_id")
      // the reference: the masked probe, materialized BEFORE the rewrite
      val masked = Similarity.probeGraphIndex(IndexRoute.Parquet(path), queries, "vec_id",
        "embedding", 5, 8, 8, 3, tombstones = Some(tomb))
        .collect().map(_.toSeq).toSeq
      val bytesBefore = storageBytes
      // the tombstone collect, the edge census (one map-only job) and
      // rewrite (its rebalance's shuffle-map job and the write), and a
      // checkpoint and a write per side table; no tombstone checkpoint,
      // broadcast build or schema inference
      val jobs = jobsOf(Similarity.compactGraphIndex(path, tomb))._2
      assert(jobs <= 8, s"a compaction launched $jobs Spark jobs")
      // erasure is physical: no masked endpoint, node, or assignment
      // survives in storage
      assert(spark.read.parquet(s"$path/edges")
        .where(col("src") % 7 === 3 || col("dst") % 7 === 3).count() == 0)
      assert(spark.read.parquet(s"$path/vecs")
        .where(col("vid") % 7 === 3).count() == 0)
      assert(spark.read.parquet(s"$path/cells")
        .where(col("vid") % 7 === 3).count() == 0)
      assert(storageBytes < bytesBefore,
        s"storage must shrink: $storageBytes vs $bytesBefore")
      // THE contract: the unmasked probe of the compacted index equals
      // the masked probe of the original, row for row
      val compacted = Similarity.probeGraphIndex(IndexRoute.Parquet(path), queries, "vec_id",
        "embedding", 5, 8, 8, 3).collect().map(_.toSeq).toSeq
      assert(compacted.nonEmpty)
      assert(compacted.groupBy(identity).view.mapValues(_.size).toMap ==
        masked.groupBy(identity).view.mapValues(_.size).toMap,
        "compacted-unmasked probe must equal masked probe exactly")
      // SURGICAL pass: a second compaction with two ids out of ONE cell
      // touches only that neighborhood's partitions — every other pcell
      // directory's files stay byte-identical (the dynamic overwrite
      // never visits them)
      val cells = spark.read.parquet(s"$path/cells")
      val oneCell = cells.where(col("rn") === 1).groupBy("cell").count()
        .orderBy(col("count"), col("cell")).select("cell").head().get(0)
      val tomb2Ids = cells.where(col("cell") === oneCell)
        .select("vid").orderBy("vid").limit(2)
        .collect().map(_.getLong(0))
      val edgesBefore2 = filesUnder("edges")
      val touched2 = spark.read.parquet(s"$path/edges")
        .where(col("src").isin(tomb2Ids: _*) || col("dst").isin(tomb2Ids: _*))
        .select("pcell").distinct().collect().map(r => s"pcell=${r.get(0)}")
        .toSet
      assert(touched2.nonEmpty && edgesBefore2.keys
        .exists(f => !touched2.exists(f.startsWith)),
        s"surgical tombstones must leave untouched partitions: $touched2")
      Similarity.compactGraphIndex(path, tomb2Ids.toSeq.toDF("vec_id"))
      val edgesAfter2 = filesUnder("edges")
      edgesBefore2.filter { case (f, _) => !touched2.exists(f.startsWith) }
        .foreach { case (f, bytes) =>
          assert(edgesAfter2.contains(f), s"untouched file vanished: $f")
          assert(java.util.Arrays.equals(edgesAfter2(f), bytes),
            s"untouched file rewritten: $f")
        }
      assert(spark.read.parquet(s"$path/vecs")
        .where(col("vid").isin(tomb2Ids: _*)).count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("rerankTopK: subset of candidates, recall >= plain IVF-PQ") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val ivfpq = pairs(Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 5, 25, 2, 64))
    val cand = pairs(Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 20, 25, 2, 64))
    val rr = pairs(Similarity.rerankTopK(corpus, queries, "vec_id", "embedding", 5, 20, 25, 2, 64))
    // re-ranked picks come from the candidate stage only
    assert(rr.subsetOf(cand))
    // any truth neighbor inside the candidate list is guaranteed into the
    // exact-rescored top-k, so rerank recall dominates first-stage recall
    val rIvfpq = (ivfpq & exact).size.toDouble / exact.size
    val rRerank = (rr & exact).size.toDouble / exact.size
    info(f"recall@5 ivfpq=$rIvfpq%.3f rerank=$rRerank%.3f")
    assert(rRerank >= rIvfpq && rRerank > 0.0)
  }

  test("int8RecallAtK: one row, high recall — 8-bit noise barely moves cosine ranks") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val rows = Similarity.int8RecallAtK(corpus, queries, "vec_id", "embedding", 5)
      .as[(String, Int, Int, Double)].collect()
    assert(rows.length == 1)
    val (m, nq, hits, recall) = rows.head
    info(f"int8 recall@5 = $recall%.3f ($hits of ${nq * 5})")
    assert(m == "int8" && hits <= nq * 5 && recall >= 0.8)
  }

  test("eventsWau via registry: wau >= dau, stickiness in (0, 1]") {
    val rows = SparkEntry.queries("ext_events_wau")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (day, dau, wau, st) =>
      assert(wau >= dau && dau >= 1, s"day $day")
      assert(st > 0.0 && st <= 1.0, s"day $day stickiness $st")
    }
  }

  test("filteredTopK: label-pure, prefilter dense ranks, postfilter ⊆ prefilter") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val rows = Similarity.filteredTopK(corpus, queries, "vec_id", "embedding", "label", 5)
      .as[(String, Long, Int, Long)].collect()
    val labels = corpus.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    rows.foreach { case (_, q, _, nb) => assert(labels(q) == labels(nb)) }
    val pre = rows.filter(_._1 == "prefilter")
    val post = rows.filter(_._1 == "postfilter")
    // prefilter = exact top-k among eligible: dense ranks per query
    pre.groupBy(_._2).foreach { case (q, g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length).toSeq, s"query $q")
    }
    // an eligible global-top-k hit is necessarily in the eligible top-k,
    // so the cheap overlay never finds anything prefilter missed
    val preSet = pre.map(r => (r._2, r._4)).toSet
    assert(post.forall(r => preSet.contains((r._2, r._4))) && post.length <= pre.length)
  }

  test("hybridRrfTopK: hand-checked fusion — both-legs hit outranks either alone") {
    val sem = Seq((1L, 1, 10L), (1L, 2, 11L)).toDF("q_id", "rnk", "neighbor_id")
    val lex = Seq((1L, 1, 10L), (1L, 2, 12L)).toDF("q_id", "rnk", "neighbor_id")
    val got = Similarity.hybridRrfTopK(sem, lex, 3)
      .orderBy("rnk").as[(Long, Int, Long, Double)].collect().toSeq
    // 10 retrieved by both at rank 1: 2/61; 11 and 12 tie at 1/62 and
    // break by neighbor id
    assert(got == Seq(
      (1L, 1, 10L, 0.032787),
      (1L, 2, 11L, 0.016129),
      (1L, 3, 12L, 0.016129)))
  }

  test("jaccardTopK: near-dup ranks first, self excluded") {
    val docs = Seq(
      (0L, "a b c d e"), (1L, "a b c d x"), (2L, "a b q r s"), (3L, "z z z y y")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.jaccardTopK(
        docs, docs.where(col("doc_id") === 0), "doc_id", "text", 3)
      .orderBy("rnk").as[(Long, Int, Long)].collect().toSeq
    // shingles(0) = {abc,bcd,cde}; doc1 shares {abc,bcd} -> j=2/4;
    // doc2 shares {} with 0? abq,bqr,qrs -> no; doc3 none
    assert(got.map(_._3) == Seq(1L))
    assert(got == Seq((0L, 1, 1L)))
  }

  test("silhouette: bounded scores, centroids score ~1, cell ≡ nearest centroid") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.silhouette(corpus, "vec_id", "embedding", 25)
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.length == corpus.count())
    rows.foreach { case (vid, _, s, m) =>
      assert(s >= 0.0 && s <= 1.000001 && m >= 0.0, s"vec $vid s=$s m=$m")
    }
    // a centroid vector's nearest centroid is itself: cell = own id and
    // the silhouette saturates (cos1 = 1 up to fp rounding)
    rows.filter(_._1 % 25 == 0).foreach { case (vid, cell, s, _) =>
      assert(cell == vid && s >= 0.999, s"centroid $vid cell=$cell s=$s")
    }
  }

  /** Every node of an executed plan, through AQE's final plan, its query
    * stages and subqueries.
    */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }

  /** The probe's scans of the index's cell table. */
  private def cellScans(probe: DataFrame): Seq[SparkPlan] =
    planNodes(probe.queryExecution.executedPlan).collect {
      case s @ (_: FileSourceScanExec | _: DataSourceV2ScanExecBase)
          if s.output.exists(_.name == "vec_b") => s
    }

  /** Cell ids of the static `cell IN (...)` partition filter on a cells
    * scan: the parquet scan's partition filters or the graft-index
    * scan's pushed partition filters.
    */
  private def prunedCells(scan: SparkPlan): Set[Long] = scan match {
    case f: FileSourceScanExec =>
      f.partitionFilters.flatMap(_.collect {
        case In(a: AttributeReference, list) if a.name == "cell" =>
          list.map(_.eval().toString.toLong)
        case InSet(a: AttributeReference, set) if a.name == "cell" =>
          set.map(_.toString.toLong)
      }.flatten).toSet
    case v: DataSourceV2ScanExecBase =>
      """In\(cell, \[([^\]]*)\]\)""".r.findAllMatchIn(v.scan.description())
        .flatMap(_.group(1).split(",").map(_.trim.toLong)).toSet
  }

  test("persisted IVF index: probe ≡ in-plan ivfTopK; scan is pruned to the probed cells") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    try {
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", 25, path)
      val probe = Similarity.probeIvfIndex(path, queries, "vec_id", "embedding", 5)
      val inPlan = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, 25)
        .as[(Long, Int, Long)].collect().toSet
      assert(probe.as[(Long, Int, Long)].collect().toSet == inPlan)
      // the probed cells become a static partition filter on the scan
      val scans = cellScans(probe)
      assert(scans.nonEmpty && scans.forall(prunedCells(_).nonEmpty),
        s"no cell partition filter on the scan:\n${probe.queryExecution.executedPlan}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("persisted IVF index: an in-memory query batch reads only its own cells, on both routes") {
    val corpus = Tables.embeddings(spark, sf0001)
    // what a serving caller sends: a local frame, no filter for dynamic
    // partition pruning to key off
    val batch = corpus.where(col("vec_id") % 50 === 0).orderBy("vec_id").limit(10).collect()
    assert(batch.length == 10)
    val queries = spark.createDataFrame(java.util.Arrays.asList(batch: _*), corpus.schema)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_mem").toString
    try {
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", 25, path)
      val cells = spark.read.parquet(s"$path/cells")
      // a query drawn from the corpus probes the cell it is stored in
      val probed = cells.where(col("vec_b").isin(batch.map(_.getAs[Long]("vec_id")): _*))
        .select(col("cell").cast("long")).distinct().as[Long].collect().toSet
      val cellRows = cells.where(col("cell").cast("long").isin(probed.toSeq: _*)).count()
      val indexRows = cells.count()
      assert(cellRows < indexRows, s"fixture: probed cells hold all $indexRows rows")
      val inPlan = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, 25)
        .as[(Long, Int, Long)].collect().toSet
      Seq("parquet" -> (Similarity.probeIvfIndex _),
          "graft-index" -> (Similarity.probeIvfIndexV2 _)).foreach { case (route, probeOf) =>
        val probe = probeOf(path, queries, "vec_id", "embedding", 5)
        val got = probe.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        assert(got == inPlan, s"$route: probe diverged from ivfTopK")
        val scans = cellScans(probe)
        assert(scans.size == 1, s"$route: ${scans.size} cell scans")
        assert(prunedCells(scans.head) == probed,
          s"$route: scan filter cells ${prunedCells(scans.head)} != probed $probed")
        val read = scans.head.metrics("numOutputRows").value
        assert(read == cellRows,
          s"$route: scan read $read rows; the probed cells hold $cellRows of $indexRows")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  // `spark.read.parquet` infers the cells schema with a Spark job of its
  // own on every call; graft-index infers it on the driver. The probe's
  // budget is two jobs on top of what its route's reader costs.
  test("persisted IVF index: a warm probe of a 10-query local batch runs two Spark jobs on both routes") {
    val corpus = Tables.embeddings(spark, sf0001)
    val batch = corpus.where(col("vec_id") % 50 === 0).orderBy("vec_id").limit(10).collect()
    val queries = spark.createDataFrame(java.util.Arrays.asList(batch: _*), corpus.schema)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_jobs").toString
    try {
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", 25, path)
      val probed = spark.read.parquet(s"$path/cells")
        .where(col("vec_b").isin(batch.map(_.getAs[Long]("vec_id")): _*))
        .select(col("cell").cast("long")).distinct().as[Long].collect().toSet
      val inPlan = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, 25)
        .as[(Long, Int, Long)].collect().toSet
      Seq(("parquet", Similarity.probeIvfIndex _, () => spark.read.parquet(s"$path/cells")),
          ("graft-index", Similarity.probeIvfIndexV2 _,
            () => spark.read.format("graft-index").load(s"$path/cells"))).foreach {
        case (route, probeOf, readCells) =>
        val readJobs = jobsOf(readCells())._2
        assert(readJobs == (if (route == "parquet") 1 else 0), s"$route: reader costs $readJobs jobs")
        probeOf(path, queries, "vec_id", "embedding", 5).collect() // warms the centroid cache
        val ((probe, got), jobs) = jobsOf {
          val p = probeOf(path, queries, "vec_id", "embedding", 5)
          (p, p.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
        }
        assert(jobs - readJobs <= 2, s"$route: a warm probe launched $jobs Spark jobs")
        assert(got == inPlan, s"$route: probe diverged from ivfTopK")
        val scans = cellScans(probe)
        assert(scans.size == 1 && prunedCells(scans.head) == probed,
          s"$route: scan filter cells ${scans.map(prunedCells)} != probed $probed")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("persisted IVF index: a rebuild invalidates the cached centroids; admission and erasure keep them") {
    val corpus = Tables.embeddings(spark, sf0001)
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cache").toString
    def probe = Similarity.probeIvfIndexV2(path, queries, "vec_id", "embedding", 5)
      .as[(Long, Int, Long)].collect().toSet
    def ivf(every: Int) = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, every)
      .as[(Long, Int, Long)].collect().toSet
    val cache = graft.operators.IvfCentroidCache
    try {
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", 25, path)
      assert(probe == ivf(25))
      assert(probe == ivf(25))
      // same path, other centroids: a stale entry would assign the old cells
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", 20, path)
      val misses = cache.misses.get
      val rebuilt = probe
      assert(ivf(20) != ivf(25), "fixture: both builds probe alike")
      assert(rebuilt == ivf(20), "probe after a rebuild must use the new centroids")
      assert(cache.misses.get == misses + 1, "the rebuild must miss the cache")
      // admission and erasure rewrite cells, never cents: the entry stays valid
      Similarity.deleteFromIvfIndex(path, queries.select("vec_id").limit(3))
      Similarity.appendToIvfIndex(queries.limit(3), "vec_id", "embedding", path)
      val (hits, missesBefore) = (cache.hits.get, cache.misses.get)
      val afterWrites = probe
      assert(cache.hits.get == hits + 1 && cache.misses.get == missesBefore,
        "admission or erasure invalidated the centroid entry")
      val uncached = Similarity.probeIvfIndexFrames(spark.read.parquet(s"$path/cents"),
          spark.read.format("graft-index").load(s"$path/cells"), queries, "vec_id", "embedding", 5)
        .as[(Long, Int, Long)].collect().toSet
      assert(afterWrites == uncached)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("IVF probe assignment: local batch (no job) and scanned frame (one job) probe the stored cell; ties go to the smaller cent_id") {
    val corpus = Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_assign").toString
    try {
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", 25, path)
      val cells = spark.read.parquet(s"$path/cells")
      val stored = cells.select(col("vec_b"), col("cell").cast("long"))
        .as[(Long, Long)].collect().toMap
      val cents = graft.operators.IvfCentroidCache.literal(spark, Some(s"$path/cents"),
        spark.read.parquet(s"$path/cents"))
      val cellType = cells.schema("cell").dataType
      val local = spark.createDataFrame(java.util.Arrays.asList(corpus.collect(): _*), corpus.schema)
      Seq("local batch" -> (local, 0), "parquet frame" -> (corpus, 1)).foreach {
        case (mode, (frame, expectJobs)) =>
          val assigned = Similarity.assignQueries(frame, "vec_id", "embedding", cents, cellType)
          val (rows, jobs) = jobsOf(assigned.collect())
          assert(jobs == expectJobs, s"$mode: assignment launched $jobs jobs")
          val got = rows.map(r => r.getLong(0) -> r.get(3).toString.toLong).toMap
          assert(got == stored, s"$mode: a query probed a cell other than its stored one")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
    // (1, 1) is equidistant from the centroids (1, 0) and (0, 1), bit for bit
    val tiny = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.2f)), (2L, Seq(0.8f, 0.3f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.2f, 0.9f)), (5L, Seq(0.3f, 0.8f))).toDF("vec_id", "embedding")
    val tie = Seq((100L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val tinyPath = java.nio.file.Files.createTempDirectory("graft_ivf_tie").toString
    try {
      Similarity.writeIvfIndex(tiny, "vec_id", "embedding", 3, tinyPath)
      val got = Similarity.probeIvfIndex(tinyPath, tie, "vec_id", "embedding", 3)
        .as[(Long, Int, Long)].collect().toSet
      assert(got.map(_._3) == Set(0L, 1L, 2L), s"the tie must probe cent 0's cell: $got")
      assert(got == Similarity.ivfTopK(tiny, tie, "vec_id", "embedding", 3, 3)
        .as[(Long, Int, Long)].collect().toSet)
      // an empty batch probes no cell and returns no rows
      assert(Similarity.probeIvfIndex(tinyPath, tie.limit(0), "vec_id", "embedding", 3)
        .count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tinyPath))
    }
  }

  test("dsirScores: self-target is identically zero; target slice scores higher") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // target = corpus -> ct = cc and nt = nc bucket-wise -> every
    // log-ratio is exactly 0 and every doc scores 0.0
    val self = Sampling.dsirScores(docs, "doc_id", "text", lit(true), 1024)
      .as[(Long, Long, Double)].collect()
    assert(self.nonEmpty && self.forall(_._3 == 0.0))
    // with the English slice as target, en docs average a higher
    // per-token score than the rest (their tokens are target-enriched)
    val scored = Sampling.dsirScores(docs, "doc_id", "text",
        col("lang") === "en", 1024)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("lang") === "en", col("dsir_score") / col("n_feats"))
      .as[(Boolean, Double)].collect()
    val enAvg = scored.filter(_._1).map(_._2).sum / scored.count(_._1)
    val restAvg = scored.filterNot(_._1).map(_._2).sum / scored.count(!_._1)
    info(f"per-token dsir: en=$enAvg%.4f rest=$restAvg%.4f")
    assert(enAvg > restAvg)
  }

  test("recallAtK: truth vs itself is 1.0; method rows match set-recall") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, 25)
    val got = Similarity.recallAtK(exact, Seq("self" -> exact, "ivf" -> ivf), 5)
      .as[(String, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("self")._4 == 1.0)
    // cross-check the relational recall against the collect-based one
    val exactSet = exact.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfSet = ivf.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got("ivf")._3 == (ivfSet & exactSet).size)
    assert(got("ivf")._2 == exactSet.map(_._1).size)
  }

  test("multi-probe ladder: recall is monotone non-decreasing in nprobe") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
    val ladder = Seq(1, 2, 4, 8)
    val got = Similarity.recallAtK(exact,
        ladder.map(p => s"p$p" -> Similarity.ivfTopK(corpus, queries,
          "vec_id", "embedding", 5, 25, nprobe = p)), 5)
      .as[(String, Int, Int, Double)].collect().map(r => r._1 -> r._4).toMap
    val curve = ladder.map(p => got(s"p$p"))
    // a query's candidate set only grows with nprobe, and anything that
    // displaces a truth member from the approximate top-k has higher
    // cosine and is therefore itself a truth member — so hits (and
    // recall) cannot decrease
    assert(curve == curve.sorted,
      s"recall not monotone over nprobe ladder: ${ladder.zip(curve)}")
    // the curve must actually move somewhere on this data: probing all
    // ~20 cells at p=8 beats single-probe
    assert(curve.last > curve.head,
      s"vacuous curve (flat at ${curve.head}): widen the ladder or data")
    info(s"recall curve: ${ladder.zip(curve).map { case (p, r) => s"p$p=$r" }.mkString(" ")}")
  }

  test("pqTopK: identical codes reconstruct identically; recall floor holds") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val pq2 = pairs(Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 5, 2, 25, 64))
    // finer subspaces quantize less: M=4 reconstruction cannot be worse
    // in expectation; pin floors, report both
    val pq4 = pairs(Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 5, 4, 25, 64))
    val r2 = (pq2 & exact).size.toDouble / exact.size
    val r4 = (pq4 & exact).size.toDouble / exact.size
    info(f"recall@5 pq(M=2)=$r2%.3f pq(M=4)=$r4%.3f")
    assert(r2 > 0.0, "PQ found none of the true neighbors")
    assert(pq2.size == exact.size, "PQ must still return k rows per query")
  }

  test("pqTopK: a corpus vector that IS a codeword reconstructs exactly") {
    // centroidEvery=1 makes every vector its own codeword in every
    // subspace: reconstruction is lossless, so PQ ≡ brute force
    val corpus = Tables.embeddings(spark, sf0001).limit(60).localCheckpoint()
    val queries = corpus.where(col("vec_id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3)
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 3, 2, 1, 64)
    assert(pq.exceptAll(exact).isEmpty && exact.exceptAll(pq).isEmpty,
      "with a perfect codebook PQ must equal the exact search")
  }

  test("ivfPqTopK: candidates confined to the query's cell, k rows, recall > 0") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = corpus.where(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 5, 25, 2, 64)
    // exactly k ranked rows per query, no self matches
    val perQ = got.groupBy("q_id").count().as[(Long, Long)].collect()
    assert(perQ.forall(_._2 == 5))
    assert(got.where(col("q_id") === col("neighbor_id")).count() == 0)
    // IVF leg: every returned neighbor must be a cell-mate — i.e. appear
    // in the plain IVF ranking when k covers the whole cell
    val cellMates = pairs(Similarity.ivfTopK(corpus, queries, "vec_id",
      "embedding", 10000, 25))
    assert(pairs(got).subsetOf(cellMates),
      "IVF-PQ returned a neighbor from outside the query's cell")
    // PQ leg: quantized scoring still finds some true neighbors
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val r = (pairs(got) & exact).size.toDouble / exact.size
    info(f"recall@5 ivfpq=$r%.3f")
    assert(r > 0.0)
  }

  test("ivfKmeansTopK with 0 Lloyd rounds ≡ seeded ivfTopK, bit for bit") {
    val corpus = Tables.embeddings(spark, sf0001)
    val queries = corpus.where(col("vec_id") % 50 === 0)
    val seeded = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, 25)
    val km0 = Similarity.ivfKmeansTopK(corpus, queries, "vec_id", "embedding", 5, 25, 0)
    assert(km0.exceptAll(seeded).count() == 0 && seeded.exceptAll(km0).count() == 0)
    assert(seeded.count() > 0)
  }

  test("knnClassify: perfect on separated clusters, tie to smallest label") {
    // two tight orthogonal clusters labeled 0/1: every vector's nearest
    // neighbors are its cluster-mates, so majority vote must recover the
    // label for every query
    val eps = 0.01f
    val rows = (0 until 6).map(i => (2L * i, Seq(1f, eps * i, 0f, 0f), 0)) ++
      (0 until 6).map(i => ((2L * i) + 1, Seq(eps * i, 1f, 0f, 0f), 1))
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(corpus, corpus, "vec_id", "embedding", "label", 3)
      .as[(Long, Int, Int)].collect()
    assert(got.length == 12 && got.forall(r => r._2 == r._3))
    // tie case: k=2 neighbors with distinct labels -> smallest label wins.
    // query 100 sits exactly between one 0-labeled and one 1-labeled
    // vector, with labels 7 and 3 -> prediction must be 3
    val tie = Seq(
      (1L, Seq(1f, 0f), 7), (2L, Seq(0f, 1f), 3),
      (100L, Seq(0.7071f, 0.7071f), 9)).toDF("vec_id", "embedding", "label")
    val pred = Similarity.knnClassify(tie, tie.where(col("vec_id") === 100),
      "vec_id", "embedding", "label", 2)
      .as[(Long, Int, Int)].collect().head
    assert(pred._3 == 3)
  }

  test("contrastiveTriplets: positive is the rank-1 cluster-mate, incomplete anchors drop") {
    val eps = 0.01f
    val rows = (0 until 6).map(i => (2L * i, Seq(1f, eps * i, 0f, 0f), 0)) ++
      (0 until 6).map(i => ((2L * i) + 1, Seq(eps * i, 1f, 0f, 0f), 1)) :+
      (100L, Seq(-1f, 0f, 0f, 0f), 9) // unique label: no positive exists
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.contrastiveTriplets(corpus, corpus,
      "vec_id", "embedding", "label", 13)
      .as[(Long, Long, Int, Long, Int)].collect().map(r => r._1 -> r).toMap
    val lbl = rows.map(r => r._1 -> r._3).toMap
    // every clustered anchor forms a triplet whose positive is its
    // nearest neighbor (rank 1, same cluster) and whose negative carries
    // a different label at a worse-or-equal... strictly later rank
    (0 until 12).foreach { i =>
      val t = got(i.toLong)
      assert(t._3 == 1 && lbl(t._2) == lbl(i.toLong), s"anchor $i positive $t")
      assert(lbl(t._4) != lbl(i.toLong) && t._5 > t._3, s"anchor $i negative $t")
    }
    // the unique-label anchor has no same-label neighbor -> dropped
    assert(!got.contains(100L))
  }

  test("centroidCosines: orthogonal equal clusters land at 1/sqrt(2)") {
    // two labels, each a pure axis vector repeated 3x: global sum =
    // (3G, 3G), each label sum = (3G, 0) -> cos = 1/sqrt(2) exactly
    val emb = (Seq.fill(3)((Seq(1f, 0f), 0)) ++ Seq.fill(3)((Seq(0f, 1f), 1)))
      .toDF("embedding", "label")
    val got = Similarity.centroidCosines(emb, "embedding", "label")
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(0)._2 == 3L && got(1)._2 == 3L)
    val expected = math.floor(1.0 / math.sqrt(2.0) * 1e6 + 0.5) / 1e6
    assert(got(0)._3 == expected && got(1)._3 == expected, s"got $got")
    // degenerate single label: its centroid IS the global centroid
    val lone = Seq((Seq(0.3f, -0.2f), 5), (Seq(0.1f, 0.9f), 5))
      .toDF("embedding", "label")
    val one = Similarity.centroidCosines(lone, "embedding", "label")
      .as[(Int, Long, Double)].collect().head
    assert(one._3 == 1.0)
  }

  test("firstRelevantRank: 1 on separated clusters, 0 for a unique label") {
    val eps = 0.01f
    val rows = (0 until 6).map(i => (2L * i, Seq(1f, eps * i, 0f, 0f), 0)) ++
      (0 until 6).map(i => ((2L * i) + 1, Seq(eps * i, 1f, 0f, 0f), 1)) :+
      (100L, Seq(-1f, 0f, 0f, 0f), 9) // label 9 appears exactly once
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.firstRelevantRank(corpus, corpus,
      "vec_id", "embedding", "label", 3)
      .as[(Long, Int)].collect().toMap
    // every clustered vector's nearest neighbor is a cluster-mate
    assert((0 until 12).forall(i => got(i.toLong) == 1))
    // the lone label-9 query has no same-label neighbor anywhere
    assert(got(100L) == 0)
  }

  test("Lloyd refinement fixes a bad seeded init on CLUSTERED data") {
    // two tight orthogonal clusters; ids arranged so the seeded pick
    // (every 6th id -> 0 and 6) lands BOTH centroids in cluster A. The
    // seeded quantizer then splits cluster A across its two near-equal
    // cells; two Lloyd rounds must re-separate the cells onto the true
    // clusters, putting every query's same-cluster neighbors back in its
    // cell — the recall lift k-means exists for.
    val eps = 0.01f
    val rows = (0 until 6).map(i => (2L * i, Seq(1f, eps * i, 0f, 0f))) ++
      (0 until 6).map(i => ((2L * i) + 1, Seq(eps * i, 1f, 0f, 0f)))
    val corpus = rows.toDF("vec_id", "embedding")
    def recall(df: org.apache.spark.sql.DataFrame, exact: Set[(Long, Long)]): Double = {
      val p = df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (p & exact).size.toDouble / exact.size
    }
    val exact = Similarity.bruteForceTopK(corpus, corpus, "vec_id", "embedding", 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rSeeded = recall(Similarity.ivfTopK(corpus, corpus, "vec_id", "embedding", 3, 6), exact)
    val rKmeans = recall(Similarity.ivfKmeansTopK(corpus, corpus, "vec_id", "embedding", 3, 6, 2), exact)
    info(f"clustered recall@3 seeded=$rSeeded%.3f kmeans=$rKmeans%.3f")
    assert(rSeeded < 1.0, "init must actually be bad for this test to bite")
    assert(rKmeans == 1.0, f"refined cells should align with the true clusters, recall=$rKmeans%.3f")
  }

  test("semanticDedupPairs: embcos ∩ cluster-mates, exact within a cell") {
    val corpus = Tables.embeddings(spark, sf0001)
    val sem = Similarity.semanticDedupPairs(corpus, "vec_id", "embedding", 25, 2, 0.4)
    val brute = Dedup.embeddingCosinePairs(corpus, "vec_id", "embedding", 0.4)
      .select("vec_a", "vec_b", "cos_r")
    // every semantic pair is a brute-force pair with the identical
    // rounded cosine (clustering prunes candidates, never rescores)
    assert(sem.select("vec_a", "vec_b", "cos_r").exceptAll(brute).isEmpty,
      "semantic pair absent from (or rescored vs) the brute-force set")
    // and within any single cell the pruning loses NOTHING: brute pairs
    // whose two sides landed in the same cell are all present
    val cells = Similarity.semanticDedupPairs(corpus, "vec_id", "embedding", 25, 2, -1.0)
      .select("vec_a", "vec_b") // tau=-1: every cluster-mate pair
    val cellMates = brute.join(cells, Seq("vec_a", "vec_b"), "left_semi")
    assert(cellMates.exceptAll(sem.select("vec_a", "vec_b", "cos_r")).isEmpty,
      "a same-cell brute pair above tau is missing from the semantic set")
    // one coarse cell (only vec_id 0 seeds) degenerates to brute force
    val one = Similarity.semanticDedupPairs(corpus, "vec_id", "embedding", 100000, 0, 0.4)
      .select("vec_a", "vec_b", "cos_r")
    assert(one.exceptAll(brute).isEmpty && brute.exceptAll(one).isEmpty,
      "single-cell semantic dedup must equal the brute-force pair set")
  }

  test("quantizeInt8: error bounded by scale/2, saturation at the max component") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    assert(got.count() == emb.count())
    // round-half-up quantization cannot err more than half a grid step
    // (rounded-to-6 columns: allow the rounding slack)
    val bad = got.where(col("max_err") > col("scale") / 2 + 1e-6).count()
    assert(bad == 0, s"$bad vectors exceed the half-step error bound")
    // the max-|component| of every vector lands exactly on +/-127
    assert(got.where(col("n_saturated") < 1).count() == 0)
  }

  test("langId: marker argmax with priority tiebreak") {
    val df = Seq(
      ("join scan table x", "sqlish"),
      ("stream window batch", "streamish"),
      ("hash dup key", "mlish"),
      ("x y z", "unk"),
      ("join stream", "sqlish") // tie -> earlier class wins
    ).toDF("text", "expect")
    val got = df.select(TextAnalysis.langId(col("text")).as("p"), col("expect"))
      .as[(String, String)].collect()
    got.foreach { case (p, e) => assert(p == e, s"got $p want $e") }
  }

  test("fingerprint: equal texts collide, different texts don't") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "d c b a"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("bigramLogProb: corpus-model average log-probability, hand-checked") {
    // C(a b)=2, C(b a)=1, C(a c)=1; prefixes C(a ·)=3, C(b ·)=1
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc1: avg(ln(2/3), ln(1/1), ln(2/3)); doc2: ln(1/3); doc3: no bigrams
    assert(got(1L) == (3L, BigDecimal(2 * math.log(2.0 / 3) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got(2L) == (1L, BigDecimal(math.log(1.0 / 3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(!got.contains(3L))
  }

  test("QualityAggregator: typed weighted mean, map-side partials merge") {
    import graft.functions.QualityAggregator
    val ds = Seq((0.8, 10L), (0.4, 30L), (1.0, 0L)).toDS()
      .repartition(3) // force merge() across partials
    val got = ds.select(QualityAggregator.toColumn).collect().head
    assert(math.abs(got - (0.8 * 10 + 0.4 * 30) / 40.0) < 1e-12)
  }

  test("ndcg: dcg bounded by idcg, scores in [0,1], brute evaluates every query") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("ext_ann_ndcg")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.map(_._1).toSet == Set("brute", "ivf", "lsh"))
    // DCG can never exceed the ideal ordering's DCG
    assert(out.forall(r => r._3 <= r._4), s"dcg > idcg: ${out.mkString(", ")}")
    assert(out.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
    // brute force retrieves k neighbors for every query, so it scores all
    val nQ = Tables.embeddings(spark, sf0001)
      .where(col("vec_id") % 50 === 0).count()
    assert(out.find(_._1 == "brute").get._2.toLong == nQ)
  }

  test("matryoshka recall: valid range, all dims evaluated, full-prefix ≡ truth") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("ext_ann_matryoshka")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(out.map(_._1).toSet == Set("dim8", "dim16", "dim32"))
    assert(out.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    // the invariant a truncation bug would break: slicing to the FULL
    // dimension is the identity, so its recall against the full-dim
    // truth must be exactly 1.0
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.where(col("vec_id") % 50 === 0)
    def full(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", slice(col("embedding"), 1, 64))
    val r = operators.Similarity.recallAtK(
      operators.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
      Seq("dim64" -> operators.Similarity.bruteForceTopK(full(emb), full(q),
        "vec_id", "embedding", 5)), 5)
      .collect().head
    assert(r.getDouble(3) == 1.0, s"full-prefix recall must be 1.0, got $r")
  }

  test("random-projection recall: all dims evaluated, recalls valid, every query scored") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("ext_ann_randproj")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(out.map(_._1).toSet == Set("proj8", "proj16", "proj32"))
    assert(out.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    // the JL projection maps every vector to a dense p-dim point, so
    // (unlike a bucketed method) each projected search still ranks the
    // whole corpus and every query must contribute k scored neighbors
    val nQ = Tables.embeddings(spark, sf0001)
      .where(col("vec_id") % 50 === 0).count().toInt
    assert(out.forall(_._2 == nQ), s"all queries must be scored: $nQ vs ${out.toSeq}")
  }

  test("multimodal decode: real binary plumbing, deterministic stub") {
    val df = Seq((7L, "abc")).toDF("doc_id", "text")
    val got = Multimodal.decodeFeatures(Multimodal.withPayload(df, "doc_id", "text"))
      .collect().head
    assert(got.getLong(0) == 7L)
    assert(got.getInt(1) == 3) // byte_len
    assert(got.getLong(5) == ('a' + 'b' + 'c').toLong) // checksum
    // schema is the declared typed struct
    assert(Multimodal.decodeFeatures(Multimodal.withPayload(df, "doc_id", "text"))
      .schema == Multimodal.DecodedSchema)
  }

  test("mmrTopK: an exact duplicate of pick 1 is deferred behind the diverse result") {
    import spark.implicits._
    // corpus: a and b are the SAME direction as the query (rel = 1,
    // sim(a,b) = 1); c is 45° off (rel ≈ .707). Pure relevance ranks
    // a, b, c — MMR with diversity-heavy weights must pick a, then c
    // (the duplicate's redundancy penalty exceeds c's relevance gap),
    // then b.
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)), // same direction as 1, different norm
      (3L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .mmrTopK(corpus, queries, "vec_id", "embedding",
        cands = 3, rounds = 3, lambda = 0.3, mu = 0.7)
      .orderBy("pick")
      .select("pick", "selected_id").as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("deleteFromIvfIndex: touched cells rewritten, emptied cell dir removed, rest untouched") {
    val path = s"${sys.props("java.io.tmpdir")}/graft_ivf_delspec"
    Similarity.writeIvfIndex(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", centroidEvery = 25, path)
    val before = spark.read.parquet(s"$path/cells")
      .select("vec_b", "cell").as[(Long, Long)].collect()
    val cells = before.map(_._2).distinct.sorted
    val victim = cells.head
    val untouched = cells.last
    def files(cell: Long): Set[String] = {
      val d = new java.io.File(s"$path/cells/cell=$cell")
      if (!d.exists) Set.empty
      else d.listFiles.map(f => f.getName + ":" + f.lastModified).toSet
    }
    val untouchedBefore = files(untouched)
    // tombstone EVERY member of the victim cell plus one vector from
    // the untouched... no — untouched must stay untouched; pick a second
    // partial cell instead
    val partial = cells(1)
    val partialMembers = before.filter(_._2 == partial).map(_._1).sorted
    val tomb = before.filter(_._2 == victim).map(_._1).toSeq :+
      partialMembers.head
    val tombstones = tomb.toDF("vec_id")
    // one map-only census job and the rewrite (its rebalance's
    // shuffle-map job and the write); the local tombstone batch is
    // collected with no job and ships as a literal set, so no checkpoint
    // and no broadcast build
    val jobs = jobsOf(Similarity.deleteFromIvfIndex(path, tombstones))._2
    assert(jobs <= 3, s"an erasure launched $jobs Spark jobs")
    val after = spark.read.parquet(s"$path/cells")
      .select("vec_b", "cell").as[(Long, Long)].collect()
    assert(!after.exists(r => tomb.contains(r._1)),
      "tombstoned vectors must be gone from the index")
    assert(!after.exists(_._2 == victim) && files(victim).isEmpty,
      "a fully-tombstoned cell's directory must be removed")
    assert(after.count(_._2 == partial) == partialMembers.length - 1,
      "a partially-tombstoned cell keeps its other members")
    assert(files(untouched) == untouchedBefore,
      "untouched cell partitions must not be rewritten (O(touched) deletes)")
    assert(after.length == before.length - tomb.length)
  }

  /** The parquet files of each cell directory of the IVF index at
    * `path`: cell → file name → the file's bytes. */
  private def cellFiles(path: String): Map[Long, Map[String, Seq[Byte]]] =
    new java.io.File(s"$path/cells").listFiles.toSeq
      .filter(_.getName.startsWith("cell=")).map { d =>
        d.getName.stripPrefix("cell=").toLong -> d.listFiles.toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      }.toMap

  // With openCostInBytes at maxPartitionBytes every file is a split of its
  // own, so a cell's files are counted by different census tasks, and the
  // tasks that read its live files see no dead row there.
  test("IVF erasure census: a cell whose files span several tasks is rewritten, an emptied one removed, the rest byte for byte") {
    val corpus = Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_census").toString
    spark.conf.set("spark.sql.files.openCostInBytes", spark.conf.get("spark.sql.files.maxPartitionBytes"))
    try {
      Similarity.writeIvfIndex(corpus.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding", 25, path)
      Seq(0, 3).foreach(r => Similarity.appendToIvfIndex(
        corpus.where(col("vec_id") % 6 === r), "vec_id", "embedding", path))
      // cell → file name → the ids it holds
      val held = spark.read.parquet(s"$path/cells")
        .select(col("vec_b"), col("cell").cast("long"),
          regexp_extract(input_file_name(), "[^/]*$", 0))
        .as[(Long, Long, String)].collect()
        .groupBy(_._2).map { case (c, rs) =>
          c -> rs.groupBy(_._3).map { case (f, fr) => f -> fr.map(_._1).toSet }
        }
      val multi = held.filter(_._2.size >= 2).keys.toSeq.sorted
      assert(multi.size >= 3, s"fixture: only ${multi.size} cells hold several files")
      val (partial, emptied) = (multi(0), multi(1))
      // every dead row of `partial` sits in one file; its others live
      val (deadFile, deadIds) = held(partial).toSeq.minBy(_._1)
      val liveIds = held(partial).values.flatten.toSet -- deadIds
      assert(liveIds.nonEmpty)
      val tomb = deadIds ++ held(emptied).values.flatten
      val before = cellFiles(path)
      assert(IndexRoute.GraftIndex(path).read(spark, "cells").rdd.getNumPartitions ==
        before.values.map(_.size).sum, "fixture: the census must read one file per task")
      Similarity.deleteFromIvfIndex(path, tomb.toSeq.toDF("vec_id"))
      val after = cellFiles(path)
      assert(!after.contains(emptied) && !new java.io.File(s"$path/cells/cell=$emptied").exists,
        "a cell whose rows were all dead, across several files, must be removed")
      val survivors = spark.read.parquet(s"$path/cells")
        .where(col("cell") === partial).select("vec_b").as[Long].collect().toSet
      assert(survivors == liveIds, s"cell $partial lost live rows (dead rows were in $deadFile)")
      assert(after(partial).keySet.intersect(before(partial).keySet).isEmpty,
        "the partially erased cell must be rewritten")
      assert(after - partial == before - partial - emptied,
        "untouched cells must keep their files byte for byte")
    } finally {
      spark.conf.unset("spark.sql.files.openCostInBytes")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("IVF file layout: an admission adds one file per cell it lands in, in two jobs; an erasure leaves one file per rewritten cell") {
    val corpus = Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_layout").toString
    def cellOf(ids: Set[Long]): Set[Long] = spark.read.parquet(s"$path/cells")
      .where(col("vec_b").isin(ids.toSeq: _*)).select(col("cell").cast("long"))
      .as[Long].collect().toSet
    try {
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", 25, path)
      assert(cellFiles(path).values.forall(_.size == 1), "a new index holds one file per cell")
      (0 until 5).foreach { n =>
        // what a serving caller sends: 100 local rows under fresh ids, which
        // the local scan spreads over four tasks
        val rows = corpus.where(col("vec_id") % 5 === n)
          .withColumn("vec_id", col("vec_id") + (n + 1) * 1000000L).collect()
        val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), corpus.schema)
        val before = cellFiles(path)
        val jobs = jobsOf(Similarity.appendToIvfIndex(batch, "vec_id", "embedding", path))._2
        // the first admission reads the centroids into the cache
        if (n > 0) assert(jobs <= 2, s"a warm admission launched $jobs Spark jobs")
        val landed = cellOf(rows.map(_.getAs[Long]("vec_id")).toSet)
        val added = cellFiles(path).map { case (c, fs) =>
          c -> (fs.size - before.getOrElse(c, Map.empty).size)
        }
        assert(added == added.keys.map(c => c -> (if (landed(c)) 1 else 0)).toMap,
          s"admission $n added files per cell: $added")
      }
      // erase half of the rows of three cells
      val stored = spark.read.parquet(s"$path/cells").select(col("vec_b"), col("cell").cast("long"))
        .as[(Long, Long)].collect().groupBy(_._2)
      val touched = stored.keys.toSeq.sorted.take(3)
      val tomb = touched.flatMap(c =>
        stored(c).map(_._1).sorted.zipWithIndex.collect { case (id, i) if i % 2 == 0 => id })
      val before = cellFiles(path)
      assert(touched.forall(before(_).size >= 2), "fixture: a touched cell holds a single file")
      Similarity.deleteFromIvfIndex(path, tomb.toDF("vec_id"))
      val after = cellFiles(path)
      touched.foreach(c => assert(after(c).size == 1, s"rewritten cell $c holds ${after(c).size} files"))
      assert(after -- touched == before -- touched, "untouched cells must keep their files")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("ext_emb_pca_project: labels partition the corpus, bounds bracket the mean") {
    val got = SparkEntry.queries("ext_emb_pca_project")(spark, sf0001)
      .as[(Int, Long, Double, Double, Double)].collect()
    assert(got.map(_._2).sum == Tables.embeddings(spark, sf0001).count(),
      "per-label projections must partition the corpus")
    got.foreach { case (label, _, mean, lo, hi) =>
      assert(lo <= mean + 1e-9 && mean <= hi + 1e-9,
        s"label $label: mean must sit within [min, max]")
    }
  }

  test("pcaTopComponent ≡ the same integer power iteration run sequentially") {
    val got = SparkEntry.queries("ext_emb_pca")(spark, sf0001)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.length == 64)
    // invariants: unit-norm loading, positive explained variance <= 1
    val norm = math.sqrt(got.map(r => r._3 * r._3).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"loading norm $norm")
    val share = got.head._5
    assert(got.forall(r => r._5 == share))
    assert(share > 0.0 && share <= 1.0 + 1e-9, s"ev_share $share")
    // exact driver recompute of the identical integer algorithm
    def truncDiv(a: Long, b: Long): Long =
      if (a < 0) -((-a) / b) else a / b
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val d = vecs.head._2.length
    val n = vecs.length.toLong
    val q = vecs.map(_._2.map(x => math.round(x.toDouble * 1e6)))
    val s = Array.tabulate(d)(i => q.map(_(i)).sum)
    val c = Array.tabulate(d, d) { (i, j) =>
      val sqq = q.map(row => row(i) * row(j)).sum
      truncDiv(n * sqq - s(i) * s(j), 100000000L)
    }
    var v = Array.fill(d)(1000000L)
    def matvec(vk: Array[Long]): Array[Long] =
      Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * vk(j)).sum)
    for (_ <- 1 to 8) {
      val m = matvec(v)
      val dv = math.max(m.map(math.abs).max / 1000000L, 1L)
      v = m.map(truncDiv(_, dv))
    }
    val expected = v.zipWithIndex.map { case (x, i) => i.toLong -> x }.toMap
    got.foreach { case (dim, vg, _, _, _) =>
      assert(vg == expected(dim), s"dim $dim: $vg vs ${expected(dim)}")
    }
    // and it is genuinely the dominant direction: Rayleigh of the result
    // strictly exceeds Rayleigh of the all-ones start
    def ray(u: Array[Long]): Double = {
      val m = matvec(u)
      u.zip(m).map { case (a, b) => a.toDouble * b }.sum /
        u.map(a => a.toDouble * a).sum
    }
    assert(ray(v) > ray(Array.fill(d)(1000000L)),
      "power iteration must improve on the start vector")
  }
}
