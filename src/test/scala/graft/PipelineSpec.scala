package graft

import java.nio.file.{Files, Path, Paths}

import graft.operators.{CustomerDimPipeline, Relational, Scd2}
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end invariants of the composed customer-dimension pipeline —
  * the "whole proc in one call" surface.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val out: CustomerDimPipeline.Outputs =
    CustomerDimPipeline.run(spark, sf0001)

  test("corpus clean funnel: observe() metrics match independent counts") {
    import graft.operators.{CorpusPipeline, Dedup, TextAnalysis}
    val docs = Tables.documents(spark, sf0001)
    val f = CorpusPipeline.cleanObserved(docs, "doc_id", "text", 0.7,
      Seq("sqlish", "streamish"), 16, 2, 0.8, Dedup.PolyHash)
    val nClean = f.cleaned.count()
    // the pipeline's own checkpoint action populated both observations —
    // no extra scan happened to produce these numbers
    val scored = f.scored.get.apply("n").asInstanceOf[Long]
    val kept = f.kept.get.apply("n").asInstanceOf[Long]
    assert(scored == docs.count())
    val keptDirect = docs
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .withColumn("l", TextAnalysis.langId(col("text")))
      .where(col("q") >= 0.7 && col("l").isin("sqlish", "streamish"))
      .count()
    assert(kept == keptDirect)
    assert(nClean > 0 && nClean <= kept) // dedup only ever removes
  }

  test("curation lineage: nested stages yield only masks {0,1,3,7,15}, funnel consistent") {
    import graft.operators.{CorpusPipeline, Dedup}
    val docs = Tables.documents(spark, sf0001)
    val lin = CorpusPipeline.lineage(docs, "doc_id", "text", 0.7,
        Seq("sqlish", "streamish"), 16, 2, 0.8, Dedup.PolyHash,
        lit(40), "|s1", "n_chars", 4000L, "|p1")
      .localCheckpoint()
    // one row per input document
    assert(lin.count() == docs.count())
    // nesting: the stage bits can only accumulate in order
    val masks = lin.groupBy("lineage").count()
      .as[(Int, Long)].collect().toMap
    assert(masks.keySet.subsetOf(Set(0, 1, 3, 7, 15)),
      s"unreachable mask present: ${masks.keySet -- Set(0, 1, 3, 7, 15)}")
    // funnel consistency vs the standalone clean: canonical docs (bit 1)
    // = clean() survivors
    val nClean = CorpusPipeline.clean(docs, "doc_id", "text", 0.7,
      Seq("sqlish", "streamish"), 16, 2, 0.8, Dedup.PolyHash).count()
    val nCanonical = lin.where((col("lineage").bitwiseAND(2)) === 2).count()
    assert(nCanonical == nClean, s"canonical $nCanonical != clean $nClean")
    // sampled (bit 2) respects the per-stratum quota
    val perLang = lin.where((col("lineage").bitwiseAND(4)) === 4)
      .groupBy("pred_lang").count().as[(String, Long)].collect()
    assert(perLang.nonEmpty && perLang.forall(_._2 <= 40))
  }

  test("upsert image keeps exactly one row per customer") {
    val n = Tables.customer(spark, sf0001).count()
    assert(out.upsertImage.count() == n)
    assert(out.upsertImage.select("cust_id").distinct().count() == n)
  }

  test("insert image ∩ matched customers = ∅ and ∪ = all customers") {
    val matched = Tables.orders(spark, sf0001)
      .where(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().count()
    val total = Tables.customer(spark, sf0001).count()
    assert(out.insertImage.count() == total - matched)
  }

  test("history delta: one expired + one new-current per changed key") {
    val perKey = out.histDelta.groupBy("cust_id")
      .agg(sum("is_current_record").as("cur"), count(lit(1)).as("n"))
    assert(perKey.where(col("cur") =!= 1 || col("n") =!= 2).count() == 0)
    // only BUILDING customers changed
    assert(out.histDelta.where(col("is_current_record") === 1)
      .where(col("mkt_segment") =!= "BLDG").count() == 0)
  }

  // ------------------------------------------------------------------
  // The customer-dimension refresh against its pre-materialization form

  /** The refresh as it was formulated before the staged snapshot was
    * materialized: three lazy frames over the staging files, each
    * re-deriving the snapshot, and change detection as the reference's
    * multiset difference (`exceptAll`, distinct keys, two inner joins).
    * The oracle the materialized, keyed-join `run` must match.
    */
  private def lazyRefresh(dir: String): Seq[(String, DataFrame)] = {
    def lts(s: String) = to_timestamp(lit(s))
    val (ts, cdate, histFrom) =
      ("2026-01-01 00:00:00", "2023-06-15 00:00:00", "2020-01-01 00:00:00")
    val ord = Tables.orders(spark, dir)
    val acctCounts = Relational.groupCount(ord, "o_custkey", "acct_count")
    val latest = Relational.latestPerKey(ord, "o_custkey", "o_orderkey")
      .select(col("o_custkey").as("__k"), col("o_orderdate").as("latest_order_date"))
    val staged = Tables.customer(spark, dir)
      .select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"),
        col("c_mktsegment").as("mkt_segment"), col("c_acctbal").as("acct_bal"))
      .join(acctCounts, col("cust_id") === col("o_custkey"), "left").drop("o_custkey")
      .join(latest, col("cust_id") === col("__k"), "left").drop("__k")
    val newSnap = staged.withColumn("mkt_segment",
      when(col("mkt_segment") === "BUILDING", "BLDG").otherwise(col("mkt_segment")))
    val dim = staged.withColumn("etl_date", lts(histFrom))
    val hist = staged
      .withColumn("effective_from_date", lts(histFrom))
      .withColumn("is_current_record", lit(1))
    val upsert = Scd2.keyedUpsert(dim,
        newSnap.select(col("cust_id"), col("mkt_segment").as("mkt_segment_new")),
        Seq("cust_id"), Map("mkt_segment" -> "mkt_segment_new"))
      .withColumn("etl_date", lts(ts))
    val insert = Scd2.antiInsert(newSnap,
        ord.where(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("cust_id")),
        Seq("cust_id"))
      .withColumn("etl_date", lts(ts))
    val changedKeys = Scd2.changedRows(newSnap, staged,
        Seq("cust_id", "cust_name", "mkt_segment", "acct_bal"))
      .select("cust_id").distinct()
    val udate = coalesce(col("latest_order_date"), lts(cdate))
    val expired = hist.join(changedKeys, Seq("cust_id"), "inner")
      .withColumn("effective_to_date", udate)
      .withColumn("is_current_record", lit(0))
      .withColumn("sys_effective_to_date", lts(ts))
      .withColumn("etl_date", lts(ts))
    val newCurrent = newSnap.join(changedKeys, Seq("cust_id"), "inner")
      .withColumn("effective_from_date", udate)
      .withColumn("effective_to_date", lit(null).cast("timestamp"))
      .withColumn("is_current_record", lit(1))
      .withColumn("sys_effective_from_date", lts(ts))
      .withColumn("sys_effective_to_date", lit(null).cast("timestamp"))
      .withColumn("etl_date", lts(ts))
    Seq("upsert" -> upsert, "insert" -> insert,
      "delta" -> expired.unionByName(newCurrent, allowMissingColumns = true))
  }

  private def outputs(o: CustomerDimPipeline.Outputs): Seq[(String, DataFrame)] =
    Seq("upsert" -> o.upsertImage, "insert" -> o.insertImage, "delta" -> o.histDelta)

  /** Same schema, and equal as multisets: `exceptAll` both ways. */
  private def assertSameRows(name: String, got: DataFrame, want: DataFrame): Unit = {
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(fields(got) == fields(want), s"$name schema")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$name rows differ from the lazy formulation")
  }

  /** Writes `o`'s three outputs under `dir` as the nightly job does, and
    * reads them back. */
  private def written(o: CustomerDimPipeline.Outputs, dir: String): Seq[(String, DataFrame)] =
    outputs(o).map { case (name, df) =>
      Sources.writeParquetTable(df, dir, s"dim_$name.parquet", replace = true)
      name -> Sources.readParquetTable(spark, dir, s"dim_$name")
    }

  private def withTempDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft_pipeline")
    try body(dir.toString)
    finally {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  private def copyStaging(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Seq("customer", "orders").foreach(t =>
      Files.copy(Paths.get(s"$from/$t.parquet"), Paths.get(s"$to/$t.parquet")))
  }

  /** Writes a staging pair under `dir` from SQL VALUES rows:
    * `customers` as (k, name, bal, seg), `orders` as (ok, ck, st, d, pr).
    */
  private def writeStaging(dir: String, customers: String, orders: String): Unit = {
    spark.sql(
      s"""SELECT CAST(k AS BIGINT) AS c_custkey, name AS c_name,
         |       CAST(k % 5 AS INT) AS c_nationkey, CAST(bal AS DOUBLE) AS c_acctbal,
         |       seg AS c_mktsegment
         |FROM VALUES $customers AS t(k, name, bal, seg)""".stripMargin)
      .write.parquet(s"$dir/customer.parquet")
    spark.sql(
      s"""SELECT CAST(ok AS BIGINT) AS o_orderkey, CAST(ck AS BIGINT) AS o_custkey,
         |       st AS o_orderstatus, CAST(ok * 10 AS DOUBLE) AS o_totalprice,
         |       CAST(d AS TIMESTAMP_NTZ) AS o_orderdate, pr AS o_orderpriority
         |FROM VALUES $orders AS t(ok, ck, st, d, pr)""".stripMargin)
      .write.parquet(s"$dir/orders.parquet")
  }

  /** A staging pair with a null c_name, null c_acctbal, a null segment, a
    * BUILDING customer with no orders (its udate falls back to cdate), a
    * BUILDING customer with a null c_custkey, an order with a null key and
    * one for an unknown customer.
    */
  private def writeCraftedStaging(dir: String): Unit = writeStaging(dir,
    """(1, 'Customer#1', 100.5, 'BUILDING'),
      |(2, NULL,         50.0,  'BUILDING'),
      |(3, 'Customer#3', NULL,  'BUILDING'),
      |(4, 'Customer#4', 20.0,  'BUILDING'),
      |(5, NULL,         NULL,  'AUTOMOBILE'),
      |(6, 'Customer#6', 7.25,  NULL),
      |(7, 'Customer#7', -3.0,  'HOUSEHOLD'),
      |(NULL, 'Customer#0', 9.5, 'BUILDING')""".stripMargin,
    """(10, 1,    'F', '1995-01-02 00:00:00', '1-URGENT'),
      |(11, 1,    'O', '1996-03-04 00:00:00', '2-HIGH'),
      |(12, 2,    'F', '1994-05-06 00:00:00', '3-MEDIUM'),
      |(13, 3,    'F', '1993-07-08 00:00:00', '1-URGENT'),
      |(14, 7,    'F', '1992-09-10 00:00:00', '2-HIGH'),
      |(15, NULL, 'F', '1997-11-12 00:00:00', '1-URGENT'),
      |(16, 99,   'O', '1998-01-01 00:00:00', '1-URGENT')""".stripMargin)

  /** A staging pair for the latest order's null-key semantics: two
    * BUILDING customers, one whose only order has a null o_orderkey and
    * one with a null-key order, later than any other, next to keyed ones.
    * The dense_rank's DESC NULLS LAST keeps the lone null-key order and
    * otherwise the largest key.
    */
  private def writeNullKeyStaging(dir: String): Unit = writeStaging(dir,
    """(21, 'Customer#21', 1.0, 'BUILDING'),
      |(22, 'Customer#22', 2.0, 'BUILDING')""".stripMargin,
    """(NULL, 21, 'O', '1994-02-03 00:00:00', '2-HIGH'),
      |(30,   22, 'F', '1995-04-05 00:00:00', '1-URGENT'),
      |(31,   22, 'O', '1993-06-07 00:00:00', '3-MEDIUM'),
      |(NULL, 22, 'O', '1999-08-09 00:00:00', '2-HIGH')""".stripMargin)

  test("refresh parity with the lazy formulation: sf0.001 and crafted nulls") {
    withTempDir { tmp =>
      val crafted = s"$tmp/crafted"
      writeCraftedStaging(crafted)
      val nullKeys = s"$tmp/null_keys"
      writeNullKeyStaging(nullKeys)
      for (dir <- Seq(sf0001, crafted, nullKeys)) {
        val o = CustomerDimPipeline.run(spark, dir)
        outputs(o).zip(lazyRefresh(dir)).foreach { case ((name, got), (_, want)) =>
          assertSameRows(s"$dir $name", got, want)
        }
        if (dir == crafted) {
          val delta = o.histDelta
          // the four BUILDING customers changed, null name / balance included
          assert(delta.select("cust_id").as[Long].collect().sorted.toSeq ==
            Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L))
          // no orders: the expiry and the new row's start fall back to cdate
          val noOrders = delta.where(col("cust_id") === 4)
            .select(coalesce(col("effective_to_date"), col("effective_from_date")).cast("string"))
            .as[String].collect().toSeq
          assert(noOrders == Seq("2023-06-15 00:00:00", "2023-06-15 00:00:00"))
          // a null-key customer matches no update: it keeps its segment
          assert(o.upsertImage.where(col("cust_id").isNull).select("mkt_segment")
            .as[String].collect().toSeq == Seq("BUILDING"))
        }
        if (dir == nullKeys) {
          // the lone null-key order is the latest; next to keyed orders
          // the largest key is, however late the null-key one
          val latest = o.upsertImage.select(col("cust_id"), col("latest_order_date").cast("string"))
            .as[(Long, String)].collect().toMap
          assert(latest == Map(21L -> "1994-02-03 00:00:00", 22L -> "1993-06-07 00:00:00"))
          assert(o.insertImage.select("cust_id").as[Long].collect().toSeq == Seq(21L))
        }
        o.release()
      }
    }
  }

  test("lost staging blocks: the outputs recompute from lineage") {
    withTempDir { tmp =>
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val o = CustomerDimPipeline.run(spark, sf0001)
      val ids = sc.getPersistentRDDs.keySet -- before
      assert(ids.size == 1, s"one persisted staging RDD expected, got $ids")
      val id = ids.head
      val master = org.apache.spark.SparkEnv.get.blockManager.master
      def blocks = master.getMatchingBlockIds({
        case org.apache.spark.storage.RDDBlockId(rdd, _) => rdd == id
        case _ => false
      }, askStorageEndpoints = true)
      assert(blocks.nonEmpty, "the staged rows are materialized when run returns")
      master.removeRdd(id, blocking = true)
      assert(blocks.isEmpty, "blocks still stored")
      written(o, tmp).zip(lazyRefresh(sf0001)).foreach { case ((name, got), (_, want)) =>
        assertSameRows(name, got, want)
      }
      o.release()
    }
  }

  test("a second run reads the changed staging files, and nothing is cached") {
    withTempDir { tmp =>
      val staging = s"$tmp/staging"
      copyStaging(sf0001, staging)
      val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      val first = CustomerDimPipeline.run(spark, staging)
      assert(cacheManager.isEmpty)
      val firstDelta = written(first, s"$tmp/out1").toMap.apply("delta").count()
      // every other customer moves into the segment the refresh re-labels
      Tables.customer(spark, sf0001)
        .withColumn("c_mktsegment", when(col("c_custkey") % 2 === 0, lit("BUILDING"))
          .otherwise(col("c_mktsegment")))
        .write.mode("overwrite").parquet(s"$staging/customer.parquet")
      val second = CustomerDimPipeline.run(spark, staging)
      assert(cacheManager.isEmpty)
      val out = written(second, s"$tmp/out2")
      out.zip(lazyRefresh(staging)).foreach { case ((name, got), (_, want)) =>
        assertSameRows(name, got, want)
      }
      val building = Tables.customer(spark, staging)
        .where(col("c_mktsegment") === "BUILDING").count()
      assert(out.toMap.apply("delta").count() == 2 * building)
      assert(2 * building != firstDelta, "the changed set must change the delta")
      first.release(); second.release()
    }
  }

  test("one refresh reads the staging rows once, and release() frees them") {
    withTempDir { tmp =>
      val sc = spark.sparkContext
      val customers = Tables.customer(spark, sf0001).count()
      val orders = Tables.orders(spark, sf0001).count()
      val before = sc.getPersistentRDDs.keySet
      val (o, rows) = scannedRowsOf {
        val o = CustomerDimPipeline.run(spark, sf0001)
        written(o, tmp)
        o
      }
      // customer once, orders once by the one aggregate (the lazy
      // formulation scans 14,550 rows here, nearly nine times the 1,650
      // staging rows)
      assert(rows <= customers + orders,
        s"$rows staging rows read, bound ${customers + orders}")
      assert((sc.getPersistentRDDs.keySet -- before).size == 1)
      o.release()
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }

  test("one refresh plans one shuffle, and the delta reads the staged rows twice") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withTempDir { tmp =>
      val customers = Tables.customer(spark, sf0001).count()
      val (o, nodes) = executedNodesOf {
        val o = CustomerDimPipeline.run(spark, sf0001)
        written(o, tmp)
        o
      }
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      // the orders aggregate's, in the staging execution; a hash
      // aggregate, so nothing sorts
      assert(shuffles.size == 1, s"${shuffles.size} shuffles planned:\n${shuffles.mkString("\n")}")
      assert(!nodes.exists(_.isInstanceOf[SortExec]), "a refresh plan sorts")
      // the keyed join's two sides, once each: no branch re-runs the join
      val (_, records) = inputRecordsOf {
        Sources.writeParquetTable(o.histDelta, tmp, "dim_delta.parquet", replace = true)
      }
      assert(records > 0 && records <= 2 * customers,
        s"writing the delta read $records records, bound ${2 * customers}")
      o.release()
    }
  }
}
