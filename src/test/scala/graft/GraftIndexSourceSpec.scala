package graft

import graft.operators.Similarity
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The DataSourceV2 serving face of the persisted indexes
  * (sources/GraftIndexSource.scala): schema/row parity with the raw
  * parquet read, static partition-filter pushdown (directory pruning
  * visible as input-partition counts), V2 runtime filtering (the DPP
  * form a broadcast probe join plants), post-pruning statistics, the
  * zero-data-IO count path, and data filters as parquet pruning hints
  * under Spark's own vectorized reader (the one decode path).
  */
class GraftIndexSourceSpec extends SparkSpec {

  private def writeIndex(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_v2idx").toString
    Similarity.writeIvfIndex(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 25, dir)
    dir
  }

  private def v2(path: String) =
    spark.read.format("graft-index").load(path)

  test("row + schema parity with the raw parquet read (partitioned cells and flat cents)") {
    val dir = writeIndex()
    for (sub <- Seq("cells", "cents")) {
      val raw = spark.read.parquet(s"$dir/$sub")
      val got = v2(s"$dir/$sub").select(raw.columns.map(col): _*)
      assert(got.schema == raw.select(raw.columns.map(col): _*).schema,
        s"$sub schema diverges")
      assert(got.count() > 0)
      assert(got.exceptAll(raw).count() == 0 && raw.exceptAll(got).count() == 0,
        s"$sub rows diverge from the parquet read")
    }
  }

  test("static partition filter prunes directories; stats are post-pruning") {
    val dir = writeIndex()
    val all = v2(s"$dir/cells")
    val cells = all.select(col("cell").cast("long")).distinct().collect().map(_.getLong(0)).sorted
    assert(cells.length >= 3, "fixture must have several cells")
    val one = all.where(col("cell") === cells.head)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      val allScan = scanOf(all)
      val oneScan = scanOf(one)
      assert(oneScan.inputRDD.getNumPartitions < allScan.inputRDD.getNumPartitions,
        "cell = k must plan fewer input partitions than the full scan")
      // the pushed filter is enforced by pruning, not post-filtering:
      // rows still correct
      assert(one.select(col("cell").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSeq == Seq(cells.head))
      // post-pruning stats: the filtered relation reports fewer bytes
      val allBytes = all.queryExecution.optimizedPlan.stats.sizeInBytes
      val oneBytes = one.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(oneBytes < allBytes,
        s"pruned stats must shrink: $oneBytes !< $allBytes")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("count(*) over the v2 table decodes zero data pages (footer counts) and matches") {
    val dir = writeIndex()
    assert(v2(s"$dir/cells").count() ==
      spark.read.parquet(s"$dir/cells").count())
    // partition-only projection rides the same counting reader
    val perCell = v2(s"$dir/cells").groupBy("cell").count()
    val refCell = spark.read.parquet(s"$dir/cells").groupBy("cell").count()
    assert(perCell.exceptAll(refCell).count() == 0 &&
      refCell.exceptAll(perCell).count() == 0)
  }

  test("runtime filtering: a broadcast probe join prunes cells at execution (V2 DPP)") {
    val dir = writeIndex()
    val corp = v2(s"$dir/cells")
    val cells = corp.select(col("cell").cast("long")).distinct().collect().map(_.getLong(0)).sorted
    // a tiny probe frame hitting ONE cell, joined on the partition
    // column AT THE SCAN'S TYPE — a mismatched key type puts a Cast on
    // the scan side, and the V2 runtime-filter translation drops on
    // casts (the round-10 probe fix aligns the operator the same way)
    import spark.implicits._
    // PartitionPruning only plants the subquery when the probe side is
    // FILE-BACKED and carries a selective comparison predicate (the
    // real ANN probes do: queries are a filtered slice of the corpus) —
    // and the join key must be AT THE SCAN'S TYPE: a mismatch puts a
    // Cast on the scan side, which the V2 runtime-filter translation
    // drops (the round-10 probe fix aligns the operator the same way)
    val probe = spark.read.parquet(s"$dir/cents")
      .where(col("cent_id") === cells.head)
      .select(col("cent_id").cast(corp.schema("cell").dataType).as("cell"))
    val joined = corp.join(broadcast(probe), Seq("cell"))
    val rows = joined.count()
    assert(rows > 0 && rows < corp.count(),
      "probe join must select a strict subset")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fresh = corp.join(broadcast(probe), Seq("cell"))
      val plan = fresh.queryExecution.executedPlan
      val scan = plan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.scan.isInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering],
        "scan must advertise runtime filtering")
      // the planner must actually PLANT the dynamic-pruning filter on
      // the scan (an interface-only pin missed the cast regression)...
      assert(scan.runtimeFilters.nonEmpty,
        s"DPP filter missing from the scan:\n$plan")
      // ...and at execution the translated filter must PRUNE. The scan
      // reports KeyGroupedPartitioning, so Spark pads pruned groups back
      // as EMPTY partitions to honor the advertised partitioning — the
      // pruning is visible in the FILES each split carries, not the
      // split count. (collect() drives THIS plan instance, so its DPP
      // subquery runs before the scan's partitions are planned.)
      assert(fresh.collect().nonEmpty)
      def filesOf(b: BatchScanExec): Long = b.inputRDD.partitions.map {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions.map {
            case k: graft.sources.GraftIndexInputPartition => k.files.size.toLong
            case pk: graft.sources.GraftIndexPackedPartition => pk.files.size.toLong
            case _ => 0L
          }.sum
        case _ => 0L
      }.sum
      val fullScan = corp.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(filesOf(scan) < filesOf(fullScan) && filesOf(scan) > 0,
        s"runtime filter did not prune files: ${filesOf(scan)} vs ${filesOf(fullScan)}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("data filters are pruning hints: Spark re-filters above, rows exact") {
    val dir = writeIndex()
    val raw = spark.read.parquet(s"$dir/cells")
    val someId = raw.select(min(col("vec_b"))).collect().head.getLong(0)
    val got = v2(s"$dir/cells").where(col("vec_b") === someId)
    val ref = raw.where(col("vec_b") === someId)
    assert(got.count() == ref.count() && got.count() > 0)
    assert(got.select("vec_b", "vb", "nb").exceptAll(ref.select("vec_b", "vb", "nb")).count() == 0)
    // pushFilters claims PARTITION filters only: the data leg goes back
    // to Spark, and pushedFilters() reports the partition leg alone
    import org.apache.spark.sql.sources.{EqualTo => SEq, IsNotNull => SIsNotNull}
    def builder() = new graft.sources.GraftIndexTable(s"$dir/cells", raw.schema)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .asInstanceOf[graft.sources.GraftIndexScanBuilder]
    val cellF = SEq("cell", 0)
    val dataF = SEq("vec_b", someId)
    val b = builder()
    assert(b.pushFilters(Array(cellF, dataF)).toSeq == Seq(dataF))
    assert(b.pushedFilters().toSeq == Seq(cellF))
    assert(b.build().description().contains(s"dataFilterHints=[$dataF]"))
    // a bare IS NOT NULL (the constraint Spark infers beside every
    // comparison) goes back to Spark without becoming a hint
    val nn = builder()
    assert(nn.pushFilters(Array(SIsNotNull("vec_b"))).toSeq == Seq(SIsNotNull("vec_b")))
    assert(nn.build().description().contains("dataFilterHints=[]"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = got.queryExecution.executedPlan
      // Spark evaluates the equality above the scan
      val filters = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }
      assert(filters.exists(_.condition.references.exists(_.name == "vec_b")),
        s"data filters must stay with Spark:\n$plan")
      // ...and the scan still receives it as a pruning hint
      val scan = plan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.scan.description().contains("dataFilterHints=[") &&
        scan.scan.description().contains("vec_b"),
        s"data filter hint must be visible: ${scan.scan.description()}")
      // range shape too
      val rng = v2(s"$dir/cells").where(col("nb") > 0.0)
      assert(rng.count() == raw.where(col("nb") > 0.0).count())
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("`<>` pushdown (round-12): Not(EqualTo) claimed as And(IsNotNull, notEq) — nulls dropped, no re-filter, both lanes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ne").toString + "/t"
    spark.range(0, 1000).selectExpr("id",
      "CASE WHEN id % 7 = 0 THEN CAST(NULL AS LONG) ELSE id % 5 END AS g",
      "CAST(id % 3 AS STRING) AS s")
      .write.parquet(dir)
    val raw = spark.read.parquet(dir)
    // SQL semantics: `g <> 2` drops BOTH the 2s and the NULLs
    val ref = raw.where(col("g") =!= 2L)
    assert(ref.count() > 0 && ref.count() < raw.count())
    val got = spark.read.format("graft-index").load(dir).where(col("g") =!= 2L)
    assert(got.count() == ref.count())
    assert(got.where(col("g").isNull).count() == 0,
      "parquet's null-keeping notEq leaked through")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    // string comparand + compound: (s <> '1' AND g <> 2)
    val refC = raw.where(col("s") =!= "1" && col("g") =!= 2L)
    val gotC = spark.read.format("graft-index")
      .load(dir).where(col("s") =!= "1" && col("g") =!= 2L)
    assert(gotC.count() == refC.count() &&
      gotC.exceptAll(refC).count() == 0 && refC.exceptAll(gotC).count() == 0)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = spark.read.format("graft-index").load(dir)
        .where(col("g") =!= 2L)
      val plan = got.queryExecution.executedPlan
      assert(plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }.nonEmpty, s"<> must stay with Spark:\n$plan")
      val scan = plan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.scan.description().contains("Not(EqualTo(g,2"),
        s"<> must reach the scan as a hint: ${scan.scan.description()}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // per-file folding: a `<>` over a column some files LACK is constant
    // FALSE there (all-null column) — the evolved-set file is skipped
    // wholesale, and Spark's filter drops nothing else it shouldn't
    spark.range(0, 10).selectExpr("id + 10000 AS id")
      .write.mode("append").parquet(dir)
    val merged = spark.read.format("graft-index")
      .option("mergeSchema", "true").load(dir).where(col("g") =!= 2L)
    assert(merged.count() == ref.count(),
      "rows from the g-less file must NOT survive g <> 2")
  }

  test("NOT IN + string predicates (round-12): startsWith/endsWith/contains claimed on both lanes, nulls dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_str").toString + "/t"
    spark.range(0, 900).selectExpr("id",
      "CASE WHEN id % 11 = 0 THEN CAST(NULL AS STRING) " +
        "WHEN id % 3 = 0 THEN concat('click_', id % 7) " +
        "WHEN id % 3 = 1 THEN concat('view_', id % 7) " +
        "ELSE concat('purchase_', id % 7) END AS et",
      "CASE WHEN id % 13 = 0 THEN CAST(NULL AS LONG) ELSE id % 6 END AS g")
      .write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("startsWith", df => df.where(col("et").startsWith("click"))),
      ("endsWith", df => df.where(col("et").endsWith("_3"))),
      ("contains", df => df.where(col("et").contains("ase_"))),
      ("notIn", df => df.where(!col("g").isin(1L, 4L))),
      ("prefix+notIn", df => df.where(col("et").startsWith("view") &&
        !col("g").isin(2L))))
    for ((label, q) <- shapes) {
      val ref = q(raw)
      val got = q(spark.read.format("graft-index").load(dir))
      assert(ref.count() > 0 && got.count() == ref.count(),
        s"$label: ${got.count()} vs ${ref.count()}")
      assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
        s"$label rows diverge")
    }
    // Spark keeps the filters; the scan gets them as parquet hints
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = spark.read.format("graft-index").load(dir)
        .where(col("et").startsWith("click") && !col("g").isin(1L, 4L))
      val plan = got.queryExecution.executedPlan
      assert(plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }.nonEmpty, s"string/NOT-IN filters must stay with Spark:\n$plan")
      val scan = plan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.scan.description().contains("StringStartsWith") &&
        scan.scan.description().contains("Not(In(g"),
        scan.scan.description())
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("footer cache (round-12): repeated reads parse each footer once; a rewritten file never serves stale metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fcache").toString + "/t"
    spark.range(0, 1000).selectExpr("id", "id % 5 AS g").write.parquet(dir)
    def v = spark.read.format("graft-index").load(dir)
    def counters = (graft.sources.GraftFooterCache.hits.get,
      graft.sources.GraftFooterCache.misses.get)
    val (_, m0) = counters
    assert(v.where(col("g") === 2L).count() == 200)
    val (h1, m1) = counters
    assert(m1 > m0, "first touch must read footers")
    assert(v.where(col("g") === 2L).count() == 200)
    val (h2, m2) = counters
    assert(m2 == m1, s"second read must not re-parse footers ($m1 -> $m2)")
    assert(h2 > h1, "second read must hit the cache")
    // overwrite the table: new files, new metadata — the cache must not
    // serve the old footers (keyed by path+length+mtime; overwrites
    // write NEW part files, so even a same-length rewrite re-keys)
    spark.range(0, 400).selectExpr("id", "id % 5 AS g")
      .write.mode("overwrite").parquet(dir)
    assert(v.where(col("g") === 2L).count() == 80,
      "a rewritten table must serve fresh metadata, not cached footers")
  }

  test("aggregate pushdown: COUNT/MIN/MAX answer from footer stats, zero data decode") {
    val dir = writeIndex()
    val raw = spark.read.parquet(s"$dir/cells")
    val ref = raw.agg(count(lit(1)).cast("long").as("c"),
      min(col("vec_b")).as("mn"), max(col("vec_b")).as("mx"),
      min(col("nb")).as("mnd"), max(col("nb")).as("mxd")).collect().head
    // fresh frames INSIDE the AQE-off block: a collect() under AQE
    // wraps the cached executedPlan in AdaptiveSparkPlanExec, which
    // hides the scan from collectFirst
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = v2(s"$dir/cells").agg(count(lit(1)).cast("long").as("c"),
        min(col("vec_b")).as("mn"), max(col("vec_b")).as("mx"),
        min(col("nb")).as("mnd"), max(col("nb")).as("mxd"))
      val scan = got.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(scan.scan.description().contains("pushedAggregation=[") &&
        scan.scan.description().contains("COUNT(*)"),
        s"aggregation must be pushed: ${scan.scan.description()}")
      // the scan emits the partial-agg shape, not data rows
      assert(scan.scan.readSchema().length == 5,
        s"partial agg schema expected, got ${scan.scan.readSchema()}")
      assert(got.collect().head == ref)
      // refused (and still correct) when a data filter is pushed
      val filtered = v2(s"$dir/cells").where(col("nb") > 0.0)
        .agg(count(lit(1)).as("c"))
      val fScan = filtered.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(!fScan.scan.description().contains("COUNT"),
        "agg pushdown must be refused when data filters are pushed")
      assert(filtered.collect().head.getLong(0) ==
        raw.where(col("nb") > 0.0).count())
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("key-grouped partition reporting: cell-clustered aggregate skips the exchange") {
    val dir = writeIndex()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // sum() is NOT footer-pushable, so this rides the row scan — the
      // pure key-grouped-reporting lane (one split per cell directory)
      val agg = v2(s"$dir/cells").groupBy("cell")
        .agg(sum(col("nb")).as("sn"))
      val ref = spark.read.parquet(s"$dir/cells").groupBy("cell")
        .agg(sum(col("nb")).as("sn"))
      assert(agg.exceptAll(ref).count() == 0 && ref.exceptAll(agg).count() == 0)
      val shuffles = agg.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"cell-grouped aggregate must ride the reported KeyGroupedPartitioning:\n${agg.queryExecution.executedPlan}")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("grouped aggregate pushdown is COMPLETE: per-cell COUNT/MAX, zero aggregate, zero exchange") {
    val dir = writeIndex()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val agg = v2(s"$dir/cells").groupBy("cell")
        .agg(count(lit(1)).as("n"), max(col("vec_b")).as("mx"))
      val plan = agg.queryExecution.executedPlan
      val scan = plan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.scan.description().contains("pushedAggregation=[") &&
        scan.scan.description().contains("COUNT(*)"),
        s"grouped aggregation must push: ${scan.scan.description()}")
      assert(scan.scan.readSchema().fieldNames.head == "cell")
      // COMPLETE pushdown (round-10): every grouped split carries ALL
      // files of its group, so the reader folds them into one FINAL row
      // — Spark plans NO aggregate and NO exchange on top (the former
      // partial rows shuffled |files| rows because the pushdown
      // Project's aliases defeat KeyGroupedPartitioning propagation)
      assert(plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }.isEmpty, s"complete pushed aggregate must not shuffle:\n$plan")
      assert(plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isEmpty, s"complete pushed aggregate must not re-aggregate:\n$plan")
      val ref = spark.read.parquet(s"$dir/cells").groupBy("cell")
        .agg(count(lit(1)).as("n"), max(col("vec_b")).as("mx"))
      assert(agg.exceptAll(ref).count() == 0 && ref.exceptAll(agg).count() == 0)
      // an UNGROUPED aggregate stays PARTIAL (a complete answer would
      // serialize all footer IO into one split): Spark's final
      // aggregate still merges the per-file rows, values exact
      val tot = v2(s"$dir/cells").agg(count(lit(1)).as("n"), min(col("vec_b")).as("mn"))
      val totRef = spark.read.parquet(s"$dir/cells")
        .agg(count(lit(1)).as("n"), min(col("vec_b")).as("mn"))
      assert(tot.exceptAll(totRef).count() == 0 && totRef.exceptAll(tot).count() == 0)
      assert(tot.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty, "ungrouped pushdown stays partial — Spark's aggregate merges")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("limit pushdown: each split stops early, global limit stays correct") {
    val dir = writeIndex()
    val got = v2(s"$dir/cells").limit(7)
    assert(got.count() == 7)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fresh = v2(s"$dir/cells").limit(7)
      assert(fresh.collect().length == 7)
      // rows drawn from the real table (schema + values sane)
      val all = spark.read.parquet(s"$dir/cells")
      assert(fresh.join(all, Seq("vec_b"), "left_semi").count() == 7)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("storage-partitioned join: two key-grouped V2 reads join on cell with zero exchange") {
    val dir = writeIndex()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // per-cell summaries from two independent V2 scans of the stored
      // index — both report KeyGroupedPartitioning(cell), so the join
      // needs no shuffle at all (the SPJ production shape: stored-vs-
      // stored co-located joins at 100 TB)
      // sum() on both sides: NOT footer-pushable, so both lanes are row
      // scans riding the reported key grouping (the pushed-agg lane's
      // partial rows go through their own |files|-row exchange — tiny,
      // but this pin is about the row-scan shape)
      val a = v2(s"$dir/cells").groupBy("cell").agg(sum(col("nb")).as("sn"))
      val b = v2(s"$dir/cells").groupBy("cell").agg(sum(col("vec_b")).as("mx"))
      val joined = a.join(b, Seq("cell"))
      val refA = spark.read.parquet(s"$dir/cells").groupBy("cell")
        .agg(sum(col("nb")).as("sn"))
      val refB = spark.read.parquet(s"$dir/cells").groupBy("cell")
        .agg(sum(col("vec_b")).as("mx"))
      val ref = refA.join(refB, Seq("cell"))
      assert(joined.exceptAll(ref).count() == 0 &&
        ref.exceptAll(joined).count() == 0)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"cell-cell join of two key-grouped scans must not shuffle:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("split planning: plain reads bin-pack files Spark-style; SPJ mode plans key-grouped splits") {
    val dir = writeIndex()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def inputParts(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
          .get.inputRDD.partitions.flatMap {
            case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
              p.inputPartitions
            case _ => Nil
          }
      val nCells = spark.read.parquet(s"$dir/cells")
        .select("cell").distinct().count()
      assert(nCells > 8, "fixture needs many small cells for this pin")
      // bucketing OFF (the default): one split per partition directory
      // would just multiply task overhead — files bin-pack into
      // Spark-sized splits carrying PER-FILE partition values
      val packed = inputParts(v2(s"$dir/cells").select("vec_b", "cell"))
      assert(packed.forall(_.isInstanceOf[graft.sources.GraftIndexPackedPartition]),
        "plain reads must plan packed splits when SPJ mode is off")
      assert(packed.length < nCells,
        s"bin-packing must merge tiny files: ${packed.length} !< $nCells splits")
      // per-file partition constants stay exact across a mixed split
      val got = v2(s"$dir/cells").select("vec_b", "cell")
      val ref = spark.read.parquet(s"$dir/cells").select("vec_b", "cell")
      assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
        "packed splits must keep per-file partition values exact")
      // bucketing ON: key-grouped splits, one per partition directory
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val keyed = inputParts(v2(s"$dir/cells").select("vec_b", "cell"))
      assert(keyed.forall(_.isInstanceOf[graft.sources.GraftIndexInputPartition]),
        "SPJ mode must plan key-grouped splits")
      assert(keyed.length == nCells)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("binPack at 100 TB shapes: splits bounded by maxPartitionBytes, tiny files amortize to ~core count") {
    import graft.sources.{GraftIndexPackedPartition, GraftIndexScan}
    val openCost = 4L * 1024 * 1024      // Spark defaults
    val maxBytes = 128L * 1024 * 1024
    val order = Seq("cell" -> org.apache.spark.sql.types.IntegerType)
    def mk(n: Int, len: Long) = (0 until n).map(i =>
      (f"/idx/cell=${i % 64}/part-$i%05d.parquet", len,
        Map[String, Any]("cell" -> (i % 64))))
    def bytesOf(p: org.apache.spark.sql.connector.read.InputPartition,
        lens: Map[String, Long]) =
      p.asInstanceOf[GraftIndexPackedPartition].files
        .map { case (f, _, l, _) =>
          (if (l == graft.sources.GraftIndexRange.Whole) lens(f) else l) +
            openCost
        }.sum
    // the 100 TB shape: 4000 × 256 MB files — each SLICES into two
    // 128 MB byte ranges (round-12; Spark splits parquet files the same
    // way), so the plan is 8000 range splits, not 4000 whole-file tasks
    val big = mk(4000, 256L * 1024 * 1024)
    val bigSplits = GraftIndexScan.binPack(big, openCost, maxBytes, 1000, order)
    assert(bigSplits.length == 8000, s"${bigSplits.length}")
    val bigSlices = bigSplits.flatMap(
      _.asInstanceOf[GraftIndexPackedPartition].files)
    assert(bigSlices.forall(_._3 == maxBytes), "every slice is one cap-worth")
    // slices of one file tile it exactly: starts {0, 128 MB} per file
    assert(bigSlices.groupBy(_._1).forall { case (_, ss) =>
      ss.map(_._2).sorted.toSeq == Seq(0L, maxBytes) })
    // mid-size files pack several per split, every split under the cap
    val mid = mk(4000, 16L * 1024 * 1024)
    val midLens = mid.map(f => f._1 -> f._2).toMap
    val midSplits = GraftIndexScan.binPack(mid, openCost, maxBytes, 1000, order)
    assert(midSplits.forall(bytesOf(_, midLens) <= maxBytes),
      "no split may exceed maxPartitionBytes")
    assert(midSplits.length < 4000 && midSplits.length >= 4000 * 20 / 128,
      s"mid-size files must pack: ${midSplits.length} splits")
    // the tiny-file fixture shape: 81 × 100 KB files on 32 cores pack to
    // ~core-count splits (total/parallelism floor), not 81 tasks
    val tiny = mk(81, 100L * 1024)
    val tinySplits = GraftIndexScan.binPack(tiny, openCost, maxBytes, 32, order)
    assert(tinySplits.length <= 48 && tinySplits.length > 1,
      s"tiny files must amortize toward core count: ${tinySplits.length}")
    // Spark's exact close rule (accumulate len + openCost, close on
    // accumulated + NEXT len only): maxSplit = 332 MB/32 ≈ 10.4 MB
    // admits 3 × (100 KB + 4 MB) per bin → 27 bins — round-12's
    // close-on-(len + openCost) packed 2 per bin (41 bins), and the
    // extra tasks were the measured tiny-file full-projection gap
    assert(tinySplits.length == 27,
      s"tiny-file packing must mirror FilePartition: ${tinySplits.length}")
    // every file lands in exactly one split, partition values intact
    val placed = tinySplits.flatMap(
      _.asInstanceOf[GraftIndexPackedPartition].files)
    assert(placed.length == 81 && placed.map(_._1).distinct.length == 81)
    assert(placed.forall { case (f, _, _, pv) =>
      f.contains(s"cell=${pv("cell")}") })
    // deterministic: same inputs, same split plan
    val again = GraftIndexScan.binPack(tiny, openCost, maxBytes, 32, order)
    assert(tinySplits.toSeq == again.toSeq)
  }

  test("catalog face: CREATE TABLE USING graft-index gives the index a SQL name") {
    val dir = writeIndex()
    spark.sql("DROP TABLE IF EXISTS graft_ivf_cells")
    spark.sql(
      s"CREATE TABLE graft_ivf_cells USING `graft-index` LOCATION '$dir/cells'")
    try {
      val viaSql = spark.sql(
        "SELECT cell, count(*) AS n FROM graft_ivf_cells GROUP BY cell")
      val ref = spark.read.parquet(s"$dir/cells").groupBy("cell")
        .agg(count(lit(1)).as("n"))
      assert(viaSql.exceptAll(ref).count() == 0 &&
        ref.exceptAll(viaSql).count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_ivf_cells")
  }

  test("probe parity: probeIvfIndex through the V2 serving table ≡ parquet probe") {
    val dir = writeIndex()
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.where(col("vec_id") % 50 === 0)
    val viaParquet = Similarity.probeIvfIndex(dir, q, "vec_id", "embedding", 5)
    val viaV2 = Similarity.probeIvfIndexV2(dir, q, "vec_id", "embedding", 5)
    assert(viaV2.count() > 0)
    assert(viaV2.exceptAll(viaParquet).count() == 0 &&
      viaParquet.exceptAll(viaV2).count() == 0,
      "V2 probe must be row-identical to the parquet probe")
  }

  test("vectorized lane: projections, filtered scans and limits plan COLUMNAR; agg/count stay on their lanes") {
    val dir = writeIndex()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanExec(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      // pure projection (arrays included) → vectorized ColumnarBatch lane
      assert(scanExec(v2(s"$dir/cells").select("vec_b", "vb")).supportsColumnar,
        "a pure projection must take the vectorized lane")
      // partition pruning composes with the vectorized lane (pruning
      // selects files; decode is unchanged)
      assert(scanExec(v2(s"$dir/cells").where(col("cell") === 0)
          .select("vec_b")).supportsColumnar,
        "partition-pruned pure projections stay vectorized")
      // a DATA filter rides the vectorized lane too — its hint prunes
      // row groups, Spark's filter above keeps the rows exact
      assert(scanExec(v2(s"$dir/cells").where(col("vec_b") > 10L))
        .supportsColumnar, "filtered scans must stay vectorized")
      // ...and so does the limit wrapper (emission truncation)
      assert(scanExec(v2(s"$dir/cells").select("vec_b").limit(5))
        .supportsColumnar, "limit pushdown must stay vectorized")
      // a pushed footer aggregate decodes nothing → its own lane
      assert(!scanExec(v2(s"$dir/cells").groupBy().agg(count(lit(1)).as("n")))
        .supportsColumnar, "footer aggregates must not claim columnar")
      // zero-data-column zero-filter COUNT stays on the footer counter
      assert(!scanExec(v2(s"$dir/cells").select("cell"))
        .supportsColumnar, "partition-only projections ride the counting reader")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("vectorized filtered scans: row-lane-identical rows, scratch filter columns, row-group pruning") {
    val dir = writeIndex()
    val raw = spark.read.parquet(s"$dir/cells")
    val mid = raw.select(avg(col("vec_b"))).collect().head.getDouble(0).toLong
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanExec(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      // every hinted shape, vectorized ≡ spark.read.parquet
      val shapes = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _ > mid, _ <= mid, _ === mid, c => c.isin(mid, mid + 1, mid + 7),
        _.isNotNull)
      for (mk <- shapes) {
        val gotDf = v2(s"$dir/cells").where(mk(col("vec_b")))
        assert(scanExec(gotDf).supportsColumnar, "filtered scan must be columnar")
        val got = gotDf.collect()
        val refRaw = raw.where(mk(col("vec_b"))).collect()
        assert(got.length == refRaw.length,
          s"row counts diverge for $mk: ${got.length}/${refRaw.length}")
        assert(gotDf.exceptAll(raw.where(mk(col("vec_b")))).count() == 0)
      }
      // a filter column OUTSIDE the projection is read for Spark's
      // filter and projected away: rows exact, column absent from output
      val proj = v2(s"$dir/cells").where(col("vec_b") > mid).select("vb", "nb")
      assert(scanExec(proj).supportsColumnar)
      assert(proj.columns.toSeq == Seq("vb", "nb"))
      val projRef = raw.where(col("vec_b") > mid).select("vb", "nb")
      assert(proj.exceptAll(projRef).count() == 0 &&
        projRef.exceptAll(proj).count() == 0)
      // range + string-equality conjunction over a flat side table
      val cents = spark.read.parquet(s"$dir/cents")
      val someCent = cents.select(min("cent_id")).collect().head.getLong(0)
      val f2 = v2(s"$dir/cents").where(col("cent_id") >= someCent &&
        col("cn") > 0.0)
      assert(scanExec(f2).supportsColumnar)
      assert(f2.count() ==
        cents.where(col("cent_id") >= someCent && col("cn") > 0.0).count())
      // count(*) under a data filter: no agg pushdown, the scan reads
      // just the filter column
      val cnt = v2(s"$dir/cells").where(col("nb") > 0.0)
        .agg(count(lit(1)).as("n"))
      assert(cnt.collect().head.getLong(0) == raw.where(col("nb") > 0.0).count())
      // vectorized limit: exact count, rows drawn from the table
      val lim = v2(s"$dir/cells").select("vec_b", "vb").limit(9)
      assert(scanExec(lim).supportsColumnar)
      assert(lim.count() == 9)
      assert(lim.join(raw, Seq("vec_b"), "left_semi").count() == 9)
      // filter + limit compose on the lane
      val fl = v2(s"$dir/cells").where(col("vec_b") > mid).limit(3)
      assert(fl.collect().length ==
        math.min(3L, raw.where(col("vec_b") > mid).count()))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("columnar empty-projection edge: a file with NONE of the projected columns fills all-null rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emptyproj").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "x").repartition(1).write.parquet(dir)
    Seq(3L, 4L).toDF("id").repartition(1).write.mode("append").parquet(dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("x", org.apache.spark.sql.types.LongType)
    // select ONLY the column absent from the second file, no filters, no
    // limit: the columnar lane must fill 2 all-null rows off the footer
    // record count (no page reader exists for that file at all)
    val onlyX = spark.read.format("graft-index").schema(schema).load(dir)
      .select("x")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scan = onlyX.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(scan.supportsColumnar,
        "the empty-projection edge must ride the vectorized lane")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(onlyX.count() == 4)
    assert(onlyX.where(col("x").isNull).count() == 2)
    assert(onlyX.where(col("x").isNotNull).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(10L, 20L))
  }

  test("timestamp columns decode on both lanes (micros parity with spark.read.parquet)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ts").toString + "/t"
    val df = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-03-01 10:30:00.123456")),
        (2L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")),
        (3L, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("id", "ts")
    // whatever physical the session default writes (INT96 or INT64
    // micros) must round-trip; then pin the other physicals explicitly
    df.repartition(1).write.parquet(dir)
    val got = spark.read.format("graft-index").load(dir).select("id", "ts")
    val ref = spark.read.parquet(dir).select("id", "ts")
    assert(got.schema == ref.schema, "ts schema diverges")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "ts rows diverge")
    for (outType <- Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      val d2 = java.nio.file.Files.createTempDirectory(s"graft_ts_$outType")
        .toString + "/t"
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        if (outType == "INT96") "INT96" else outType)
      try {
        val src = if (outType == "TIMESTAMP_MILLIS")
          df.withColumn("ts", date_trunc("second", col("ts"))) else df
        src.repartition(1).write.parquet(d2)
        val got = spark.read.format("graft-index").load(d2).select("id", "ts")
        val ref = spark.read.parquet(d2).select("id", "ts")
        assert(got.exceptAll(ref).count() == 0 &&
          ref.exceptAll(got).count() == 0, s"$outType ts decode diverges")
      } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("vectorized lane: null/empty arrays, null elements, strings and booleans decode exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vec").toString + "/t"
    val crafted = Seq(
        (1L, "alpha", true, 7, 1.5f, Seq[Option[Double]](Some(1.5), None, Some(2.5))),
        (2L, null.asInstanceOf[String], false, 8, 2.5f, Seq.empty[Option[Double]]))
      .toDF("id", "s", "b", "i", "f", "xs")
      .unionByName(
        Seq((3L, "gamma", true, 9, 3.5f)).toDF("id", "s", "b", "i", "f")
          .withColumn("xs", lit(null).cast("array<double>")))
    crafted.repartition(1).write.parquet(dir)
    val got = v2(dir).select("id", "s", "b", "i", "f", "xs")
    val ref = spark.read.parquet(dir).select("id", "s", "b", "i", "f", "xs")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scan = got.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(scan.supportsColumnar, "this parity test must exercise the vectorized lane")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(got.count() == 3)
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "vectorized decode must be row-identical to spark.read.parquet on degenerate arrays")
  }

  test("evolved file sets: a column absent from a file reads as null; filters on it stay exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "x").repartition(1).write.parquet(dir)
    Seq(3L, 4L).toDF("id").repartition(1).write.mode("append").parquet(dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("x", org.apache.spark.sql.types.LongType)
    def evo = spark.read.format("graft-index").schema(schema).load(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("id", "x")
    // full-read parity with Spark's merged-schema view: absent x → null
    assert(evo.count() == 4)
    assert(evo.exceptAll(merged).count() == 0 &&
      merged.exceptAll(evo).count() == 0)
    // the x > 5 hint is a per-file CONSTANT FALSE where x is absent: the
    // filter must stay exact, not throw on the x-less footer
    assert(evo.where(col("x") > 5L).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // x IS NULL keeps exactly the x-less file's rows
    assert(evo.where(col("x").isNull).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    assert(evo.where(col("x").isNotNull).count() == 2)
    // projecting ONLY the absent column still yields the right row count
    assert(evo.select("x").count() == 4)
    assert(evo.select("x").where(col("x").isNull).count() == 2)
    // the mergeSchema read option infers the merged view WITHOUT an
    // explicit .schema(), exactly like spark.read.parquet's
    val opt = spark.read.format("graft-index")
      .option("mergeSchema", "true").load(dir)
    assert(opt.schema == merged.sparkSession.read
      .option("mergeSchema", "true").parquet(dir).schema)
    assert(opt.select("id", "x").exceptAll(merged).count() == 0 &&
      merged.exceptAll(opt.select("id", "x")).count() == 0)
    // ...and never collides with the unmerged cached view of the same path
    assert(spark.read.format("graft-index").load(dir).schema ==
      spark.read.parquet(dir).schema)
  }

  test("__HIVE_DEFAULT_PARTITION__ is a NULL partition value, not a planning-time crash") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nullpart").toString + "/t"
    Seq((1L, 5), (2L, 5), (7L, 9)).toDF("v", "cell")
      .write.partitionBy("cell").parquet(dir)
    // the directory Hive/Spark render for a null partition value
    Seq(3L).toDF("v").repartition(1)
      .write.parquet(s"$dir/cell=__HIVE_DEFAULT_PARTITION__")
    val t = v2(dir)
    val ref = spark.read.parquet(dir).select(t.columns.map(col): _*)
    assert(t.count() == 4)
    assert(t.exceptAll(ref).count() == 0 && ref.exceptAll(t).count() == 0)
    // IsNull / IsNotNull / EqualNullSafe are CLAIMED partition filters:
    // the pruner must match the null directory exactly
    assert(t.where(col("cell").isNull).select("v").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    assert(t.where(col("cell").isNotNull).count() == 3)
    assert(t.where(col("cell") <=> lit(null)).count() == 1)
    assert(t.where(col("cell") === 5).count() == 2)
    // a null comparand (legal SQL) is REJECTED by partPushable and
    // evaluated Spark-side: null never matches, no pruner NPE
    assert(t.where(col("cell").isin(5, null)).count() == 2)
    assert(t.where(col("cell") > 5).count() == 1, "null partition never matches a relational filter")
  }

  test("catalog face: indexes resolve by NAME — listTables, loadTable parity, read-only refusals") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    Similarity.writeIvfIndex(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 25, s"$root/ivf_a")
    spark.conf.set("spark.sql.catalog.graft_cat_t",
      classOf[graft.sources.GraftIndexCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat_t.root", root)
    // SHOW TABLES sees the index's sub-tables
    val listed = spark.sql("SHOW TABLES IN graft_cat_t.ivf_a")
      .select("tableName").collect().map(_.getString(0)).sorted
    assert(listed.toSeq == Seq("cells", "cents"), s"got ${listed.toSeq}")
    // loadTable: full row/schema parity with the path route
    val byName = spark.table("graft_cat_t.ivf_a.cells")
    val byPath = spark.read.format("graft-index").load(s"$root/ivf_a/cells")
      .select(byName.columns.map(col): _*)
    assert(byName.schema == byPath.schema)
    assert(byName.exceptAll(byPath).count() == 0 &&
      byPath.exceptAll(byName).count() == 0)
    // the same pushdown surfaces ride the catalog route: partition
    // pruning visible as a claimed filter with exact rows
    val one = spark.table("graft_cat_t.ivf_a.cells").where(col("cell") === 0)
    assert(one.count() ==
      spark.read.parquet(s"$root/ivf_a/cells").where(col("cell") === 0).count())
    // mutations refused: index lifecycle belongs to the writers
    val e = intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE graft_cat_t.ivf_a.extra (x BIGINT) USING `graft-index`")
    }
    assert(e.getMessage.contains("read-only"))
    // a missing table surfaces as Spark's standard not-found analysis
    // error (the catalog's NoSuchTableException, analyzer-wrapped)
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.table("graft_cat_t.ivf_a.nope").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("not"), missing.getMessage)
    // catalog-routed probe ≡ path-routed probe, row for row
    val q = Tables.embeddings(spark, sf0001).where(col("vec_id") % 50 === 0)
    val viaCat = Similarity.probeIvfIndexCatalog("graft_cat_t.ivf_a",
      q, "vec_id", "embedding", 5)
    val viaPath = Similarity.probeIvfIndex(s"$root/ivf_a", q,
      "vec_id", "embedding", 5)
    assert(viaCat.count() > 0)
    assert(viaCat.exceptAll(viaPath).count() == 0 &&
      viaPath.exceptAll(viaCat).count() == 0)
  }

  test("streaming read face: ordered replay of admissions ≡ batch state; streamed probe ≡ batch probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.writeIvfIndex(emb.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", 25, dir)
    val q = graft.streaming.IndexAdmissionStream.replay(spark,
      s"$dir/cells", "graft_admit_t")
    try {
      def streamed = spark.table("graft_admit_t")
      def batch = spark.read.parquet(s"$dir/cells")
        .select(streamed.columns.map(col): _*)
      // batch 1 (the initial write) replayed in full
      val n1 = streamed.count()
      assert(n1 == batch.count() && n1 > 0)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "replayed admissions must equal the batch read")
      // ADMISSION: the appended rows arrive as their own micro-batch
      Similarity.appendToIvfIndex(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", dir)
      q.processAllAvailable()
      val n2 = streamed.count()
      assert(n2 == batch.count() && n2 > n1,
        s"admission batch must arrive: $n1 -> $n2 vs ${batch.count()}")
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "the two admissions must replay as separate micro-batches")
      // streamed PROBE ≡ batch probe: the accumulated stream state is a
      // drop-in cells frame for the serving probe
      val probes = emb.where(col("vec_id") % 50 === 0)
      val viaStream = Similarity.probeIvfIndexFrames(
        spark.read.parquet(s"$dir/cents"), streamed,
        probes, "vec_id", "embedding", 5)
      val viaBatch = Similarity.probeIvfIndex(dir, probes,
        "vec_id", "embedding", 5)
      assert(viaStream.count() > 0)
      assert(viaStream.exceptAll(viaBatch).count() == 0 &&
        viaBatch.exceptAll(viaStream).count() == 0,
        "a probe over replayed admissions must equal the batch probe")
    } finally q.stop()
    // offsets are self-contained (restart replans from checkpointed
    // offsets alone) and survive hostile path characters
    val off = graft.sources.GraftIndexStreamOffset(
      Seq("/idx/cell=3/part-0.parquet", "/idx/we\"ird\\path.parquet"))
    assert(graft.sources.GraftIndexStreamOffset.fromJson(off.json()).json()
      == off.json(), "offset json must round-trip")
  }

  test("streaming read face: RESTART from checkpointed offsets replays only unseen admissions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ck").toString
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.writeIvfIndex(emb.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", 25, dir)
    val gotIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-index").load(s"$dir/cells")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("vec_b").collect().foreach(r => gotIds.add(r.getLong(0)))
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    }
    // run 1 drains the initial write, commits its offset to the WAL
    run()
    val wrote = emb.where(col("vec_id") % 3 =!= 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotIds.size == wrote.size &&
      wrote.forall(gotIds.contains),
      s"run 1 must drain the initial write: ${gotIds.size} vs ${wrote.size}")
    // admission lands while NO query is running
    Similarity.appendToIvfIndex(emb.where(col("vec_id") % 3 === 0),
      "vec_id", "embedding", dir)
    gotIds.clear()
    // run 2 RESTARTS from the checkpoint: the committed files must not
    // replay — only the admission arrives (deserializeOffset is the
    // code under test: the start offset comes from the WAL, the batch
    // is the set difference against a fresh listing)
    run()
    val appended = emb.where(col("vec_id") % 3 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotIds.size == appended.size &&
      appended.forall(gotIds.contains),
      s"restart must replay ONLY the admission: got ${gotIds.size} rows, " +
        s"expected ${appended.size} (a committed-file replay would inflate this)")
  }

  test("catalog DDL surface: SHOW NAMESPACES / DESCRIBE round-trip a two-index root, read-only refusals") {
    val root = java.nio.file.Files.createTempDirectory("graft_ddl").toString
    Similarity.writeIvfIndex(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 25, s"$root/ivf_one")
    Similarity.writeIvfIndex(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 50, s"$root/ivf_two")
    spark.conf.set("spark.sql.catalog.graft_ddl_t",
      classOf[graft.sources.GraftIndexCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ddl_t.root", root)
    // SHOW NAMESPACES: the index directories
    val ns = spark.sql("SHOW NAMESPACES IN graft_ddl_t")
      .select("namespace").collect().map(_.getString(0)).sorted
    assert(ns.toSeq == Seq("ivf_one", "ivf_two"), s"got ${ns.toSeq}")
    // DESCRIBE NAMESPACE carries the location
    val desc = spark.sql("DESCRIBE NAMESPACE EXTENDED graft_ddl_t.ivf_one")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.values.exists(_.contains("ivf_one")),
      s"namespace location must surface: $desc")
    // DESCRIBE TABLE surfaces the partition column of the cells table
    val dt = spark.sql("DESCRIBE TABLE graft_ddl_t.ivf_one.cells")
      .collect().map(_.getString(0))
    assert(dt.contains("cell"), s"got ${dt.toSeq}")
    assert(dt.contains("# Partition Information") &&
      dt.count(_ == "cell") >= 2, // once as a column, once under the section
      s"DESCRIBE must show the partitioning section: ${dt.toSeq}")
    // SQL-only consumer end-to-end: namespaces → tables → query
    val tables = spark.sql("SHOW TABLES IN graft_ddl_t.ivf_two")
      .select("tableName").collect().map(_.getString(0)).sorted
    assert(tables.toSeq == Seq("cells", "cents"))
    // namespace mutations refused; a missing namespace is a loud error
    assert(intercept[UnsupportedOperationException] {
      spark.sql("CREATE NAMESPACE graft_ddl_t.new_idx")
    }.getMessage.contains("read-only"))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SHOW TABLES IN graft_ddl_t.nope").collect()
    }
  }

  test("planning cost: schema resolution is one cached footer read, not a Spark planning, per index version") {
    val dir = writeIndex()
    val before = graft.sources.GraftIndexTable.footerInfers.get()
    val s1 = graft.sources.GraftIndexTable.inferSchema(s"$dir/cells")
    // the fast path must produce BYTE-FOR-BYTE what spark.read infers
    assert(s1 == spark.read.parquet(s"$dir/cells").schema,
      "fast footer inference must match spark.read.parquet exactly")
    assert(graft.sources.GraftIndexTable.inferSchema(s"$dir/cents") ==
      spark.read.parquet(s"$dir/cents").schema)
    val after = graft.sources.GraftIndexTable.footerInfers.get()
    assert(after >= before + 2, "the fast path must have been taken")
    // cached: re-resolving the same index version costs zero inferences
    graft.sources.GraftIndexTable.inferSchema(s"$dir/cells")
    graft.sources.GraftIndexTable.inferSchema(s"$dir/cents")
    assert(graft.sources.GraftIndexTable.footerInfers.get() == after,
      "re-resolution must hit the signature cache")
    // a REWRITE moves the signature and re-infers (fast again)
    Similarity.writeIvfIndex(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 50, dir)
    assert(graft.sources.GraftIndexTable.inferSchema(s"$dir/cells") ==
      spark.read.parquet(s"$dir/cells").schema)
    assert(graft.sources.GraftIndexTable.footerInfers.get() > after)
  }

  test("executor readers carry the DRIVER's Hadoop conf across serialization") {
    val marker = "graft.test.conf.marker"
    spark.sparkContext.hadoopConfiguration.set(marker, "42")
    try {
      val dir = writeIndex()
      val tbl = new graft.sources.GraftIndexTable(s"$dir/cells",
        spark.read.parquet(s"$dir/cells").schema)
      val factory = tbl
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().toBatch.createReaderFactory()
      def roundtrip[T](x: T): T = {
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(x); oos.close()
        new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bos.toByteArray))
          .readObject().asInstanceOf[T]
      }
      // the factory ships to executors by java serialization: the conf
      // must survive the trip with the driver's settings intact (a bare
      // `new Configuration()` on the executor would lose fs credentials
      // and spark.hadoop.* overrides on any non-local deployment). It
      // rides a BROADCAST — deserialized once per executor JVM, not
      // ~45 ms of XML parsing per task (round-11 fix)
      val shipped = roundtrip(factory.asInstanceOf[graft.sources.GraftIndexReaderFactory])
      assert(shipped.conf.value.value.get(marker) == "42",
        "driver Hadoop conf must reach the executor-side reader factory")
    } finally spark.sparkContext.hadoopConfiguration.unset(marker)
  }

  test("multi-level Hive layouts: depth-ordered partition columns, parquet parity, deep-level pruning; mixed nesting refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nest").toString + "/t"
    spark.range(200).select(
      (col("id") % 3).as("a"), (col("id") % 4).as("b"),
      col("id").as("v"), (col("id") * 2).cast("double").as("w"))
      .write.partitionBy("a", "b").parquet(dir)
    assert(graft.sources.GraftIndexTable.partitionColumns(dir) == Seq("a", "b"),
      "partition columns must come back in DEPTH order")
    val raw = spark.read.parquet(dir)
    val got = v2(dir).select(raw.columns.map(col): _*)
    assert(got.schema == raw.schema, "schema parity on the nested layout")
    assert(got.count() == 200)
    assert(got.exceptAll(raw).count() == 0 && raw.exceptAll(got).count() == 0,
      "rows must match spark.read.parquet on the nested layout")
    // static pruning on the DEEP level only — visible in the FILES the
    // splits carry (bin-packing normalizes the split COUNT toward
    // parallelism on both sides)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def filesOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan
          .collectFirst { case s: BatchScanExec => s }.get
          .inputRDD.partitions.map {
            case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
              p.inputPartitions.map {
                case k: graft.sources.GraftIndexInputPartition => k.files.size.toLong
                case pk: graft.sources.GraftIndexPackedPartition => pk.files.size.toLong
                case _ => 0L
              }.sum
            case _ => 0L
          }.sum
      assert(filesOf(v2(dir).where(col("b") === 1)) < filesOf(v2(dir)),
        "a filter on the second-level column must prune directories")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // grouped aggregates across the full chain agree with parquet
    val gotAgg = v2(dir).groupBy("a", "b").count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    val rawAgg = raw.groupBy("a", "b").count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    assert(gotAgg.toSeq == rawAgg.toSeq)
    // MIXED nesting (a bare data file next to partition directories) is
    // refused loudly at planning time, not silently mis-typed
    val bad = java.nio.file.Files.createTempDirectory("graft_mixed").toString + "/t"
    spark.range(5).toDF("v").write.parquet(s"$bad/c=1")
    val stray = new java.io.File(s"$bad/c=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(stray.toPath,
      java.nio.file.Paths.get(s"$bad/${stray.getName}"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.GraftIndexTable.partitionColumns(bad)
    }
    assert(e.getMessage.contains("inconsistent partition nesting"))
    // the 2-chain message shows every chain without a truncation marker,
    // and the bare root-level file renders as <root> (round-11 ADVICE)
    assert(e.getMessage.contains("<root>") && !e.getMessage.contains("..."),
      e.getMessage)
  }

  test("streaming by NAME: readStream.table over the catalog face drains the admissions") {
    val root = java.nio.file.Files.createTempDirectory("graft_snam").toString
    Similarity.writeIvfIndex(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 25, s"$root/ivf_s")
    spark.conf.set("spark.sql.catalog.graft_stream_t",
      classOf[graft.sources.GraftIndexCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_stream_t.root", root)
    val q = spark.readStream.table("graft_stream_t.ivf_s.cells")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_name_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_name_stream")
      val batch = spark.read.parquet(s"$root/ivf_s/cells")
        .select(streamed.columns.map(col): _*)
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "a by-name stream must replay exactly the batch state")
    } finally q.stop()
  }

  test("compound OR/AND filters: claimed exactly on both lanes, partition pruning, evolved-file folding") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FilterExec
    val dir = java.nio.file.Files.createTempDirectory("graft_orand").toString + "/t"
    (0 until 100).map(i =>
        (i.toLong, if (i % 10 == 0) None else Some(i.toLong), (i % 7).toLong))
      .toDF("id", "v", "w").repartition(2).write.parquet(dir)
    val raw = spark.read.parquet(dir)
    def pred(c: String => org.apache.spark.sql.Column) =
      (c("v") < 10L) || (c("v") > 90L && c("w") === 1L)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = v2(dir).where(pred(col)).select("id", "v", "w")
      // the compound stays with Spark and reaches the scan as ONE hint
      assert(got.queryExecution.executedPlan
        .collectFirst { case f: FilterExec => f }.nonEmpty,
        "an OR of data legs must stay with Spark")
      assert(got.queryExecution.executedPlan
        .collectFirst { case b: BatchScanExec => b }.get
        .scan.description().contains("Or("),
        "the OR must reach the scan as a hint")
      val expect = raw.where(pred(col)).select("id", "v", "w")
      assert(got.count() == expect.count() && got.count() > 0)
      assert(got.exceptAll(expect).count() == 0 &&
        expect.exceptAll(got).count() == 0,
        "compound-filtered rows must equal spark.read.parquet (null v drops)")
      // OR over PARTITION columns prunes directories
      val pdir = java.nio.file.Files.createTempDirectory("graft_orpart").toString + "/t"
      (0 until 40).map(i => (i.toLong, i % 4)).toDF("v", "cell")
        .write.partitionBy("cell").parquet(pdir)
      val orPart = v2(pdir).where(col("cell") === 0 || col("cell") > 2)
      def filesOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan
          .collectFirst { case s: BatchScanExec => s }.get
          .inputRDD.partitions.map {
            case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
              p.inputPartitions.map {
                case pk: graft.sources.GraftIndexPackedPartition => pk.files.size.toLong
                case k: graft.sources.GraftIndexInputPartition => k.files.size.toLong
                case _ => 0L
              }.sum
            case _ => 0L
          }.sum
      assert(filesOf(orPart) < filesOf(v2(pdir)),
        "OR over the partition column must prune directories")
      assert(orPart.select("v").collect().map(_.getLong(0)).sorted.toSeq ==
        (0 until 40).filter(i => i % 4 == 0 || i % 4 == 3).map(_.toLong))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // EVOLVED sets: Or(v > 5, IsNull(w)) with w absent from one file must
    // keep that file wholesale (absent ⇒ null ⇒ the IsNull leg passes) —
    // naive leaf logic would skip it
    val evo = java.nio.file.Files.createTempDirectory("graft_orevo").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("v", "w").repartition(1).write.parquet(evo)
    Seq(100L, 200L).toDF("v").repartition(1).write.mode("append").parquet(evo)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("v", org.apache.spark.sql.types.LongType)
      .add("w", org.apache.spark.sql.types.LongType)
    def evoDf = spark.read.format("graft-index").schema(schema).load(evo)
    assert(evoDf.where(col("w") === 10L || col("w").isNull)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 100L, 200L))
    // and a compound that folds to constant FALSE still skips the file
    assert(evoDf.where(col("w") === 10L || col("w") > 15L)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // forFile unit pins: folding algebra over present/absent columns
    import org.apache.spark.sql.sources.{And => SAnd, Or => SOr, EqualTo => SEq, IsNull => SIsNull, GreaterThan => SGt}
    val ff = graft.sources.GraftIndexFilters.forFile(_: org.apache.spark.sql.sources.Filter, Set("a"))
    assert(ff(SOr(SGt("a", 1L), SIsNull("b"))) == Left(true))
    assert(ff(SOr(SGt("a", 1L), SGt("b", 1L))) == Right(SGt("a", 1L)))
    assert(ff(SAnd(SGt("a", 1L), SGt("b", 1L))) == Left(false))
    assert(ff(SAnd(SGt("a", 1L), SIsNull("b"))) == Right(SGt("a", 1L)))
    assert(ff(SAnd(SEq("a", 1L), SEq("a", 2L))) == Right(SAnd(SEq("a", 1L), SEq("a", 2L))))
  }

  test("metadata column _file: row-to-file lineage as a per-file constant, hidden under a real _file column") {
    val dir = writeIndex()
    val cells = s"$dir/cells"
    val files = graft.sources.GraftIndexTable.listFiles(cells).map(_._1)
    val df = v2(cells).select(col("_file"), col("vec_b"), col("cell"))
    val got = df.collect()
    assert(got.length == spark.read.parquet(cells).count())
    assert(got.map(_.getString(0)).toSet == files.toSet,
      "_file must cover exactly the listed data files")
    // data + _file projection stays on the vectorized lane (_file is a
    // constant fill, not a decode column)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scan = df.queryExecution.executedPlan
        .collectFirst { case b: BatchScanExec => b }.get
      assert(scan.supportsColumnar,
        "_file + data projection must stay on the vectorized lane")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // per-file row counts are exact (the lineage actually lines up),
    // and a Spark-side filter on _file isolates one file's rows
    val perFile = v2(cells).groupBy("_file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    files.take(3).foreach { f =>
      val expect = spark.read.parquet(f).count()
      assert(perFile(f) == expect, s"per-file count diverges for $f")
      assert(v2(cells).where(col("_file") === f).count() == expect)
    }
    // a REAL _file data column hides the metadata column: values come
    // from the data, not the reader
    val clash = java.nio.file.Files.createTempDirectory("graft_fileclash").toString + "/t"
    spark.range(10).select(concat(lit("row-"), col("id")).as("_file"),
      col("id").as("v")).write.parquet(clash)
    val tbl = new graft.sources.GraftIndexTable(clash,
      spark.read.parquet(clash).schema)
    assert(tbl.metadataColumns().isEmpty,
      "metadata _file must yield to a real column of the same name")
    val vals = v2(clash).select("_file").collect().map(_.getString(0)).toSet
    assert(vals == (0 until 10).map(i => s"row-$i").toSet,
      "a real _file column must read its DATA values")
  }

  // ---- admission control (SupportsAdmissionControl / AvailableNow) ----

  private def microBatchStream(path: String, opts: Map[String, String],
      ckpt: String = null): graft.sources.GraftIndexMicroBatchStream = {
    import scala.jdk.CollectionConverters._
    new graft.sources.GraftIndexTable(path,
      spark.read.parquet(path).schema)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts.asJava))
      .build().asInstanceOf[graft.sources.GraftIndexScan]
      .toMicroBatchStream(Option(ckpt).getOrElse(
        java.nio.file.Files.createTempDirectory("graft_mbs_ck").toString))
      .asInstanceOf[graft.sources.GraftIndexMicroBatchStream]
  }

  test("admission control: per-trigger caps as offset arithmetic (maxFiles, maxBytes at-least-one, composite)") {
    import org.apache.spark.sql.connector.read.streaming._
    val dir = writeIndex()
    val cells = s"$dir/cells"
    val nFiles = graft.sources.GraftIndexTable.listFiles(cells).length
    assert(nFiles >= 3, s"fixture must have several files, got $nFiles")
    val capOpts = Map("maxFilesPerTrigger" -> "2", "maxBytesPerTrigger" -> "1")
    val s = microBatchStream(cells, capOpts)
    // default limit composes both caps
    val lims = s.getDefaultReadLimit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case other => fail(s"expected a composite limit, got $other")
    }
    assert(lims.collect { case f: ReadMaxFiles => f.maxFiles() } == Seq(2))
    assert(lims.collect { case b: ReadMaxBytes => b.maxBytes() } == Seq(1L))
    // the log is STATEFUL (each latestOffset advances it), so each
    // cap shape probes a fresh stream + checkpoint
    def filesOf(st: graft.sources.GraftIndexMicroBatchStream, o: Offset) =
      st.filesThrough(o)
    // maxFiles(2): exactly 2 fresh files enter the first log entry
    val two = s.latestOffset(s.initialOffset(), ReadLimit.maxFiles(2))
    assert(filesOf(s, two).length == 2)
    // maxBytes(1): every file is oversized — still exactly ONE admitted
    // (an oversized file must not wedge the stream)
    val sB = microBatchStream(cells, capOpts)
    val one = sB.latestOffset(sB.initialOffset(), ReadLimit.maxBytes(1))
    assert(filesOf(sB, one).length == 1)
    // composite = most restrictive prefix
    val sC = microBatchStream(cells, capOpts)
    val comp = sC.latestOffset(sC.initialOffset(), sC.getDefaultReadLimit)
    assert(filesOf(sC, comp).length == 1)
    // progress is cumulative and terminates: drain with maxFiles(2),
    // continuing on the FIRST stream (whose entry 1 holds 2 files)
    var cur = two
    var rounds = 1
    var advanced = true
    while (advanced && rounds < 1000) {
      val nxt = s.latestOffset(cur, ReadLimit.maxFiles(2))
      advanced = filesOf(s, nxt).length > filesOf(s, cur).length
      cur = nxt; rounds += 1
    }
    assert(filesOf(s, cur).length == nFiles,
      "capped triggers must eventually admit every file")
    assert(rounds == (nFiles + 1) / 2 + 1,
      s"drain must take ceil(n/2) advancing rounds + 1 no-op, got $rounds")
    // THE round-12 contract: the offset is a log position, O(1) bytes in
    // the number of admitted files — the drained offset is no longer a
    // file list and never names a file
    assert(cur.isInstanceOf[graft.sources.GraftIndexLogOffset])
    assert(cur.json().length <= s.initialOffset().json().length + 4 &&
      !cur.json().contains(".parquet"),
      s"offset must stay O(1) in total files: ${cur.json()}")
    // allAvailable admits the rest in one step (fresh stream)
    val sA = microBatchStream(cells, capOpts)
    assert(filesOf(sA,
      sA.latestOffset(sA.initialOffset(), ReadLimit.allAvailable())).length == nFiles)
    // the uncapped frontier stays visible to progress telemetry: after
    // the full drain, zero pending; a fresh stream (position 0) reports
    // the whole population pending
    assert(s.reportLatestOffset().json().contains("\"pendingFiles\":0"))
    val sF = microBatchStream(cells, capOpts)
    assert(sF.reportLatestOffset().json()
      .contains(s""""pendingFiles":$nFiles"""))
    // crash recovery: a SECOND stream over the FIRST stream's checkpoint
    // (entries logged, WAL "lost") replays the logged entries one per
    // trigger — the same files, read from the log, not the listing
    val sR = microBatchStream(cells, capOpts, ckpt = s.ckptForTest)
    val r1 = sR.latestOffset(sR.initialOffset(), ReadLimit.maxFiles(2))
    assert(r1 == graft.sources.GraftIndexLogOffset(1))
    assert(sR.filesThrough(r1) == s.filesThrough(two))
    // bogus caps are refused loudly at scan-build time
    val bad = intercept[IllegalArgumentException] {
      microBatchStream(cells, Map("maxFilesPerTrigger" -> "0"))
    }
    assert(bad.getMessage.contains("maxFilesPerTrigger"))
    // a cap past Int.MaxValue must fail here too, not wrap to a
    // non-positive take() that silently wedges the stream (round-11 ADVICE)
    val wide = intercept[IllegalArgumentException] {
      microBatchStream(cells, Map("maxFilesPerTrigger" -> "4294967296"))
    }
    assert(wide.getMessage.contains("maxFilesPerTrigger") &&
      wide.getMessage.toLowerCase.contains("range"), wide.getMessage)
  }

  test("v1 file-list checkpoint offsets migrate: base seen-set, exact planning ranges, log offsets thereafter") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = writeIndex()
    val cells = s"$dir/cells"
    val s = microBatchStream(cells, Map.empty)
    val all = graft.sources.GraftIndexTable.listFiles(cells).map(_._1).sorted
    assert(all.length >= 3)
    val v1 = graft.sources.GraftIndexStreamOffset(all.take(2))
    // a v1 WAL offset deserializes as the legacy list form
    assert(s.deserializeOffset(v1.json())
      .isInstanceOf[graft.sources.GraftIndexStreamOffset])
    // a pure-v1 committed range replans as the legacy set difference
    val legacy = s.planInputPartitions(
      graft.sources.GraftIndexStreamOffset(all.take(1)), v1)
    val legacyFiles = legacy.flatMap {
      case p: graft.sources.GraftIndexPackedPartition => p.files.map(_._1)
    }.sorted
    assert(legacyFiles.toSeq == all.slice(1, 2))
    // latestOffset from the v1 start: only the files BEYOND the v1 set
    // enter the log, and the stream speaks log offsets from then on
    val nxt = s.latestOffset(v1, ReadLimit.allAvailable())
    assert(nxt == graft.sources.GraftIndexLogOffset(1))
    assert(s.filesThrough(nxt) == all.drop(2))
    val migrated = s.planInputPartitions(v1, nxt).flatMap {
      case p: graft.sources.GraftIndexPackedPartition => p.files.map(_._1)
    }.sorted
    assert(migrated.toSeq == all.drop(2),
      "the migrated range must replay exactly the unseen files")
    // the migration is DURABLE: a fresh stream over the same checkpoint
    // restarting from the v2 offset (the v1 list exists nowhere in its
    // start state) must not re-admit the v1 files — the `0.base` file
    // persisted at migration time carries them
    val s2 = microBatchStream(cells, Map.empty, ckpt = s.ckptForTest)
    val again = s2.latestOffset(nxt, ReadLimit.allAvailable())
    assert(again == nxt,
      "v1-seen files must not re-admit after a post-migration restart")
  }

  test("admission-log compaction: a restart folds one snapshot + recent entries, not the whole log") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = java.nio.file.Files.createTempDirectory("graft_logc").toString + "/t"
    (1 to 20).foreach(i =>
      spark.range(i * 10L, i * 10L + 5).repartition(1)
        .write.mode("append").parquet(dir))
    val s = microBatchStream(dir, Map.empty)
    var cur = s.initialOffset()
    var n = 0
    var adv = true
    while (adv && n < 100) {
      val nx = s.latestOffset(cur, ReadLimit.maxFiles(1))
      adv = nx != cur
      if (adv) { cur = nx; n += 1 }
    }
    assert(n >= 20, s"expected >= 20 single-file entries, got $n")
    val logDir = new java.io.File(s"${s.ckptForTest}/graft-admitted")
    assert(new java.io.File(logDir, "16.compact").exists,
      "every 16th entry must write a cumulative snapshot")
    // per-entry files are RETAINED (committed ranges replan from them)
    assert(new java.io.File(logDir, "3").exists)
    // a fresh stream's seen-set fold reads the newest snapshot + the
    // entries past it — not all n entries
    val s2 = microBatchStream(dir, Map.empty, ckpt = s.ckptForTest)
    val before = s2.entryReads.get
    val again = s2.latestOffset(
      graft.sources.GraftIndexLogOffset(n), ReadLimit.allAvailable())
    assert(again == graft.sources.GraftIndexLogOffset(n),
      "a fully-drained log must admit nothing on restart")
    assert(s2.entryReads.get - before <= n - 16 + 1,
      s"fold must start from the snapshot, read ${s2.entryReads.get - before} entries")
  }

  test("admission-log retention janitor (round-13): committed entries fold into a snapshot and delete; replanning and restart stay exact") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.GraftIndexLogOffset
    val dir = java.nio.file.Files.createTempDirectory("graft_logj").toString + "/t"
    (1 to 9).foreach(i =>
      spark.range(i * 10L, i * 10L + 5).repartition(1)
        .write.mode("append").parquet(dir))
    val opts = Map("admissionLogRetention" -> "committed")
    val s = microBatchStream(dir, opts)
    def logNames = {
      val d = new java.io.File(s"${s.ckptForTest}/graft-admitted")
      // drop LocalFileSystem checksum sidecars (.<name>.crc)
      Option(d.list()).map(_.toSeq).getOrElse(Seq.empty)
        .filterNot(_.startsWith("."))
    }
    // admit 1..5 one file at a time, then commit through 3
    var cur = s.initialOffset()
    (1 to 5).foreach { _ =>
      cur = s.latestOffset(cur, ReadLimit.maxFiles(1))
    }
    assert(cur == GraftIndexLogOffset(5))
    val files45 = s.filesBetween(3, 5)
    s.commit(GraftIndexLogOffset(3))
    // entries 1..3 folded into a snapshot and gone; entries 4..5
    // (replannable: past the commit) retained; exactly one snapshot,
    // at wherever the seen-set fold stood (≥ the committed position)
    assert(logNames.flatMap(_.toLongOption).sorted == Seq(4L, 5L),
      s"janitor must delete exactly the committed entries: $logNames")
    assert(logNames.count(_.endsWith(".compact")) == 1 &&
      logNames.exists(n => n.endsWith(".compact") &&
        n.stripSuffix(".compact").toLong >= 3L),
      s"janitor must leave one covering snapshot: $logNames")
    // the uncommitted range still replans from its retained entries
    assert(s.filesBetween(3, 5) == files45)
    // drain the remaining files, commit everything: the log folds to
    // ONE snapshot, bounded forever
    (6 to 9).foreach(_ => cur = s.latestOffset(cur, ReadLimit.maxFiles(1)))
    assert(cur == GraftIndexLogOffset(9), s"expected full drain, got $cur")
    s.commit(GraftIndexLogOffset(9))
    assert(logNames.toSet == Set("9.compact"),
      s"a fully-committed log must drain to one snapshot: $logNames")
    // restart over the janitored checkpoint: the seen-set folds from
    // the snapshot alone (zero entry reads), nothing re-admits, and
    // the log position survives even with every entry file gone
    val s2 = microBatchStream(dir, opts, ckpt = s.ckptForTest)
    val before = s2.entryReads.get
    assert(s2.latestOffset(GraftIndexLogOffset(9),
      ReadLimit.allAvailable()) == GraftIndexLogOffset(9))
    assert(s2.entryReads.get == before,
      "restart fold must read the snapshot, not entries")
    // new admissions continue PAST the drained position (never reuse a
    // committed seq), and the next janitor pass keeps only the newest
    // snapshot
    spark.range(500, 505).repartition(1).write.mode("append").parquet(dir)
    val nxt = s2.latestOffset(GraftIndexLogOffset(9), ReadLimit.allAvailable())
    assert(nxt == GraftIndexLogOffset(10), s"expected seq 10, got $nxt")
    s2.commit(nxt)
    val d2 = Option(new java.io.File(s"${s2.ckptForTest}/graft-admitted")
      .list()).map(_.toSeq).getOrElse(Seq.empty).filterNot(_.startsWith("."))
    assert(d2.toSet == Set("10.compact"),
      s"janitor must supersede older snapshots: $d2")
    // default retention = "all": commit never deletes (entries are the
    // replan source of record)
    val sAll = microBatchStream(dir, Map.empty)
    var c2 = sAll.initialOffset()
    (1 to 3).foreach(_ => c2 = sAll.latestOffset(c2, ReadLimit.maxFiles(1)))
    sAll.commit(c2)
    val allNames = Option(new java.io.File(s"${sAll.ckptForTest}/graft-admitted")
      .list()).map(_.toSeq).getOrElse(Seq.empty).filterNot(_.startsWith("."))
    assert(Seq("1", "2", "3").forall(allNames.contains),
      s"default retention must keep every entry: $allNames")
    // bogus values refuse loudly at scan-build time
    val bad = intercept[IllegalArgumentException] {
      microBatchStream(dir, Map("admissionLogRetention" -> "weekly"))
    }
    assert(bad.getMessage.contains("admissionLogRetention"))
    // END-TO-END: a real engine-driven query (engine calls commit) keeps
    // the log bounded and the replayed rows exact
    val q = graft.streaming.IndexAdmissionStream
      .admissions(spark, dir, maxFiles = Some(2),
        logRetention = Some("committed"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_logj_e2e").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_logj_e2e")
      val batch = spark.read.parquet(dir)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch.select(streamed.columns.map(col): _*))
        .count() == 0, "janitored replay must accumulate the batch state")
      // engine commit lags construction by one trigger, so a couple of
      // tail entries may outlive the drain — but never the whole log
      val ck = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.resolvedCheckpointRoot
      val ckPath = Option(new java.net.URI(ck).getPath).getOrElse(ck)
      val names = Option(new java.io.File(
        ckPath, "sources/0/graft-admitted").list())
        .map(_.toSeq).getOrElse(Seq.empty).filterNot(_.startsWith("."))
      val entries = names.flatMap(_.toLongOption)
      assert(names.exists(_.endsWith(".compact")) && entries.size <= 2,
        s"engine-driven janitor must keep the log bounded: $names")
    } finally q.stop()
  }

  test("streaming range slices (round-13): a big admitted file plans as byte-range slices that partition its rows exactly") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{GraftIndexPackedPartition, GraftIndexRange}
    val dir = java.nio.file.Files.createTempDirectory("graft_strslice").toString + "/t"
    // one multi-row-group big file + one index-sized small file
    spark.range(0, 60000)
      .selectExpr("id", "concat('pad-', id, '-', repeat('x', 96)) AS s")
      .repartition(1)
      .write.option("parquet.block.size", "262144").parquet(dir)
    spark.range(0, 10).selectExpr("id", "concat('s', id) AS s")
      .repartition(1).write.mode("append").parquet(dir)
    val lens = graft.sources.GraftIndexTable.listFiles(dir)
      .map(t => t._1 -> t._2).toMap
    val big = lens.maxBy(_._2)._1
    val small = lens.minBy(_._2)._1
    assert(lens(big) > 600000L, s"big file too small: ${lens(big)}")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val s = microBatchStream(dir, Map.empty)
      val off = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
      val slices = s.planInputPartitions(s.initialOffset(), off).flatMap {
        case p: GraftIndexPackedPartition => p.files.map(f => (f._1, f._2, f._3))
      }
      // the big file splits; the small one stays whole-file
      val bigSlices = slices.filter(_._1 == big)
      assert(bigSlices.length > 1,
        s"a ${lens(big)}-byte file must slice at 128 KB: $bigSlices")
      assert(slices.filter(_._1 == small).toSeq ==
        Seq((small, 0L, GraftIndexRange.Whole)),
        "index-sized files keep whole-file packing")
      // the slices PARTITION the file's rows: row-group midpoints land
      // in exactly one slice, totals add up to the file's count
      val conf = spark.sessionState.newHadoopConf()
      val total = bigSlices.map(sl =>
        GraftIndexRange.rows(big, conf, sl._2, sl._3)).sum
      assert(total == spark.read.parquet(big).count(),
        "slice row counts must sum to the file's rows")
      // END-TO-END under the same confs: engine-driven replay of the
      // sliced plan accumulates exactly the batch state, once
      val q = graft.streaming.IndexAdmissionStream
        .admissions(spark, dir)
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_strslice_e2e").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("graft_strslice_e2e")
        val batch = spark.read.parquet(dir)
        assert(streamed.count() == batch.count())
        assert(streamed.exceptAll(batch.select(streamed.columns.map(col): _*))
          .count() == 0, "sliced stream replay must match the batch read")
      } finally q.stop()
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("admission control: a live maxFilesPerTrigger stream drains in capped batches; AvailableNow terminates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_admitcap").toString
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", 25, dir)
    val cells = s"$dir/cells"
    val nFiles = graft.sources.GraftIndexTable.listFiles(cells).length
    val batch = spark.read.parquet(cells)
    // live stream, 2 files per trigger: every batch bounded, union exact
    val q = graft.streaming.IndexAdmissionStream
      .admissions(spark, cells, maxFiles = Some(2))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_admit_cap").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_admit_cap")
      val aligned = batch.select(streamed.columns.map(col): _*)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(aligned).count() == 0 &&
        aligned.exceptAll(streamed).count() == 0,
        "capped replay must accumulate exactly the batch state")
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches == (nFiles + 1) / 2,
        s"2-file triggers over $nFiles files must take ceil(n/2) batches, got $batches")
    } finally q.stop()
    // Trigger.AvailableNow: drains the snapshot under the same cap, then
    // STOPS on its own (processAllAvailable above never terminates the query)
    val an = graft.streaming.IndexAdmissionStream
      .admissions(spark, cells, maxFiles = Some(2))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_admit_an")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(an.awaitTermination(120000),
      "AvailableNow must terminate after draining the snapshot")
    val got = spark.table("graft_admit_an")
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch.select(got.columns.map(col): _*)).count() == 0)
  }

  test("large IN lists (round-12): set-predicate IN and hash-set NOT IN stay exact at 5000 elements on both lanes") {
    // this spec caught TWO real failure modes before they shipped:
    // FilterApi.notIn's record-level inspector keeps any value that
    // differs from ANY set element (broken for ≥2-value sets in
    // parquet-mr 1.16), and the And-of-notEq chain fallback overflows
    // the record-level visitor's recursion at 5000 elements — NOT IN
    // therefore rides the GraftNotInSet UserDefinedPredicate (one
    // hash lookup per record, depth 1) while IN uses the native set
    // predicate
    val dir = java.nio.file.Files.createTempDirectory("graft_inset").toString + "/t"
    spark.range(0, 20000).selectExpr("id",
      "CASE WHEN id % 13 = 0 THEN CAST(NULL AS LONG) ELSE id % 9999 END AS g")
      .write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val vals = (0 until 5000).map(i => (i * 2).toLong) // evens < 10000
    val t = spark.read.format("graft-index").load(dir)
    val in = t.where(col("g").isin(vals: _*))
    val rin = raw.where(col("g").isin(vals: _*))
    assert(in.count() == rin.count() && in.count() > 0, "IN")
    assert(in.exceptAll(rin).count() == 0 && rin.exceptAll(in).count() == 0)
    // NOT IN drops nulls (the not-null leg of the set hint)
    val ni = t.where(!col("g").isin(vals: _*))
    val rni = raw.where(!col("g").isin(vals: _*))
    assert(ni.count() == rni.count() && ni.count() > 0, "NOT IN")
    assert(ni.where(col("g").isNull).count() == 0)
    assert(ni.exceptAll(rni).count() == 0 && rni.exceptAll(ni).count() == 0)
  }

  test("dictionary row-group pruning (round-12): a point probe inside min/max but absent from the dictionary skips the group") {
    import graft.sources.GraftIndexSparkVectorReader
    val dir = java.nio.file.Files.createTempDirectory("graft_dict").toString + "/t"
    // g = even values 0..98: low cardinality ⇒ dictionary-encoded;
    // stats span [0, 98] so an odd probe survives min/max everywhere
    spark.range(0, 50000).selectExpr("id",
      "CAST((id % 50) * 2 AS LONG) AS g", "concat('v', id % 7) AS s")
      .coalesce(1).write.parquet(dir)
    val raw = spark.read.parquet(dir)
    def rowsReadBy(run: => Long): (Long, Long) = {
      val before = GraftIndexSparkVectorReader.rowsRead.get
      val n = run
      (n, GraftIndexSparkVectorReader.rowsRead.get - before)
    }
    val (missN, missRead) = rowsReadBy(spark.read.format("graft-index")
      .load(dir).where(col("g") === 51L).count())
    assert(missN == 0)
    // unpruned baseline: the same probe through an expression parquet
    // can't take as a hint decodes the whole group
    val (baseN, baseRead) = rowsReadBy(spark.read.format("graft-index")
      .load(dir).where(abs(col("g")) === 51L).count())
    assert(baseN == 0 && baseRead == 50000L, s"baseline read $baseRead")
    assert(missRead == 0L,
      s"the dictionary must kill the stats-surviving group (read $missRead)")
    // positive control: a present value decodes normally and exactly
    val hit = spark.read.format("graft-index").load(dir)
      .where(col("g") === 50L)
    val rhit = raw.where(col("g") === 50L)
    assert(hit.count() == rhit.count() && hit.count() > 0)
    assert(hit.exceptAll(rhit).count() == 0 && rhit.exceptAll(hit).count() == 0)
  }

  test("within-file range splits (round-12): a big file plans multiple slices; every lane partitions its rows exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_range").toString + "/t"
    // one file, many small row groups — the big-file shape in miniature
    spark.range(0, 120000).selectExpr("id", "id % 97 AS g",
      "concat('row_', id) AS s")
      .coalesce(1).write.option("parquet.block.size", "65536").parquet(dir)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (96 * 1024).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val raw = spark.read.parquet(dir)
      def parts(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b
        }.get.inputRDD.getNumPartitions
      val got = spark.read.format("graft-index").load(dir).select("id", "g", "s")
      assert(parts(got) > 1,
        s"one big file must plan multiple range slices (got ${parts(got)})")
      val ref = raw.select("id", "g", "s")
      assert(got.count() == 120000L)
      assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
        "slices must partition the file's rows exactly")
      // filter across slices: stats pruning composes with ranges
      val f = spark.read.format("graft-index").load(dir)
        .where(col("g") === 5L)
      val rf = raw.where(col("g") === 5L)
      assert(f.count() == rf.count() && f.count() > 0)
      // constant-column projection rides the counting reader per slice
      assert(spark.read.format("graft-index").load(dir)
        .select("_file").count() == 120000L)
      // limit still short-circuits
      assert(spark.read.format("graft-index").load(dir).limit(7).count() == 7)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("one decode path: every data-column scan opens Spark's vectorized reader") {
    import graft.sources.GraftIndexSparkVectorReader
    val dir = writeIndex()
    val raw = spark.read.parquet(s"$dir/cells")
    val someCell = raw.select(min(col("cell"))).collect().head.get(0)
    // rows are compared as COLLECTED arrays — a DataFrame exceptAll
    // would re-execute the frame and bump the counter
    def opensBy(run: => Array[org.apache.spark.sql.Row])
        : (Array[org.apache.spark.sql.Row], Long) = {
      val before = GraftIndexSparkVectorReader.opens.get
      val rows = run
      (rows, GraftIndexSparkVectorReader.opens.get - before)
    }
    def same(a: Array[org.apache.spark.sql.Row],
        b: Array[org.apache.spark.sql.Row]): Boolean =
      a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("projection", _.select("vec_b", "nb")),
      ("filtered", _.where(col("vec_b") > 100L).select("vec_b", "nb")),
      ("filter column outside the projection",
        _.where(col("nb") > 0.0).select("vec_b")),
      ("partition-pruned", _.where(col("cell") === lit(someCell)).select("vec_b")),
      ("limited", _.select("vec_b").limit(5)))
    for ((label, q) <- shapes) {
      val (rows, opened) = opensBy(q(v2(s"$dir/cells")).collect())
      assert(opened > 0, s"$label scan must open the delegated Spark reader")
      if (label == "limited") assert(rows.length == 5)
      else assert(same(rows, q(raw).collect()), s"$label rows diverge")
    }
    // a partition-only projection keeps the footer-counting reader
    val (cellRows, cellOpens) = opensBy(v2(s"$dir/cells").select("cell").collect())
    assert(cellOpens == 0, "partition-only projections must not decode")
    assert(same(cellRows, raw.select("cell").collect()))
  }

  test("DATE columns (round-12): both lanes decode epoch days; eq/range/<> claims stay pushed with nulls dropped; footer min/max") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_date").toString + "/t"
    val df = Seq(
        (1L, java.sql.Date.valueOf("2024-03-01")),
        (2L, java.sql.Date.valueOf("2024-03-05")),
        (3L, java.sql.Date.valueOf("1969-12-25")), // negative epoch days
        (4L, null.asInstanceOf[java.sql.Date]),
        (5L, java.sql.Date.valueOf("2024-03-05")))
      .toDF("id", "d")
    df.repartition(1).write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val lo = java.sql.Date.valueOf("2024-03-02")
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("parity", identity),
      ("range", _.where(col("d") >= lit(lo))),
      ("eq", _.where(col("d") === lit(java.sql.Date.valueOf("2024-03-05")))),
      ("ne", _.where(col("d") =!= lit(java.sql.Date.valueOf("2024-03-05")))),
      ("isnull", _.where(col("d").isNull)))
    for ((label, q) <- shapes) {
      val ref = q(raw)
      val got = q(spark.read.format("graft-index").load(dir))
      assert(got.schema == ref.schema, s"$label schema")
      assert(got.count() == ref.count(), s"$label count")
      assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
        s"$label rows diverge")
    }
    // the date range reaches the scan as a visible hint
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = spark.read.format("graft-index").load(dir)
        .where(col("d") >= lit(lo))
      val scan = got.queryExecution.executedPlan
        .collectFirst { case b: BatchScanExec => b }.get
      assert(scan.scan.description().contains("GreaterThanOrEqual(d"),
        scan.scan.description())
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // MIN/MAX over DATE answer from footer stats (comparable set)
    val gotMm = spark.read.format("graft-index").load(dir)
      .agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
    val refMm = raw.agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
    assert(gotMm.collect().toSeq == refMm.collect().toSeq)
    // files written under the LEGACY calendar: the reader rebases from
    // the file's own metadata, and DATE hints are rebased to the Julian
    // day counts such a file stores — a modern range and an ancient
    // point probe (whose Julian and Gregorian day counts differ, so an
    // unrebased hint would prune the only matching group) both match
    // spark.read.parquet
    val legacy = java.nio.file.Files.createTempDirectory("graft_dlegacy")
      .toString + "/t"
    spark.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")
    try {
      spark.range(0, 100)
        .selectExpr("id", "date_add(DATE'2020-01-01', CAST(id AS INT)) AS d")
        .repartition(1).write.parquet(legacy)
      spark.range(100, 110).selectExpr("id", "DATE'1000-01-01' AS d")
        .repartition(1).write.mode("append").parquet(legacy)
    } finally spark.conf.unset("spark.sql.parquet.datetimeRebaseModeInWrite")
    val legacyRaw = spark.read.parquet(legacy)
    for (pred <- Seq("d > DATE'2020-02-01'", "d = DATE'1000-01-01'")) {
      val got = spark.read.format("graft-index").load(legacy).where(pred)
      val ref = legacyRaw.where(pred)
      assert(got.count() == ref.count() && got.count() > 0, pred)
      assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
        s"$pred rows diverge on the LEGACY-calendar files")
    }
    assert(spark.read.format("graft-index").load(legacy)
      .where("d > DATE'2020-02-01'").count() == 68)
  }

  test("DATE partition directories (round-12): dt=YYYY-MM-DD infers DateType, date predicates prune directories") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_datep").toString + "/t"
    Seq(
        (1L, 10.0, java.sql.Date.valueOf("2024-01-01")),
        (2L, 20.0, java.sql.Date.valueOf("2024-01-02")),
        (3L, 30.0, java.sql.Date.valueOf("2024-01-03")),
        (4L, 40.0, java.sql.Date.valueOf("2024-01-03")))
      .toDF("id", "v", "dt")
      .write.partitionBy("dt").parquet(dir)
    val raw = spark.read.parquet(dir)
    val t = spark.read.format("graft-index").load(dir)
    // the one-footer fast inference must agree with Spark's (DateType dt)
    assert(t.schema("dt").dataType == org.apache.spark.sql.types.DateType)
    assert(t.schema == raw.select(t.columns.map(col): _*).schema)
    val cut = java.sql.Date.valueOf("2024-01-02")
    val ref = raw.where(col("dt") > lit(cut)).select(t.columns.map(col): _*)
    val got = t.where(col("dt") > lit(cut))
    assert(got.count() == 2)
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    // pruning is physical: the filtered scan plans fewer input partitions
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def parts(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b
        }.get.inputRDD.getNumPartitions
      assert(parts(got) < parts(t),
        "date partition predicate must prune directories at planning")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("DECIMAL columns (round-12): all three physicals decode exactly; filtered scans fall back to the row lane") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dec").toString + "/t"
    // three physicals: DECIMAL(5,2)→INT32, DECIMAL(14,2)→INT64,
    // DECIMAL(24,4)→FIXED_LEN_BYTE_ARRAY; nulls and negatives included
    spark.range(0, 500).selectExpr("id",
      "CASE WHEN id % 11 = 0 THEN CAST(NULL AS DECIMAL(5,2)) " +
        "ELSE CAST((id - 250) / 4.0 AS DECIMAL(5,2)) END AS d32",
      "CAST((id - 250) * 1000000.01 AS DECIMAL(14,2)) AS d64",
      "CAST((id - 250) * 123456789.0001 AS DECIMAL(24,4)) AS dbig")
      .write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val got = spark.read.format("graft-index").load(dir)
      .select("id", "d32", "d64", "dbig")
    val ref = raw.select("id", "d32", "d64", "dbig")
    assert(got.schema == ref.schema, "decimal schema")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "decimal rows diverge")
    // a filter on a LONG column with decimals projected decodes on the
    // same reader — and stays exact
    val f = spark.read.format("graft-index").load(dir)
      .where(col("id") > 250L)
    val rf = raw.where(col("id") > 250L)
    assert(f.count() == rf.count() && f.count() > 0)
    assert(f.exceptAll(rf).count() == 0 && rf.exceptAll(f).count() == 0,
      "filtered decimal scan diverges")
  }

  test("SHORT/BYTE columns (round-12): both lanes, claimed range filters, footer min/max narrow to the output type") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sb").toString + "/t"
    spark.range(0, 400).selectExpr("id",
      "CASE WHEN id % 13 = 0 THEN CAST(NULL AS SMALLINT) " +
        "ELSE CAST(id % 320 - 160 AS SMALLINT) END AS s16",
      "CAST(id % 250 - 125 AS TINYINT) AS i8")
      .write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val got = spark.read.format("graft-index").load(dir).select("id", "s16", "i8")
    val ref = raw.select("id", "s16", "i8")
    assert(got.schema == ref.schema, "short/byte schema")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "short/byte rows diverge")
    // range + `<>` hints over the narrow types (INT32 comparators)
    val q = spark.read.format("graft-index")
      .load(dir).where(col("s16") > 40 && col("i8") =!= lit(3.toByte))
    val qr = raw.where(col("s16") > 40 && col("i8") =!= lit(3.toByte))
    assert(q.count() == qr.count() && q.count() > 0, "short/byte filters")
    assert(q.exceptAll(qr).count() == 0 && qr.exceptAll(q).count() == 0)
    // the short range reaches the scan as a hint; footer min/max parity
    // (stats arrive as Integer, the agg reader narrows to Short/Byte)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = spark.read.format("graft-index").load(dir)
        .where(col("s16") > 40)
      assert(got.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get.scan.description().contains("GreaterThan(s16"),
        "the short range must reach the scan as a hint")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    val gotMm = spark.read.format("graft-index").load(dir)
      .agg(min(col("s16")).as("a"), max(col("s16")).as("b"),
        min(col("i8")).as("c"), max(col("i8")).as("d"))
    val refMm = raw
      .agg(min(col("s16")).as("a"), max(col("s16")).as("b"),
        min(col("i8")).as("c"), max(col("i8")).as("d"))
    assert(gotMm.collect().toSeq == refMm.collect().toSeq)
  }

  test("TIMESTAMP_NTZ columns (round-12): both lanes decode micros with zero zone math") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toString + "/t"
    spark.range(0, 100).selectExpr("id",
      "CASE WHEN id % 9 = 0 THEN CAST(NULL AS TIMESTAMP_NTZ) " +
        "ELSE timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ '2024-03-01 10:30:00.123456') END AS tn")
      .write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val got = spark.read.format("graft-index").load(dir).select("id", "tn")
    val ref = raw.select("id", "tn")
    assert(got.schema == ref.schema, "ntz schema")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "ntz rows diverge")
    // a timestamp range gives no hint; Spark's filter does the work
    val f = spark.read.format("graft-index").load(dir)
      .where("tn > TIMESTAMP_NTZ '2024-03-01 10:30:50'")
    val rf = raw.where("tn > TIMESTAMP_NTZ '2024-03-01 10:30:50'")
    assert(f.count() == rf.count() && f.count() > 0)
    assert(f.exceptAll(rf).count() == 0 && rf.exceptAll(f).count() == 0)
  }

  test("array<string> columns (round-12): tags/token lists decode exactly on all three decoders") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_astr").toString + "/t"
    val crafted = Seq(
        (1L, Seq[Option[String]](Some("alpha"), None, Some("βeta"), Some(""))),
        (2L, Seq.empty[Option[String]]))
      .toDF("id", "tags")
      .unionByName(
        Seq(Tuple1(3L)).toDF("id")
          .withColumn("tags", lit(null).cast("array<string>")))
      .unionByName(
        Seq((4L, Seq[Option[String]](Some("last")))).toDF("id", "tags"))
    crafted.repartition(1).write.parquet(dir)
    val ref = spark.read.parquet(dir).select("id", "tags")
    val got = spark.read.format("graft-index").load(dir).select("id", "tags")
    assert(got.schema == ref.schema, "schema")
    assert(got.count() == 4)
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "array<string> rows diverge")
    // filtered scan (id hint, tags projected)
    val f = spark.read.format("graft-index").load(dir).where(col("id") > 1L)
    val rf = ref.where(col("id") > 1L)
    assert(f.count() == 3)
    assert(f.exceptAll(rf).count() == 0 && rf.exceptAll(f).count() == 0)
  }

  test("BINARY columns (round-12): multimodal payloads decode byte-exact on both lanes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bin").toString + "/t"
    val df = Seq(
        (1L, Array[Byte](1, 2, 3, -128, 127, 0)),
        (2L, Array.emptyByteArray),
        (3L, null.asInstanceOf[Array[Byte]]),
        (4L, Array.tabulate(4096)(i => (i % 251).toByte))) // multi-page-ish
      .toDF("id", "payload")
    df.repartition(1).write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val got = spark.read.format("graft-index").load(dir).select("id", "payload")
    val ref = raw.select("id", "payload")
    assert(got.schema == ref.schema, "binary schema")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "binary payloads diverge")
    // content check that doesn't ride exceptAll's hashing: md5 + length
    val gm = got.select(md5(col("payload")).as("h"),
      length(col("payload")).as("n")).orderBy("h")
    val rm = ref.select(md5(col("payload")).as("h"),
      length(col("payload")).as("n")).orderBy("h")
    assert(gm.collect().toSeq == rm.collect().toSeq)
    // the plain projection rides the vectorized lane
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scan = spark.read.format("graft-index").load(dir)
        .select("id", "payload").queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b
        }.get
      assert(scan.supportsColumnar, "binary projection must stay columnar")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("refused-claim hints (round-13): nested-bearing tables still prune groups/pages through the delegated reader; rows stay exact") {
    import graft.sources.GraftIndexSparkVectorReader
    val dir = java.nio.file.Files.createTempDirectory("graft_hint").toString + "/t"
    // several files, disjoint sorted ts ranges per file, nested payload
    (0 until 5).foreach { i =>
      spark.range(i * 10000L, (i + 1) * 10000L).orderBy("id")
        .selectExpr("id AS ts", "named_struct('uid', id % 50, 'c', id) AS s")
        .coalesce(1).write.mode("append")
        .option("parquet.page.row.count.limit", "1000").parquet(dir)
    }
    def idx = spark.read.format("graft-index").load(dir)
    val raw = spark.read.parquet(dir)
    // the ts range lives in ONE file: stats hints skip the other four
    // files' row groups, the column index sheds pages within the hit
    val before = GraftIndexSparkVectorReader.rowsRead.get
    val got = idx.where(col("ts") >= 23000L && col("ts") < 24000L)
      .selectExpr("ts", "s").collect()
    val emitted = GraftIndexSparkVectorReader.rowsRead.get - before
    assert(emitted < 5000L,
      s"hints must prune groups/pages on the delegated lane, emitted=$emitted")
    val want = raw.where(col("ts") >= 23000L && col("ts") < 24000L)
      .selectExpr("ts", "s").collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq)
    assert(got.length == 1000)
    // the hint is conf-level, not a claim: Spark keeps the filter
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = idx.where(col("ts") >= 23000L).queryExecution.executedPlan
      val scan = plan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.scan.description().contains("dataFilterHints=[") &&
        scan.scan.description().contains("GreaterThanOrEqual(ts"),
        scan.scan.description())
      assert(plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }.nonEmpty, s"hinted filters must stay with Spark:\n$plan")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // a filter over the struct FIELD is not hintable — full decode,
    // still exact (Spark's filter does all the work)
    val gotS = idx.where(col("s.uid") === 7L).count()
    assert(gotS == raw.where(col("s.uid") === 7L).count() && gotS > 0)
    // evolved set: a file MISSING the hinted column folds per the
    // all-null rule — a range hint over the absent column
    // is constant FALSE there, so the file skips with zero IO; rows
    // stay exact against spark.read.parquet on the merged schema
    spark.range(0, 100)
      .selectExpr("named_struct('uid', id % 50, 'c', id) AS s")
      .coalesce(1).write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    val idx2 = spark.read.format("graft-index")
      .schema(merged.schema).load(dir)
    val b2 = GraftIndexSparkVectorReader.rowsRead.get
    val gotE = idx2.where(col("ts") >= 23000L && col("ts") < 24000L).count()
    assert(gotE == 1000L, "evolved set must stay exact under hints")
    assert(GraftIndexSparkVectorReader.rowsRead.get - b2 < 5000L,
      "the ts-less file must fold constant-false and skip")
    // and an IsNull hint over the absent column passes that file whole
    assert(idx2.where(col("ts").isNull).count() == 100L)
  }

  test("nested schema pruning + nested streaming (round-13): a struct-field projection reads a pruned struct; admissions stream nested rows exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nestprune").toString + "/t"
    spark.range(0, 300)
      .selectExpr("id",
        "named_struct('uid', id % 50, 'cents', id * 7, 'tag', concat('t', id % 3)) AS s",
        "map('a', id) AS m")
      .write.parquet(dir)
    def idx = spark.read.format("graft-index").load(dir)
    // Catalyst's nested-schema pruning reaches the connector: projecting
    // one struct field must scan a ONE-field struct, not the whole thing
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = idx.select(col("s.uid"))
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      val scanned = scan.scan.readSchema()
      val sField = scanned.fields.find(_.name == "s").getOrElse(
        fail(s"struct column missing from read schema: $scanned"))
      assert(sField.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq == Seq("uid"),
        s"struct must prune to the projected field: $scanned")
      assert(!scanned.fieldNames.contains("m"),
        s"unprojected map column must prune away: $scanned")
      assert(df.agg(sum("uid")).collect().head.getLong(0) ==
        spark.read.parquet(dir).select(col("s.uid"))
          .agg(sum("uid")).collect().head.getLong(0))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // the admissions stream serves nested tables through the same
    // delegated lane: replayed rows == batch rows, exactly
    val q = graft.streaming.IndexAdmissionStream
      .admissions(spark, dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_nest_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_nest_stream")
        .selectExpr("id", "s", "sort_array(map_entries(m)) AS me")
      val batch = spark.read.parquet(dir)
        .selectExpr("id", "s", "sort_array(map_entries(m)) AS me")
      assert(streamed.count() == 300)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "streamed nested rows must match the batch read")
    } finally q.stop()
  }

  test("DECIMAL projections decode on Spark's reader, filtered or not") {
    import graft.sources.GraftIndexSparkVectorReader
    val dir = java.nio.file.Files.createTempDirectory("graft_declane").toString + "/t"
    spark.range(0, 1000)
      .selectExpr("id", "CAST(CAST(id AS DOUBLE) / 7 AS DECIMAL(24,2)) AS amt")
      .write.parquet(dir)
    def idx = spark.read.format("graft-index").load(dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((label, df, ref) <- Seq(
          ("unfiltered", idx.select("id", "amt"),
            spark.read.parquet(dir).select("id", "amt")),
          ("filtered", idx.where(col("id") > 500L).select("id", "amt"),
            spark.read.parquet(dir).where(col("id") > 500L).select("id", "amt")))) {
        val scan = df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b
        }.get
        assert(scan.supportsColumnar, s"$label decimal projection must be columnar")
        val before = GraftIndexSparkVectorReader.opens.get
        val got = df.agg(sum("amt")).collect().head.getDecimal(0)
        assert(GraftIndexSparkVectorReader.opens.get > before,
          s"$label decimal decode must ride the delegated reader")
        val want = ref.agg(sum("amt")).collect().head.getDecimal(0)
        assert(got == want, s"$label decimal fold diverges: $got vs $want")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("page-level pruning (round-13): a sorted-column range probe decodes fewer pages than group pruning alone; claims stay exact") {
    import graft.sources.GraftIndexSparkVectorReader
    val dir = java.nio.file.Files.createTempDirectory("graft_pagep").toString + "/t"
    // ONE row group, many small pages, ts sorted — group-level stats
    // can't prune anything for a range inside [0, 100k), but the column
    // index can prove most pages out
    spark.range(0, 100000).orderBy("id")
      .selectExpr("id AS ts", "id % 97 AS v",
        "concat('d-', id, '-', repeat('y', 40)) AS payload")
      .coalesce(1)
      .write
      .option("parquet.page.size", "2048")
      .option("parquet.page.row.count.limit", "1000")
      .option("parquet.block.size", (256L * 1024 * 1024).toString)
      .parquet(dir)
    def idx = spark.read.format("graft-index").load(dir)
    val raw = spark.read.parquet(dir)
    def rowsReadBy[T](run: => T): (T, Long) = {
      val before = GraftIndexSparkVectorReader.rowsRead.get
      val out = run
      (out, GraftIndexSparkVectorReader.rowsRead.get - before)
    }
    // POSITIVE control: a narrow event-time cutoff probe — the column
    // index sheds the pages outside [60000, 61000)
    val (got, read) = rowsReadBy(idx.where(col("ts") >= 60000L && col("ts") < 61000L)
      .selectExpr("ts", "v", "payload").collect())
    assert(read < 50000L,
      s"column index must shed most of the sorted group's rows, read=$read")
    val want = raw.where(col("ts") >= 60000L && col("ts") < 61000L)
      .selectExpr("ts", "v", "payload").collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq,
      "page-pruned probe must match spark.read.parquet exactly")
    assert(got.length == 1000)
    // Spark's filter still enforces the predicate row-by-row on
    // page-boundary survivors: an UNSORTED column probe keeps ranges
    // wide but stays exact (pages hold matching and non-matching rows)
    val gotV = idx.where(col("v") === 13L).agg(sum("ts")).collect()
    val wantV = raw.where(col("v") === 13L).agg(sum("ts")).collect()
    assert(gotV.head.getLong(0) == wantV.head.getLong(0))
    // NEGATIVE control (the unpruned scan): a predicate every page can
    // satisfy sheds nothing
    val (all, allRead) = rowsReadBy(idx.where(col("ts") >= 0L).count())
    assert(all == 100000L)
    assert(allRead == 100000L, s"an all-pass predicate must not shed pages: $allRead")
    // ARRAY projections under the same kind of probe stay exact
    val adir = java.nio.file.Files.createTempDirectory("graft_pagea").toString + "/t"
    spark.range(0, 20000).orderBy("id")
      .selectExpr("id AS ts", "array(id, id + 1, id + 2) AS arr")
      .coalesce(1)
      .write.option("parquet.page.size", "2048")
      .option("parquet.page.row.count.limit", "500").parquet(adir)
    val gotA = spark.read.format("graft-index").load(adir)
      .where(col("ts") >= 5000L && col("ts") < 5100L)
      .selectExpr("ts", "arr").collect()
    val wantA = spark.read.parquet(adir)
      .where(col("ts") >= 5000L && col("ts") < 5100L)
      .selectExpr("ts", "arr").collect()
    assert(gotA.map(_.toString).sorted.toSeq ==
      wantA.map(_.toString).sorted.toSeq)
  }

  test("nested struct/map/array columns (round-13): admitted, delegated-lane decode, claims refused, parity with spark.read.parquet") {
    import graft.sources.GraftIndexSparkVectorReader
    val dir = java.nio.file.Files.createTempDirectory("graft_nested").toString + "/t"
    spark.range(0, 500)
      .selectExpr("id",
        // struct with int/double/string fields, one sometimes-null field
        "named_struct('k', CAST(id % 7 AS INT), 'v', CAST(id AS DOUBLE) / 4, 'tag', concat('t', id % 3)) AS s",
        // whole-struct nulls exercise definition levels above the leaves
        "CASE WHEN id % 11 = 0 THEN NULL ELSE named_struct('k', CAST(id AS INT)) END AS ns",
        "map('a', id, 'b', id * 2) AS m",
        "array(named_struct('x', id), named_struct('x', id + 1)) AS arr",
        "id % 4 AS bucket")
      .write.partitionBy("bucket").parquet(dir)
    val raw = spark.read.parquet(dir)
    def nested = spark.read.format("graft-index").load(dir)
    val cols = raw.columns.toSeq
    // schema parity (nested + flat mix, partition column included)
    assert(nested.select(cols.map(col): _*).schema ==
      raw.select(cols.map(col): _*).schema, "nested schema diverges")
    // row parity: maps refuse set-ops, so compare sorted entry lists
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("id", "s", "ns", "sort_array(map_entries(m)) AS me",
        "arr", "bucket")
    assert(canon(nested).count() == 500)
    assert(canon(nested).exceptAll(canon(raw)).count() == 0 &&
      canon(raw).exceptAll(canon(nested)).count() == 0,
      "nested rows diverge from spark.read.parquet")
    // FILTERED scan on a nested-bearing table: the flat id predicate
    // becomes a hint, the struct-field one stays Spark-only, and Spark
    // re-filters over the delegated decode
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val f = nested.where(col("s.k") === 3 && col("id") =!= 11L)
      val scan = f.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(scan.scan.description().contains("Not(EqualTo(id,11"),
        s"the flat id filter must reach the scan as a hint: ${scan.scan.description()}")
      val rf = raw.where(col("s.k") === 3 && col("id") =!= 11L)
      assert(f.count() == rf.count() && f.count() > 0)
      assert(canon(f).exceptAll(canon(rf)).count() == 0 &&
        canon(rf).exceptAll(canon(f)).count() == 0,
        "filtered nested rows diverge")
      // partition pruning stays on (no decode involved): fewer planned
      // FILES (bin-packing can even out the partition count itself)
      def plannedFiles(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b
        }.get.inputPartitions.map {
          case p: graft.sources.GraftIndexPackedPartition => p.files.length
          case p: graft.sources.GraftIndexInputPartition => p.files.length
          case _ => 0
        }.sum
      assert(plannedFiles(nested.where(col("bucket") === 2)) <
        plannedFiles(nested),
        "partition filters must still prune directories")
      // the delegated Spark reader serves the decode
      val before = GraftIndexSparkVectorReader.opens.get
      nested.where(col("s.k") === 3).select("s", "m").collect()
      assert(GraftIndexSparkVectorReader.opens.get > before,
        "nested decode must ride the delegated lane")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // count(*) still rides the zero-decode footer counter
    assert(nested.count() == 500)
  }
}
