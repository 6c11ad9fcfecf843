package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Structured Streaming: the streaming windowed aggregate over the static
  * events parquet must agree with the batch twin (unified-API guarantee),
  * driven through a real streaming query with a watermark + memory sink.
  */
class StreamingSpec extends SparkSpec {

  test("streaming windowed agg matches batch twin on sf0.001") {
    val q = EventsStream.runOnce(spark, sf0001, "ev_agg")
    try {
      val streamed = spark.table("ev_agg")
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("n_events"))
      val batch = EventsStream.windowedAgg(Tables.events(spark, sf0001))
        .select(col("window_start"), col("event_type"), col("n_events"))
      assert(streamed.count() > 0)
      // append mode: every emitted window must match the batch twin...
      assert(streamed.exceptAll(batch).count() == 0)
      // ...and only windows still open at the final watermark (window end
      // > max(event_time) - 5 min, i.e. the last <= 2 window starts per
      // event type) may be withheld
      val withheld = batch.exceptAll(streamed)
      val cutoff = batch.agg(max(col("window_start"))).collect().head.getLong(0) -
        EventsStream.WindowSeconds
      assert(withheld.where(col("window_start") < cutoff).count() == 0)
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query resumes offsets AND aggregation state") {
    // the fault-tolerance contract the foreachBatch ledgers re-implement
    // at the APPLICATION level, pinned here at the ENGINE level: stop a
    // checkpointed query, add data, restart from the same checkpoint —
    // the file-source offsets recover (the restart reads ONLY the new
    // file) and the state store recovers (a key untouched by the new
    // data still carries its pre-restart total)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val src = s"$dir/in"
      new java.io.File(src).mkdirs()
      def addFile(name: String, rows: Seq[(String, Long)]): Unit = {
        val stage = s"$dir/stage_$name"
        rows.toDF("user", "v").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$src/$name.parquet"))
      }
      def start(sink: String) = spark.readStream
        .schema("user STRING, v BIGINT").parquet(src)
        .groupBy("user").agg(sum("v").as("total"))
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", s"$dir/ckpt").queryName(sink).start()

      addFile("f1", Seq(("u1", 1L), ("u2", 2L)))
      val q1 = start("ckpt_run1")
      try q1.processAllAvailable() finally q1.stop()
      assert(spark.table("ckpt_run1").as[(String, Long)].collect().toMap ==
        Map("u1" -> 1L, "u2" -> 2L))

      addFile("f2", Seq(("u1", 10L)))
      val q2 = start("ckpt_run2")
      try {
        q2.processAllAvailable()
        // state recovered: u2's total survives though f1 is never re-read
        assert(spark.table("ckpt_run2").as[(String, Long)].collect().toMap ==
          Map("u1" -> 11L, "u2" -> 2L))
        // offsets recovered: the restart consumed ONLY f2's single row
        val replayed = q2.recentProgress.map(_.numInputRows).sum
        assert(replayed == 1L, s"restart must not re-read f1, got $replayed rows")
      } finally q2.stop()
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("RocksDB state store: the off-heap provider recovers state across a restart") {
    // the 100 TB streaming-state lever: HDFSBackedStateStore keeps every
    // key on the executor HEAP (state size caps at memory); RocksDB
    // spills to local disk with incremental checkpointing, so keyed
    // state scales past heap. Pin that the provider swap is purely
    // config — same query, same recovery contract as the default-store
    // test above
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    val dir = java.nio.file.Files.createTempDirectory("graft_rocks").toString
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val src = s"$dir/in"
      new java.io.File(src).mkdirs()
      def addFile(name: String, rows: Seq[(String, Long)]): Unit = {
        val stage = s"$dir/stage_$name"
        rows.toDF("user", "v").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$src/$name.parquet"))
      }
      def start(sink: String) = spark.readStream
        .schema("user STRING, v BIGINT").parquet(src)
        .groupBy("user").agg(sum("v").as("total"))
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", s"$dir/ckpt").queryName(sink).start()
      addFile("f1", Seq(("u1", 5L), ("u2", 7L)))
      val q1 = start("rocks_run1")
      try q1.processAllAvailable() finally q1.stop()
      addFile("f2", Seq(("u2", 100L)))
      val q2 = start("rocks_run2")
      try {
        q2.processAllAvailable()
        assert(spark.table("rocks_run2").as[(String, Long)].collect().toMap ==
          Map("u1" -> 5L, "u2" -> 107L))
        assert(q2.recentProgress.map(_.numInputRows).sum == 1L)
      } finally q2.stop()
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streaming SLIDING windows match the batch explode twin") {
    val q = EventsStream.runSlidingOnce(spark, sf0001, "ev_slide")
    try {
      val streamed = spark.table("ev_slide")
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("n_events"))
      val batch = EventsStream.slidingWindowedAgg(Tables.events(spark, sf0001))
        .select(col("window_start"), col("event_type"), col("n_events"))
      assert(streamed.count() > 0)
      // every emitted sliding window must match the exploded batch twin
      assert(streamed.exceptAll(batch).count() == 0)
      // append mode may withhold only windows still open at the final
      // watermark: window_end > max - 5 min, i.e. start > max - 15 min
      val withheld = batch.exceptAll(streamed)
      val cutoff = batch.agg(max(col("window_start"))).collect().head.getLong(0) -
        EventsStream.WindowSeconds - EventsStream.SlideSeconds
      assert(withheld.where(col("window_start") < cutoff).count() == 0)
    } finally q.stop()
  }

  test("streaming session_window: emitted sessions ≡ batch islands, tail watermark-withheld") {
    val q = EventsStream.eventsFileStream(spark, sf0001)
      .withWatermark("event_time", "5 minutes")
      .groupBy(col("user_id"), session_window(col("event_time"), "600 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ev_sess").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_sess")
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("start_sec"),
          col("n_events"))
      // batch islands via the hand-rolled twin (boundary ≡, spec-pinned)
      val gapNs = 600L * 1000000000L
      val batch = graft.operators.Relational
        .sessionize(Tables.events(spark, sf0001)
          .select(col("user_id"), col("ts")), "user_id", "ts", gapNs)
        .groupBy("user_id", "session_id")
        .agg(expr("min(ts) div 1000000000").as("start_sec"),
          max(col("ts")).as("end_ns"), count(lit(1)).as("n_events"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(
        batch.select("user_id", "start_sec", "n_events")).count() == 0)
      // append mode may withhold only sessions not CLOSED by the final
      // watermark: closure needs watermark past last-event + gap
      val withheld = batch.select("user_id", "start_sec", "n_events")
        .exceptAll(streamed)
      val maxNs = Tables.events(spark, sf0001).agg(max(col("ts")))
        .collect().head.getLong(0)
      val openCut = maxNs - 300L * 1000000000L - gapNs
      val wrongly = withheld
        .join(batch, Seq("user_id", "start_sec", "n_events"))
        .where(col("end_ns") + gapNs < openCut)
      assert(wrongly.count() == 0,
        "a session closed well before the final watermark must have been emitted")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    val q = EventsStream.purchaseClickJoin(spark, sf0001, gapSeconds = 3600L)
      .writeStream.outputMode("append").format("memory")
      .queryName("pc_join").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pc_join")
      // batch twin over the same events at the same µs truncation
      val ev = Tables.events(spark, sf0001)
        .withColumn("t_us", expr("ts div 1000"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("t_us").as("p_us"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("t_us").as("c_us"))
      val batch = p.join(c, Seq("user_id"))
        .where(col("c_us") >= col("p_us") - 3600L * 1000000L && col("c_us") <= col("p_us"))
        .select(col("purchase_id"), col("user_id"), col("click_id"))
      assert(streamed.count() > 0)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: matches ≡ inner, unmatched emit nulls") {
    val q = EventsStream.purchaseClickJoinOuter(spark, sf0001, gapSeconds = 3600L)
      .writeStream.outputMode("append").format("memory")
      .queryName("pc_outer").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pc_outer")
      val ev = Tables.events(spark, sf0001)
        .withColumn("t_us", expr("ts div 1000"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("t_us").as("p_us"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("t_us").as("c_us"))
      val batch = p.join(c,
          col("user_id") === col("c_user") &&
            col("c_us") >= col("p_us") - 3600L * 1000000L && col("c_us") <= col("p_us"),
          "left_outer")
        .select(col("purchase_id"), col("user_id"), col("click_id"))
      // matched rows identical to the batch outer join; unmatched
      // purchases present with null click — caveat: rows whose watermark
      // never closed (the stream's final watermark) may be withheld, so
      // assert containment + the matched-part equality instead of
      // bit-equality on the null rows
      val streamedMatched = streamed.where(col("click_id").isNotNull)
      val batchMatched = batch.where(col("click_id").isNotNull)
      assert(streamedMatched.exceptAll(batchMatched).count() == 0 &&
        batchMatched.exceptAll(streamedMatched).count() == 0)
      assert(streamed.exceptAll(batch).count() == 0,
        "stream emitted a row the batch outer join does not contain")
      assert(streamed.where(col("click_id").isNull).count() > 0,
        "expected at least one provably-unmatched purchase to emit nulls")
    } finally q.stop()
  }

  test("stream-static enrichment join ≡ batch join, broadcast dimension") {
    val q = EventsStream.enrichedStream(spark, sf0001)
      .writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enriched")
      val batch = EventsStream.enrichEvents(
        Tables.events(spark, sf0001)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000"))),
        spark.read.parquet(s"$sf0001/customer.parquet"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
      // stateless: the plan must carry no stateful operator node
      assert(q.lastProgress.stateOperators.isEmpty,
        "enrichment join must not allocate a state store")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: replays within the horizon are dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val deduped = EventsStream.dedupedStream(
      input.toDF().toDF("event_id", "ts_ms")
        .withColumn("event_time", timestamp_millis(col("ts_ms"))),
      "10 seconds", "event_id")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      val t0 = 1700000000000L
      // batch 1: ids 1,2 (+ an in-batch replay of 1)
      input.addData((1L, t0), (2L, t0 + 1000), (1L, t0 + 2000))
      q.processAllAvailable()
      // batch 2: replay of 2 inside the horizon + fresh 3
      input.addData((2L, t0 + 3000), (3L, t0 + 4000))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select(col("event_id")).as[Long]
        .collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 3L)) // each key exactly once
    } finally q.stop()
  }

  test("streaming SCD2: foreachBatch folds updates with expire/insert semantics") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val empty = Seq.empty[(Long, String, Long, Option[Long], Int)]
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    // numPartitions = 1: the full-rewrite fold; an update-only feed
    // carries op = 'U'
    val state = new graft.streaming.Scd2Stream.KeyedCdcState(
      empty, "k", "v", "ts", "op", numPartitions = 1)
    val input = MemoryStream[(Long, String, Long)]
    val q = input.toDF().toDF("k", "v", "ts").withColumn("op", lit("U"))
      .writeStream.foreachBatch(state.sink _).outputMode("append").start()
    try {
      input.addData((1L, "a", 10L), (2L, "b", 10L))
      q.processAllAvailable()
      // batch 2: key 1 changes, key 2 is a NO-OP update, key 3 is new
      input.addData((1L, "a2", 20L), (2L, "b", 20L), (3L, "c", 20L))
      q.processAllAvailable()
      // batch 3: LATE update for key 1 (ts 5 < current effective_from 20)
      // must be dropped, not regress the dimension
      input.addData((1L, "stale", 5L))
      q.processAllAvailable()
      val dim = state.dim.as[(Long, String, Long, Option[Long], Int)]
        .collect().toSet
      assert(dim == Set(
        (1L, "a", 10L, Some(20L), 0),  // expired at the superseding ts
        (1L, "a2", 20L, None, 1),
        (2L, "b", 10L, None, 1),       // no-op update: row untouched
        (3L, "c", 20L, None, 1)))
      // invariant: exactly one current row per key
      val dups = state.dim.where(col("is_current") === 1)
        .groupBy("k").count().where(col("count") > 1)
      assert(dups.count() == 0)
    } finally q.stop()
  }

  test("streaming index probe: micro-batched stream ≡ one-shot batch probe, replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = Tables.documents(spark, sf0001)
    val bucket = operators.Dedup.polyHash(
      concat(col("text"), lit("|graft-split-42"))) % 100
    val existing = d.where(bucket < 80)
    val incoming = d.where(bucket >= 80 && bucket < 90)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(incoming.length >= 3, "fixture split too small to micro-batch")
    val path = java.nio.file.Files
      .createTempDirectory("graft_idx_stream").toString
    try {
      operators.Dedup.writeMinhashIndex(existing, "doc_id", "text", 16, 2,
        operators.Dedup.PolyHash, path)
      val state = new graft.streaming.IndexProbeStream.ProbeState(
        path, "doc_id", "text", 16, 2, 0.6, operators.Dedup.PolyHash)
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(state.sink _).outputMode("append").start()
      try {
        // three uneven micro-batches covering the whole incoming set
        val (b1, rest) = incoming.splitAt(incoming.length / 3)
        val (b2, b3) = rest.splitAt(rest.length / 2)
        // checkpoints a fold leaves live: the pair snapshot alone, never
        // the probe's own per-batch pair checkpoint
        val sc = spark.sparkContext
        val preexisting = sc.getPersistentRDDs.keySet
        val liveAfter = Seq(b1, b2, b3).map { b =>
          input.addData(b.toSeq); q.processAllAvailable()
          (sc.getPersistentRDDs.keySet -- preexisting).size
        }
        assert(liveAfter.forall(_ == 1), s"live checkpoints after each fold: $liveAfter")
        val streamed = state.pairs.as[(Long, Long, Double)].collect().toSet
        val oneShot = operators.Dedup.probeMinhashIndex(path,
            d.where(bucket >= 80 && bucket < 90), "doc_id", "text",
            16, 2, 0.6, operators.Dedup.PolyHash)
          .as[(Long, Long, Double)].collect().toSet
        assert(streamed == oneShot,
          s"stream/batch diverged: ${streamed.diff(oneShot)} vs ${oneShot.diff(streamed)}")
        assert(streamed.nonEmpty, "vacuous: no near-dup pairs in the split")
        // at-least-once replay: re-deliver batch 1, accumulated set unchanged
        input.addData(b1.toSeq); q.processAllAvailable()
        val replayed = state.pairs.as[(Long, Long, Double)].collect().toSet
        assert(replayed == oneShot, "replayed batch must fold to a no-op")
        // the same epoch re-delivered under its own batchId: no fold at all
        val folded = state.pairs
        state.sink(b1.toSeq.toDF("doc_id", "text"), 0L)
        assert(state.pairs eq folded, "a replayed batchId must not fold")
        assert(state.lastFolded == 3L)
      } finally q.stop()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("streaming curation composite ≡ batch curate + lineage under ordered replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    // ordered replay: ascending-id batches (the documented parity
    // precondition — the arriving doc is always a pair's removable side)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(docs.length >= 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft_cur_stream").toString
    try {
      // constants mirror ext_corpus_curate/ext_corpus_lineage exactly
      val state = new graft.streaming.CurationStream.CurationState(
        path, "doc_id", "text", 0.7, Seq("sqlish", "streamish"),
        16, 2, 0.8, operators.Dedup.PolyHash,
        25, "|graft-curate-s", "n_chars", 2048L, "|graft-curate-p")
      val input = MemoryStream[(Long, String, Long)]
      val q = input.toDF().toDF("doc_id", "text", "n_chars").writeStream
        .foreachBatch(state.sink _).outputMode("append").start()
      try {
        val batches = docs.grouped(math.max(1, docs.length / 4)).toSeq
        // checkpoints a fold leaves live: its two snapshots, never the
        // per-batch scored frame, near-dup pair sets or removed-id set
        val sc = spark.sparkContext
        val preexisting = sc.getPersistentRDDs.keySet
        def live = (sc.getPersistentRDDs.keySet -- preexisting).size
        val liveAfter = batches.map { b =>
          input.addData(b.toSeq); q.processAllAvailable(); live
        }
        assert(batches.length >= 4 && liveAfter.forall(_ == 2),
          s"live checkpoints after each fold: $liveAfter")
        val batchCurate = SparkEntry.queries("ext_corpus_curate")(spark, sf0001)
        val streamCurate = state.curated
          .select(batchCurate.columns.map(col): _*)
        assert(streamCurate.exceptAll(batchCurate).count() == 0 &&
          batchCurate.exceptAll(streamCurate).count() == 0,
          "stream-curated packs diverge from the one-shot batch composite")
        assert(batchCurate.count() > 0, "vacuous: batch composite empty")
        val batchLin = SparkEntry.queries("ext_corpus_lineage")(spark, sf0001)
        val streamLin = state.lineageRollup
          .select(batchLin.columns.map(col): _*)
        assert(streamLin.exceptAll(batchLin).count() == 0 &&
          batchLin.exceptAll(streamLin).count() == 0,
          "per-stage lineage counts diverge from the batch audit")
        // at-least-once delivery: the SAME epoch re-arrives after a
        // "failure" (same batchId — the ledger's contract; without it the
        // funnel masses would double-count and every replayed doc would
        // self-match against its own stored signature)
        state.sink(batches.head.toSeq.toDF("doc_id", "text", "n_chars"), 0L)
        val replayed = state.curated.select(batchCurate.columns.map(col): _*)
        assert(replayed.exceptAll(batchCurate).count() == 0 &&
          batchCurate.exceptAll(replayed).count() == 0,
          "replayed epoch must fold to a no-op")
        val replayedLin = state.lineageRollup
          .select(batchLin.columns.map(col): _*)
        assert(replayedLin.exceptAll(batchLin).count() == 0 &&
          batchLin.exceptAll(replayedLin).count() == 0,
          "replayed epoch must not perturb the lineage funnel")
      } finally q.stop()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("streaming SCD2 on the keyed backend: live foreachBatch, same dimension") {
    // the production backend under a REAL streaming query (the batch-wise
    // equivalence test below covers the slice mechanics; this covers the
    // foreachBatch wiring end to end)
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val empty = Seq.empty[(Long, String, Long, Option[Long], Int)]
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    val state = new graft.streaming.Scd2Stream.KeyedCdcState(
      empty, "k", "v", "ts", "op", numPartitions = 4)
    val input = MemoryStream[(Long, String, Long)]
    val q = input.toDF().toDF("k", "v", "ts").withColumn("op", lit("U"))
      .writeStream.foreachBatch(state.sink _).outputMode("append").start()
    try {
      input.addData((1L, "a", 10L), (2L, "b", 10L))
      q.processAllAvailable()
      input.addData((1L, "a2", 20L), (3L, "c", 20L))
      q.processAllAvailable()
      val dim = state.dim.as[(Long, String, Long, Option[Long], Int)]
        .collect().toSet
      assert(dim == Set(
        (1L, "a", 10L, Some(20L), 0),
        (1L, "a2", 20L, None, 1),
        (2L, "b", 10L, None, 1),
        (3L, "c", 20L, None, 1)))
      // the second batch touched 2 keys -> at most 2 of 4 slices rewritten twice
      assert(state.partitionVersions.count(_ >= 2) <= 2)
    } finally q.stop()
  }

  test("SCD2 KeyedCdcState on updates: batches rewrite only touched slices, 4 slices ≡ 1 slice") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val empty = Seq.empty[(Long, String, Long, Option[Long], Int)]
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    val keyed = new Scd2Stream.KeyedCdcState(empty, "k", "v", "ts", "op", numPartitions = 4)
    val full = new Scd2Stream.KeyedCdcState(empty, "k", "v", "ts", "op", numPartitions = 1)
    def ups(rows: (Long, String, Long)*) =
      rows.toDF("k", "v", "ts").withColumn("op", lit("U"))
    val b1 = ups((1L to 8L).map(k => (k, s"v$k", 10L)): _*)
    // batch 2 touches ONE key: only that key's partition may be rewritten
    val b2 = ups((1L, "v1b", 20L))
    // batch 3: change + new key + late row, exercising the fold per-slice
    val b3 = ups((2L, "v2b", 30L), (9L, "v9", 30L), (1L, "stale", 5L))
    keyed.sink(b1, 0L); full.sink(b1, 0L)
    val afterSeed = keyed.partitionVersions
    keyed.sink(b2, 1L); full.sink(b2, 1L)
    val afterB2 = keyed.partitionVersions
    val rewrittenByB2 = afterSeed.zip(afterB2).count { case (a, b) => b > a }
    assert(rewrittenByB2 == 1,
      s"single-key batch must rewrite exactly 1 of 4 slices, rewrote $rewrittenByB2")
    keyed.sink(b3, 2L); full.sink(b3, 2L)
    val afterB3 = keyed.partitionVersions
    // b3 touches at most 3 distinct keys → at most 3 slices; dropped-late
    // key 1 still routes (touched is derived pre-fold), so >= 1
    val rewrittenByB3 = afterB2.zip(afterB3).count { case (a, b) => b > a }
    assert(rewrittenByB3 >= 1 && rewrittenByB3 <= 3)
    val got = keyed.dim.as[(Long, String, Long, Option[Long], Int)].collect().toSet
    val want = full.dim.as[(Long, String, Long, Option[Long], Int)].collect().toSet
    assert(got == want, "4-slice backend diverged from the 1-slice full rewrite")
    assert(got.exists { case (k, v, _, _, cur) => k == 1L && v == "v1b" && cur == 1 })
    assert(got.exists { case (k, _, _, to, cur) => k == 1L && cur == 0 && to.contains(20L) })
  }

  test("KeyedCdcState: sliced CDC folds with deletes, 4 slices ≡ 1 slice, untouched slices pinned") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val empty = Seq.empty[(Long, Option[String], Long, Option[Long], Int)]
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    val keyed = new Scd2Stream.KeyedCdcState(empty, "k", "v", "ts", "op",
      numPartitions = 4)
    val full = new Scd2Stream.KeyedCdcState(empty, "k", "v", "ts", "op",
      numPartitions = 1)
    val b1 = (1L to 8L).map(k => (k, s"v$k", 10L, "I")).toDF("k", "v", "ts", "op")
    // a single-key DELETE batch must rewrite exactly one slice
    val b2 = Seq((3L, "x", 20L, "D")).toDF("k", "v", "ts", "op")
    // mixed ops: update, delete, re-insert of the deleted key, new key
    val b3 = Seq((1L, "v1b", 30L, "U"), (5L, "x", 30L, "D"),
      (3L, "v3b", 30L, "I"), (9L, "v9", 30L, "I")).toDF("k", "v", "ts", "op")
    keyed.sink(b1, 0L); full.sink(b1, 0L)
    val afterSeed = keyed.partitionVersions
    keyed.sink(b2, 1L); full.sink(b2, 1L)
    val rewritten = afterSeed.zip(keyed.partitionVersions)
      .count { case (a, b) => b > a }
    assert(rewritten == 1,
      s"single-key delete must rewrite exactly 1 of 4 slices, rewrote $rewritten")
    keyed.sink(b3, 2L); full.sink(b3, 2L)
    // re-delivered epochs, the latest and an older one: no slice rewritten
    val folded = keyed.partitionVersions
    keyed.sink(b3, 2L); keyed.sink(b2, 1L)
    assert(keyed.partitionVersions == folded, "a replayed batchId rewrote slices")
    val got = keyed.dim.as[(Long, Option[String], Long, Option[Long], Int)]
      .collect().toSet
    val want = full.dim.as[(Long, Option[String], Long, Option[Long], Int)]
      .collect().toSet
    assert(got == want, "4-slice CDC backend diverged from the 1-slice full rewrite")
    // deleted-then-reinserted key 3: closed interval + fresh current
    assert(got.exists { case (k, _, _, to, cur) => k == 3L && cur == 0 && to.contains(20L) })
    assert(got.exists { case (k, v, from, _, cur) =>
      k == 3L && cur == 1 && v.contains("v3b") && from == 30L })
    // deleted key 5: closed, no current row
    assert(!got.exists { case (k, _, _, _, cur) => k == 5L && cur == 1 })
    assert(got.exists { case (k, _, _, to, cur) => k == 5L && cur == 0 && to.contains(30L) })
  }

  test("SCD2 applyCdc: null values transition null-safely, null keys drop") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val dim = Seq((1L, Option("a"), 10L, Option.empty[Long], 1))
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    def ups(rows: (Option[Long], Option[String], Long)*) =
      rows.toDF("k", "v", "ts").withColumn("op", lit("U"))
    // transition TO null is a real change; null-key update is dropped
    val up1 = ups((Option(1L), Option.empty[String], 20L),
      (Option.empty[Long], Option("x"), 20L))
    val d1 = Scd2Stream.applyCdc(dim, up1, "k", "v", "ts", "op")
    assert(d1.count() == 2)
    assert(d1.where(col("is_current") === 1 && col("v").isNull).count() == 1)
    // null -> null is a NO-OP (null-safe equality), not version churn
    val up2 = ups((Option(1L), Option.empty[String], 30L))
    val d2 = Scd2Stream.applyCdc(d1, up2, "k", "v", "ts", "op")
    assert(d2.count() == 2)
    // null -> "b" is again a real change
    val up3 = ups((Option(1L), Option("b"), 40L))
    val d3 = Scd2Stream.applyCdc(d2, up3, "k", "v", "ts", "op")
    assert(d3.count() == 3)
    assert(d3.where(col("is_current") === 1).as[(Long, String, Long, Option[Long], Int)]
      .collect().toSeq == Seq((1L, "b", 40L, None, 1)))
  }

  test("SCD2 applyCdc: delete lane expires without opening; re-insert; replay no-op") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val dim = Seq(
      (1L, Option("a"), 10L, Option.empty[Long], 1),
      (2L, Option("b"), 10L, Option.empty[Long], 1))
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    // delete key 1, update key 2, insert key 3 — one batch
    val b1 = Seq((1L, Option.empty[String], 20L, "D"),
      (2L, Option("b2"), 20L, "U"),
      (3L, Option("c"), 20L, "I")).toDF("k", "v", "ts", "op")
    // localCheckpoint per fold: applyCdc runs its open-key probe over its
    // input dim when called, so an unchecked fold chain re-runs every
    // earlier fold's pass on each call — KeyedCdcState's per-batch
    // checkpoint discipline
    val d1 = Scd2Stream.applyCdc(dim, b1, "k", "v", "ts", "op").localCheckpoint()
    // key 1: expired at 20, NO current row; key 2: expired + new; key 3: new
    val cur1 = d1.where(col("is_current") === 1)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(cur1 == Set((2L, "b2"), (3L, "c")))
    assert(d1.where(col("k") === 1 && col("is_current") === 0 &&
      col("effective_to") === 20L).count() == 1)
    assert(d1.where(col("k") === 1 && col("is_current") === 1).count() == 0,
      "a delete must not open a current row")
    // replaying the same batch folds to a no-op (late guards + no open
    // row left to expire for the deleted key)
    val d1r = Scd2Stream.applyCdc(d1, b1, "k", "v", "ts", "op").localCheckpoint()
    assert(d1r.exceptAll(d1).count() == 0 && d1.exceptAll(d1r).count() == 0,
      "replayed CDC batch must be a no-op")
    // a delete for an absent key is a no-op; a late delete is dropped
    val b2 = Seq((9L, Option.empty[String], 30L, "D"),
      (2L, Option.empty[String], 20L, "D")).toDF("k", "v", "ts", "op")
    val d2 = Scd2Stream.applyCdc(d1, b2, "k", "v", "ts", "op").localCheckpoint()
    assert(d2.exceptAll(d1).count() == 0 && d1.exceptAll(d2).count() == 0)
    // re-insert after delete: a fresh current row; history keeps the
    // closed interval
    val b3 = Seq((1L, Option("a9"), 40L, "I")).toDF("k", "v", "ts", "op")
    val d3 = Scd2Stream.applyCdc(d2, b3, "k", "v", "ts", "op").localCheckpoint()
    assert(d3.where(col("k") === 1 && col("is_current") === 1)
      .select("v", "effective_from").as[(String, Long)].collect().toSeq ==
      Seq(("a9", 40L)))
    assert(d3.where(col("k") === 1).count() == 2)
    // same-ts U + D for one key: the update wins (documented policy)
    val b4 = Seq((3L, Option("c2"), 50L, "D"),
      (3L, Option("c3"), 50L, "U")).toDF("k", "v", "ts", "op")
    val d4 = Scd2Stream.applyCdc(d3, b4, "k", "v", "ts", "op").localCheckpoint()
    assert(d4.where(col("k") === 3 && col("is_current") === 1)
      .select("v").as[String].collect().toSeq == Seq("c3"))
  }

  test("streaming CDC fold: live foreachBatch with deletes ≡ sequential applyCdc") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Scd2Stream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val empty = Seq.empty[(Long, Option[String], Long, Option[Long], Int)]
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    val state = new Scd2Stream.KeyedCdcState(empty, "k", "v", "ts", "op",
      numPartitions = 1)
    val input = MemoryStream[(Long, String, Long, String)]
    val q = input.toDF().toDF("k", "v", "ts", "op").writeStream
      .foreachBatch(state.sink _).outputMode("append").start()
    try {
      input.addData(Seq((1L, "a", 10L, "I"), (2L, "b", 10L, "I")))
      q.processAllAvailable()
      input.addData(Seq((1L, "x", 20L, "D"), (2L, "b2", 20L, "U")))
      q.processAllAvailable()
      input.addData(Seq((1L, "a2", 30L, "I")))
      q.processAllAvailable()
      val cur = state.dim.where(col("is_current") === 1)
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(cur == Set((1L, "a2"), (2L, "b2")))
      // full history: k=1 has two closed epochs' rows + current
      assert(state.dim.where(col("k") === 1).count() == 2, // a@10-20, a2@30-
        "delete must close the interval without a ghost current row")
      assert(state.dim.count() == 4)
    } finally q.stop()
  }

  // twelve CDC batches: I/U/D over 60 keys (some values null), a hot key
  // changing many times, late rows older than every earlier batch, and
  // null keys
  private def mixedCdcBatches: Seq[Seq[(Option[Long], Option[String], Long, String)]] = {
    val rnd = new scala.util.Random(7)
    (0 until 12).map { b =>
      val base = 1000L * (b + 1)
      def op() = Seq("I", "U", "U", "D")(rnd.nextInt(4))
      def value() = if (rnd.nextInt(10) == 0) None else Some(s"v${rnd.nextInt(4)}")
      val mixed = Seq.fill(40)((Option(rnd.nextInt(60).toLong), value(),
        base + rnd.nextInt(500), op()))
      val hot = (0 until 8).map(i => (Option(0L), value(), base + i, op()))
      val late = Seq.fill(5)((Option(rnd.nextInt(60).toLong), value(),
        rnd.nextInt(500).toLong, op()))
      val nullKeys = Seq.fill(3)((Option.empty[Long], value(), base, "U"))
      mixed ++ hot ++ late ++ nullKeys
    }
  }

  test("KeyedCdcState: 12 mixed CDC folds keep plan constraints flat; 4 slices ≡ 1 slice") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val empty = Seq.empty[(Long, Option[String], Long, Option[Long], Int)]
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    val batches = mixedCdcBatches.map(_.toDF("k", "v", "ts", "op"))
    // summed constraint text, expression ids stripped: ids grow over the
    // session, and their digit count is not plan size
    def constraintChars(s: Scd2Stream.KeyedCdcState): Int =
      s.dim.queryExecution.optimizedPlan.constraints.toSeq
        .map(_.toString.replaceAll("#\\d+", "").length).sum
    // the snapshot's partitions summed over its slices
    def partitions(s: Scd2Stream.KeyedCdcState): Int = s.dim.rdd.getNumPartitions
    val states = Seq(1, 4).map { n =>
      val s = new Scd2Stream.KeyedCdcState(empty, "k", "v", "ts", "op",
        numPartitions = n)
      var (afterTwo, partsAfterTwo) = (0, 0)
      batches.zipWithIndex.foreach { case (b, i) =>
        s.sink(b, i.toLong)
        if (i == 1) { afterTwo = constraintChars(s); partsAfterTwo = partitions(s) }
      }
      // the snapshot is checkpointed per fold: a fold must not carry its
      // input's constraints into the next snapshot (they compound)
      val afterAll = constraintChars(s)
      info(s"$n slice(s): constraint chars $afterTwo after 2 folds, $afterAll after 12")
      assert(afterAll <= afterTwo,
        s"$n slice(s): constraints grew from $afterTwo to $afterAll chars")
      // nor may a fold add a partition to every slice it rewrites
      val partsAfterAll = partitions(s)
      info(s"$n slice(s): $partsAfterTwo partitions after 2 folds, $partsAfterAll after 12")
      assert(partsAfterAll <= partsAfterTwo,
        s"$n slice(s): partitions grew from $partsAfterTwo to $partsAfterAll")
      s
    }
    def rows(s: Scd2Stream.KeyedCdcState) =
      s.dim.as[(Long, Option[String], Long, Option[Long], Int)].collect().toSet
    val (one, four) = (rows(states(0)), rows(states(1)))
    assert(one == four, s"4 slices diverged from 1: ${one.diff(four)} vs ${four.diff(one)}")
    // non-vacuous: closed history, open rows, at most one open row per key
    assert(one.exists(_._5 == 0) && one.exists(_._5 == 1))
    assert(one.filter(_._5 == 1).groupBy(_._1).forall(_._2.size == 1))
  }

  test("KeyedCdcState.sink job budget: one collect, one probe, one checkpoint per touched slice") {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val sc = spark.sparkContext
    val empty = Seq.empty[(Long, Option[String], Long, Option[Long], Int)]
      .toDF("k", "v", "effective_from", "effective_to", "is_current")
    // an RDD-backed batch, as a streaming source delivers: collecting it
    // is a job, where a local relation's collect launches none
    def batch(rows: Seq[(Option[Long], Option[String], Long, String)]) =
      sc.parallelize(rows, 2).toDF("k", "v", "ts", "op")
    Seq(1, 4).foreach { n =>
      val before = sc.getPersistentRDDs.keySet
      val s = new Scd2Stream.KeyedCdcState(empty, "k", "v", "ts", "op",
        numPartitions = n)
      def liveBlocks = (sc.getPersistentRDDs.keySet -- before).size
      val perBatch = (mixedCdcBatches :+
          Seq.fill(3)((Option.empty[Long], Option("x"), 99999L, "U")))
        .zipWithIndex.map { case (rows, i) =>
          val v0 = s.partitionVersions
          val jobs = jobsOf(s.sink(batch(rows), i.toLong))._2
          val touched = s.partitionVersions.zip(v0).count { case (a, b) => a > b }
          if (rows.forall(_._1.isEmpty)) {
            assert(jobs == 1, s"$n slice(s): an all-null-key batch launched $jobs jobs")
            assert(s.partitionVersions == v0, s"$n slice(s): an all-null-key batch rewrote slices")
          } else {
            assert(touched >= 1)
            assert(jobs <= 2 + touched,
              s"$n slice(s), batch $i: $jobs jobs for $touched touched slices")
          }
          // the fold keeps one checkpoint per slice, nothing per batch
          assert(liveBlocks == n, s"$n slice(s), batch $i: $liveBlocks live checkpoints")
          jobs
        }
      info(s"$n slice(s): jobs per batch ${perBatch.mkString(", ")}")
      if (n == 1) assert(perBatch.forall(_ <= 3))
    }
  }

  test("flatMapGroupsWithState sessions: timeout emits completed sessions") {
    import spark.implicits._
    graft.streaming.SessionState.runSessions(spark, sf0001, "ev_sessions",
      gapMs = 30L * 60 * 1000)
    val sessions = spark.table("ev_sessions")
    assert(sessions.count() > 0)
    // single-batch drive: each user's events fold into one open session,
    // so an EMITTED (timed-out) session must carry the user's FULL batch
    // event count and min-max duration — check against the static table
    val perUser = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_all"),
        // state folds ms-truncated per-event times, so truncate BEFORE
        // differencing (floor(max/1e6) - floor(min/1e6), not floor(diff))
        expr("max(ts) div 1000000 - min(ts) div 1000000").as("dur_ms"))
    val joined = sessions.join(perUser, Seq("user_id"))
    assert(joined.where(col("n_events") =!= col("n_all")).count() == 0)
    assert(joined.where(col("duration_ms") =!= col("dur_ms")).count() == 0)
    // at most one emitted session per user in a single-batch run
    val dups = sessions.groupBy("user_id").count().where(col("count") > 1)
    assert(dups.count() == 0)
  }

  test("streaming novelty flags: day-ordered batches ≡ the batch monitor") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.NoveltyStream
    import graft.streaming.NoveltyStream.KeyDay
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dayNs = 86400000000000L
    val keyDays = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"),
        expr(s"ts div $dayNs").as("day"))
      .as[KeyDay].collect()
    // three day-ordered batches WITH cross-batch repeats: batch 2 replays
    // some of batch 1's (key, day) rows — the state must not re-emit them
    val days = keyDays.map(_.day).distinct.sorted
    val (d1, d2) = (days(days.length / 3), days(2 * days.length / 3))
    val batches = Seq(
      keyDays.filter(_.day <= d1).toSeq,
      (keyDays.filter(k => k.day > d1 && k.day <= d2) ++
        keyDays.filter(_.day <= d1).take(50)).toSeq,
      keyDays.filter(_.day > d2).toSeq)
    val input = MemoryStream[KeyDay]
    val q = NoveltyStream.noveltyFlags(input.toDS()).writeStream
      .format("memory").queryName("novelty_flags").outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val streamed = NoveltyStream.noveltyCounts(spark.table("novelty_flags"))
      val batch = SparkEntry.queries("ext_events_novelty")(spark, sf0001)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streamed novelty counts diverged from the batch monitor")
      // flags are append-only distinct (key, day) rows
      val flags = spark.table("novelty_flags")
      assert(flags.groupBy("user_id", "event_type", "day").count()
        .where(col("count") > 1).count() == 0)
    } finally q.stop()
  }

  test("streaming metrics: foreachBatch-folded state ≡ one-shot batch aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("user_id", "n_events", "total_cents", "max_cents")
    val state = new graft.streaming.MetricsStream.MetricsState(empty)
    val input = MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("user_id", "value").writeStream
      .foreachBatch(state.sink _).outputMode("append").start()
    val rows = Seq(
      Seq((1L, 1.25), (2L, 2.0), (1L, 0.5)),
      Seq((2L, -1.0), (3L, 10.105)),          // negative + half-cent value
      Seq((1L, 3.0), (3L, 0.0)))
    try {
      rows.foreach { batch =>
        input.addData(batch: _*)
        q.processAllAvailable()
      }
      val oneShot = graft.operators.Incremental.eventState(
        rows.flatten.toDF("user_id", "value"))
      assert(state.state.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(state.state).isEmpty,
        "micro-batch boundaries leaked into the folded metrics state")
      // STREAMED PARETO READOUT off the same folded state: per-user cents
      // accumulate across batches (so a per-VALUE frame could never fold
      // additively — a user's total moves between cells), but the per-USER
      // monoid state can, and the whale-concentration readout is a pure
      // function of it. ValueGrid.paretoShares over the state ≡ the
      // one-shot computation — the served number never sees the batch
      // boundaries, at both the exact and the grid-bounded operating point.
      for (step <- Seq(1L, 50L)) {
        val streamedPareto = graft.operators.ValueGrid.paretoShares(
          state.state.select(col("user_id"), col("total_cents").as("cents")),
          Seq(10, 50), step)
        val batchPareto = graft.operators.ValueGrid.paretoShares(
          oneShot.select(col("user_id"), col("total_cents").as("cents")),
          Seq(10, 50), step)
        assert(streamedPareto.exceptAll(batchPareto).isEmpty &&
          batchPareto.exceptAll(streamedPareto).isEmpty,
          s"streamed Pareto readout diverged at grid step $step")
      }
      // at-least-once delivery: batch 1 re-arrives under its own id
      // after batch 2; the sums must not count it twice
      val direct = new graft.streaming.MetricsStream.MetricsState(empty)
      Seq(0, 1, 2, 1).foreach(i =>
        direct.sink(rows(i).toDF("user_id", "value"), i.toLong))
      assert(direct.state.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(direct.state).isEmpty,
        "a replayed batchId double-counted the metrics state")
    } finally q.stop()
  }

  test("streaming quota seqs: ts-ordered batches ≡ the batch window, any intra-batch order") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.QuotaStream
    import graft.streaming.QuotaStream.Ev
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dayNs = 86400000000000L
    val evs = Tables.events(spark, sf0001)
      .select(col("user_id"), expr(s"ts div $dayNs").as("day"),
        col("ts"), col("event_id"))
      .as[Ev].collect()
    // slice the (ts, event_id)-sorted stream by INDEX so each key's
    // events arrive in order across batches even through ts ties;
    // shuffle each batch internally (reversed) — numbering must not care
    val sorted = evs.sortBy(e => (e.ts, e.event_id))
    val cut = sorted.length / 3
    val batches = Seq(
      sorted.slice(0, cut).reverse.toSeq,
      sorted.slice(cut, 2 * cut).reverse.toSeq,
      sorted.drop(2 * cut).reverse.toSeq)
    val input = MemoryStream[Ev]
    val q = QuotaStream.numberEvents(input.toDS()).writeStream
      .format("memory").queryName("quota_seqs").outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("quota_seqs")
      val batch = graft.operators.Relational.arrivalSeq(
        evs.toSeq.toDF("user_id", "day", "ts", "event_id"),
        Seq("user_id", "day"), Seq(col("ts"), col("event_id")))
        .select("user_id", "day", "ts", "event_id", "seq")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streamed arrival seqs diverged from the batch window")
      // every event numbered exactly once
      assert(streamed.count() == evs.length)
    } finally q.stop()
  }

  test("streaming lincount: OR-merged bitmap ≡ one-shot sketch despite replays") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val empty = Seq.empty[(String, Long)].toDF("grp", "k")
    val state = new graft.streaming.SketchStream.LincountState(
      empty, "k", "grp", buckets = 1024)
    val input = MemoryStream[(String, Long)]
    val q = input.toDF().toDF("grp", "k").writeStream
      .foreachBatch(state.sink _).outputMode("append").start()
    val batches = Seq(
      (1L to 40L).map(k => ("g1", k)) :+ ("g2", 7L),
      // heavy overlap with batch 1: the idempotent OR must not inflate
      (20L to 60L).map(k => ("g1", k)) :+ ("g2", 7L),
      Seq(("g2", 8L), ("g2", 9L)))
    try {
      batches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
      val oneShot = graft.operators.Sketches.lincountEstimate(
        graft.operators.Sketches.lincountState(
          batches.flatten.toDF("grp", "k"), "k", "grp", 1024),
        "grp", 1024)
      val folded = state.estimate()
      assert(folded.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(folded).isEmpty,
        "micro-batch boundaries or replays leaked into the folded sketch")
      // and the audit path agrees with the state path on the estimate
      val audit = graft.operators.Sketches.linearCountDistinct(
          batches.flatten.toDF("grp", "k"), "k", "grp", 1024)
        .select("grp", "n_occupied", "est")
      assert(audit.exceptAll(folded).isEmpty && folded.exceptAll(audit).isEmpty)
      // the last epoch re-delivered under its own batchId: no fold at all
      val snapshot = state.state
      state.sink(batches.last.toDF("grp", "k"), state.lastFolded)
      assert(state.state eq snapshot, "a replayed batchId must not fold")
    } finally q.stop()
  }

  test("streamed overlap readout ≡ batch audit estimates off the same key universe") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("grp", "k")
    val state = new graft.streaming.SketchStream.LincountState(
      empty, "k", "grp", buckets = 1024)
    // a∩b = {10..25} split across batches with replayed keys — the
    // OR-merged state must serve the SAME pairwise estimates as the
    // one-shot batch audit
    val batches = Seq(
      (1L to 25L).map(k => ("a", k)),
      (10L to 40L).map(k => ("b", k)) ++ (20L to 25L).map(k => ("a", k)),
      Seq(("c", 999L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      state.sink(b.toDF("grp", "k"), i.toLong)
    }
    val streamed = state.overlap()
    val audit = graft.operators.Sketches.lincountOverlapAudit(
        batches.flatten.toDF("grp", "k"), "k", "grp", 1024)
      .select("grp_a", "grp_b", "occ_a", "occ_b", "n_shared",
        "est_a", "est_b", "est_union", "est_overlap")
    assert(streamed.exceptAll(audit).isEmpty && audit.exceptAll(streamed).isEmpty,
      "folded state must be indistinguishable from the one-shot bitmap")
    // sanity: the a-b estimate actually tracks the 16-key true overlap
    val ab = streamed.where(col("grp_a") === "a" && col("grp_b") === "b")
      .select("est_overlap").as[Double].collect().head
    assert(math.abs(ab - 16.0) < 2.0)
  }

  test("streaming attribution ≡ batch under ts-ordered replay; replayed epoch no-ops") {
    import spark.implicits._
    val ev = Tables.events(spark, sf0001)
    val minTs = ev.agg(min(col("ts"))).collect().head.getLong(0)
    val maxTs = ev.agg(max(col("ts"))).collect().head.getLong(0)
    val cut1 = minTs + (maxTs - minTs) / 3
    val cut2 = minTs + 2 * (maxTs - minTs) / 3
    val empty = ev.where(lit(false))
    val dayNs = 86400L * 1000000000L
    val state = new graft.streaming.AttribStream.AttribState(
      empty, 86400L * 1000000000L, dayNs)
    assert(state.rollup().isEmpty,
      "a probe before the first micro-batch must return zero rows, not throw")
    val batches = Seq(
      ev.where(col("ts") < cut1),
      ev.where(col("ts") >= cut1 && col("ts") < cut2),
      ev.where(col("ts") >= cut2))
    batches.zipWithIndex.foreach { case (b, i) => state.sink(b, i.toLong) }
    // at-least-once: re-deliver epoch 1 — additive attribution rows
    // must not duplicate
    state.sink(batches(1), 1L)
    // the carried state is the bounded daily frame, not purchase history
    assert(state.daily.count() <=
      ev.select(expr(s"ts div $dayNs")).distinct().count())
    val streamed = state.rollup()
    val batch = SparkEntry.queries("ext_events_attrib")(spark, sf0001)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed attribution must reproduce the batch rollup exactly")
    // the state really is one row per clicking user
    val users = ev.where(col("event_type") === "click")
      .select("user_id").distinct().count()
    assert(state.lastClick.count() == users)
  }

  test("streaming leaderboard ≡ one-shot top-k under unordered batches + replay") {
    val ev = Tables.events(spark, sf0001)
    val k = 5
    val state = new graft.streaming.LeaderboardStream.TopKState(
      ev.where(lit(false)), k)
    // unordered delivery: the semilattice makes batch boundaries irrelevant
    val batches = Seq(
      ev.where(col("event_id") % 3 === 2),
      ev.where(col("event_id") % 3 === 0),
      ev.where(col("event_id") % 3 === 1))
    batches.zipWithIndex.foreach { case (b, i) => state.sink(b, i.toLong) }
    state.sink(batches(2), 2L) // replayed epoch must no-op
    val oneShot = graft.operators.Incremental.topKState(ev, k)
    assert(state.state.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(state.state).isEmpty,
      "folded leaderboard must equal the one-shot per-group top-k")
    // state is K rows per group, never more
    val groups = ev.select("event_type").distinct().count()
    assert(state.state.count() <= k * groups)
  }

  test("streaming feature composite ≡ ext_temporal_pipeline under ordered replay; replayed epoch no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf0001)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("vfrom"), col("event_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vfrom"), col("event_id"))
      .withColumn("vto", lead(col("vfrom"), 1).over(vw))
      .select(col("user_id"), col("vfrom"), col("vto"),
        col("event_id").as("view_id"))
    val rows = purchases.as[(Long, Long, Long)].collect()
    assert(rows.length >= 9, "fixture too small to micro-batch")
    val state = new graft.streaming.FeatureStream.FeatureState(
      clicks, views, "user_id", "ts", "event_id")
    val input = MemoryStream[(Long, Long, Long)]
    val q = input.toDF().toDF("user_id", "ts", "event_id").writeStream
      .foreachBatch(state.sink _).outputMode("append").start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      for (b <- Seq(b1, b2, b3)) { input.addData(b.toSeq); q.processAllAvailable() }
      val oneShot = graft.queries.ExtQueries.queries
        .find(_.name == "ext_temporal_pipeline").get.fn(spark, sf0001)
      val streamed = state.features.select(oneShot.columns.map(col): _*)
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(oneShot).count() == 0 &&
        oneShot.exceptAll(streamed).count() == 0,
        "streamed features diverge from the one-shot temporal composite")
      // replayed epoch folds away
      state.sink(b2.toSeq.toDF("user_id", "ts", "event_id"), 1L)
      val replayed = state.features.select(oneShot.columns.map(col): _*)
      assert(replayed.exceptAll(oneShot).count() == 0 &&
        oneShot.exceptAll(replayed).count() == 0,
        "replayed epoch must fold to a no-op")
    } finally q.stop()
  }

  test("streaming interval alignment ≡ one-shot interval join (ext_interval_exec); replayed epoch no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the ext_interval_exec fixture: per-user validity chains for clicks
    // (the streaming side, fed as FINISHED version rows) and views (the
    // static history). Chaining happens BEFORE the stream — vto derived
    // from the next version is not batch-local, so the stream contract
    // takes stamped intervals, the SCD2 CDC feed shape.
    val ev = Tables.events(spark, sf0001)
    def chain(t: String, idAs: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("vfrom"), col("event_id"))
      ev.where(col("event_type") === t)
        .select(col("user_id"), col("ts").as("vfrom"), col("event_id"))
        .withColumn("vto", lead(col("vfrom"), 1).over(w))
        .select(col("user_id"), col("vfrom"), col("vto"),
          col("event_id").as(idAs))
    }
    val clicks = chain("click", "l_id")
    val views = chain("view", "r_id")
    val rows = clicks.select("user_id", "vfrom", "vto", "l_id")
      .as[(Long, Long, Option[Long], Long)].collect()
    assert(rows.length >= 9, "fixture too small to micro-batch")
    val state = new graft.streaming.IntervalStream.IntervalState(
      views, "user_id", "vfrom", "vto", Seq("r_id"))
    val input = MemoryStream[(Long, Long, Option[Long], Long)]
    val q = input.toDF().toDF("user_id", "vfrom", "vto", "l_id").writeStream
      .foreachBatch(state.sink _).outputMode("append").start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      for (b <- Seq(b1, b2, b3)) { input.addData(b.toSeq); q.processAllAvailable() }
      val oneShot = graft.plans.IntervalJoin.intervalJoinExec(
        clicks, views, "user_id", "vfrom", "vto", Seq("r_id"))
        .select("user_id", "l_id", "r_id")
      val streamed = state.aligned.select("user_id", "l_id", "r_id")
      assert(oneShot.count() > clicks.count(),
        "vacuous: chains must actually fan out")
      assert(streamed.exceptAll(oneShot).count() == 0 &&
        oneShot.exceptAll(streamed).count() == 0,
        "stream-aligned pairs diverge from the one-shot interval join")
      // at-least-once replay: re-deliver an epoch — the ledger folds it
      state.sink(b2.toSeq.toDF("user_id", "vfrom", "vto", "l_id"), 1L)
      val replayed = state.aligned.select("user_id", "l_id", "r_id")
      assert(replayed.exceptAll(oneShot).count() == 0 &&
        oneShot.exceptAll(replayed).count() == 0,
        "replayed epoch must fold to a no-op")
    } finally q.stop()
  }

  test("streaming as-of enrichment ≡ one-shot batch enrichment; replayed epoch no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf0001)
    val dim = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("dim_id"), col("value").as("dim_value"))
    val facts = ev.where(col("event_type") =!= "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    val rows = facts.as[(Long, Long, Long)].collect()
    assert(rows.length >= 9, "fixture too small to micro-batch")
    val state = new graft.streaming.EnrichStream.EnrichState(
      dim, "user_id", "ts", "event_id", Seq("dim_id", "dim_value"))
    val input = MemoryStream[(Long, Long, Long)]
    val q = input.toDF().toDF("user_id", "ts", "event_id").writeStream
      .foreachBatch(state.sink _).outputMode("append").start()
    try {
      // three uneven micro-batches covering the whole fact set
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      for (b <- Seq(b1, b2, b3)) { input.addData(b.toSeq); q.processAllAvailable() }
      val oneShot = graft.plans.AsofJoin.asofJoinExec(facts, dim,
        "user_id", "ts", "event_id", Seq("dim_id", "dim_value"))
      val streamed = state.enriched.select(oneShot.columns.map(col): _*)
      assert(streamed.count() == rows.length,
        "enrichment must be row-preserving across the micro-batches")
      assert(streamed.exceptAll(oneShot).count() == 0 &&
        oneShot.exceptAll(streamed).count() == 0,
        "stream-enriched facts diverge from the one-shot batch enrichment")
      assert(oneShot.where(col("dim_id").isNotNull).count() > 0 &&
        oneShot.where(col("dim_id").isNull).count() > 0,
        "vacuous: fixture must exercise both matched and unmatched lanes")
      // at-least-once replay: re-deliver an epoch by hand — the ledger,
      // not luck, keeps the accumulated result unchanged
      state.sink(b2.toSeq.toDF("user_id", "ts", "event_id"), 1L)
      val replayed = state.enriched.select(oneShot.columns.map(col): _*)
      assert(replayed.count() == rows.length &&
        replayed.exceptAll(oneShot).count() == 0,
        "replayed epoch must fold to a no-op")
    } finally q.stop()
  }

  test("streaming graph admission ≡ one-shot index; replayed epoch no-ops") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_gis").toString
    try {
      val state = new graft.streaming.GraphIngestStream.GraphState(
        "vec_id", "embedding", 25, 8, s"$dir/stream")
      // the first batch is the historical load (it defines the quantizer);
      // the next two are admission batches
      val batches = Seq(
        emb.where(col("vec_id") % 3 =!= 0),
        emb.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 1))
      state.sink(batches(0), 0L)
      state.sink(batches(1), 1L)
      // at-least-once delivery: a re-run admission epoch must not
      // double-append its vectors (the ledger, not luck)
      state.sink(batches(1), 1L)
      // driver restart: a FRESH incarnation over the same path must
      // resume by ADMITTING (an index is on disk), never rebuild-and-
      // overwrite from its first batch
      val restarted = new graft.streaming.GraphIngestStream.GraphState(
        "vec_id", "embedding", 25, 8, s"$dir/stream")
      restarted.sink(batches(2), 0L)
      // one-shot reference: same load, rest admitted in ONE batch —
      // equal by the batch-split invariance
      Similarity.writeGraphIndex(batches(0), "vec_id", "embedding",
        25, 8, s"$dir/ref")
      Similarity.appendToGraphIndex(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", 8, s"$dir/ref")
      for (f <- Seq("edges", "vecs", "cells")) {
        val a = spark.read.parquet(s"$dir/stream/$f")
        val b = spark.read.parquet(s"$dir/ref/$f")
          .select(a.columns.map(col): _*)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"streamed $f diverged from the one-shot index")
      }
      // the serve path works off the folded on-disk state
      val served = state.probe(emb.where(col("vec_id") % 50 === 0), 5, 8, 8, 3)
      assert(served.count() > 0)
      // the guard's state is one high-water id however many batches fold:
      // 200 empty epochs, then a replay of one of them builds nothing
      val long = new graft.streaming.GraphIngestStream.GraphState(
        "vec_id", "embedding", 25, 8, s"$dir/long")
      (0L until 200L).foreach(i => long.sink(emb.where(lit(false)), i))
      assert(long.lastFolded == 199L)
      long.sink(batches(0), 7L)
      assert(!new java.io.File(s"$dir/long").exists,
        "a replayed batchId must not fold")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("streaming CUSUM ≡ batch changepoints under any split; replayed epoch no-ops") {
    val ev = Tables.events(spark, sf0001)
    val dayNs = 86400000000000L
    val empty = ev.where(lit(false))
    val state = new graft.streaming.MonitorStream.CusumState(empty, dayNs)
    // NOT ts-ordered on purpose: additive counts are a commutative
    // monoid, so arrival order must not matter (unlike attribution)
    val batches = Seq(
      ev.where(col("event_id") % 3 === 1),
      ev.where(col("event_id") % 3 === 2),
      ev.where(col("event_id") % 3 === 0))
    batches.zipWithIndex.foreach { case (b, i) => state.sink(b, i.toLong) }
    state.sink(batches(0), 0L) // at-least-once re-delivery must no-op
    val streamed = state.changepoints()
    val batch = SparkEntry.queries("ext_events_cusum")(spark, sf0001)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "folded-state CUSUM must equal the one-shot batch changepoints")
    // the state really is the compact daily frame, not event history
    val days = ev.select(expr(s"ts div $dayNs")).distinct().count()
    val types = ev.select("event_type").distinct().count()
    assert(state.daily.count() <= days * types)
  }

  test("idempotent hist sink: batchId ledger turns a replayed epoch into a no-op") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double)].toDF("grp", "v")
    val state = new graft.streaming.SketchStream.HistState(
      empty, "v", "grp", lo = 0.0, hi = 128.0, bins = 64)
    val b1 = (1 to 50).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val b2 = (51 to 80).map(i => ("g", i.toDouble)).toDF("grp", "v")
    state.sink(b1, batchId = 0L)
    state.sink(b2, batchId = 1L)
    val afterClean = state.state.agg(sum(col("cnt"))).collect().head.getLong(0)
    assert(afterClean == 80L)
    // at-least-once delivery: the SAME epoch re-arrives after a "failure"
    state.sink(b1, batchId = 0L)
    val afterReplay = state.state.agg(sum(col("cnt"))).collect().head.getLong(0)
    assert(afterReplay == 80L,
      "a replayed batchId must not double-count additive state")
    // but the raw merge WOULD have: that's the defect the ledger guards
    val naive = graft.operators.Sketches.mergeHistStates(state.state,
      graft.operators.Sketches.fixedHistState(b1, "v", "grp", 0.0, 128.0, 64))
    assert(naive.agg(sum(col("cnt"))).collect().head.getLong(0) == 130L)
    // estimates come off the protected state
    val p50 = state.quantiles(Seq(0.5)).select("est").as[Double].collect().head
    assert(p50 > 30.0 && p50 < 50.0) // true median 40.5, bin width 2
  }
}
