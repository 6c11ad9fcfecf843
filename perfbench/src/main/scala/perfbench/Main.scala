package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      Paths.get(need("work")).toAbsolutePath)
  }
}

/** Shared state of one run: the session, the tracer, the report and the
  * run's scratch directory.
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val report = new Report
  val cpus: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = opts.work.resolve(name).toString

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  private val t0 = System.nanoTime()
  /** Progress line on standard error. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  /** Wall time of `body` in milliseconds. */
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** One timed operation: counts toward `attempted`, and a throw counts as
    * failed (logged to stderr) instead of ending the run.
    */
  def op[T](what: String)(body: => T): Option[(T, Double)] = {
    report.attempted += 1
    try Some(timeMs(body))
    catch {
      case e: Exception =>
        report.failed += 1
        System.err.println(s"[perfbench] operation $what failed: $e")
        None
    }
  }
}

/** A closed-loop workload. `iteration` runs one loop iteration and records
  * its own samples; `traced` says whether spans are being recorded.
  * `verify` checks that iteration's outputs, outside the timed window.
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  def checksums(ctx: Ctx): Seq[(String, String)]
  def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit
  def verify(ctx: Ctx, i: Int, traced: Boolean): Unit
  /** Primary operation latencies of the untraced measured iterations. */
  def opSamplesMs: Seq[Double]
  /** Correctness checks and workload metrics, after the measured window. */
  def finish(ctx: Ctx): Unit
  /** Standalone kernel timings for the traced run (functions layer). */
  def kernels(ctx: Ctx): Unit = ()
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val workload: Workload = opts.workload match {
      case "scd2_nightly" => new Scd2Nightly(opts.seed)
      case "corpus_curate" => new CorpusCurate(opts.seed)
      case "ann_serve" => new AnnServe(opts.seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(opts)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try run(opts, workload, spark, sessionS).foreach(println)
    finally spark.stop()
  }

  def session(opts: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(opts.work)
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.sql.catalogImplementation", "in-memory")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(opts: Opts, w: Workload, spark: SparkSession, sessionS: Double): Seq[String] = {
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, opts, tracer)
    val r = ctx.report
    val out = mutable.ArrayBuffer[String]()
    out += s"perfbench workload=${opts.workload} seed=${opts.seed} seconds=${opts.seconds} " +
      s"trace=${if (opts.trace) 1 else 0} cpus=${ctx.cpus}"

    // set-up: generate inputs (and build the index) several times, report the median
    val reps = (1 to SetupReps).map { k =>
      val s = ctx.timeMs(w.setup(ctx))._2 / 1000.0
      ctx.log(f"setup $k: $s%.2f s")
      s
    }
    r.e2e("setup_s", sessionS + Stats.median(reps), SetupReps)
    r.info("setup_session_s", sessionS, "s", 1)
    r.info("setup_inputs_s", Stats.median(reps), "s", SetupReps)
    w.checksums(ctx).foreach { case (t, c) => out += s"checksum $t $c" }

    // warm-up: first iteration, reported apart from the steady state
    val warm = ctx.timeMs(w.iteration(ctx, 0, traced = false))._2 / 1000.0
    w.verify(ctx, 0, traced = false)
    r.info("warmup_iter_s", warm, "s", 1)
    ctx.log(f"warm-up iteration: $warm%.2f s")
    tracer.reset()

    // measured window: closed loop, one client, whole iterations until
    // their summed wall time reaches --seconds (checks and heap readings
    // between iterations do not count). A traced run alternates traced and
    // untraced iterations so it can report its own overhead.
    val plain, traced = mutable.ArrayBuffer[Double]()
    val retained = mutable.ArrayBuffer[Double]()
    val gc0 = Jvm.gcMs()
    var i = 1
    def more = plain.sum + traced.sum < opts.seconds || plain.isEmpty || (opts.trace && traced.isEmpty)
    while (more) {
      val t = opts.trace && i % 2 == 1
      tracer.setEnabled(t)
      val s = ctx.timeMs(w.iteration(ctx, i, t))._2 / 1000.0
      tracer.setEnabled(false)
      w.verify(ctx, i, t)
      (if (t) traced else plain) += s
      ctx.log(f"iteration $i${if (t) " (traced)" else ""}: $s%.2f s")
      retained += Jvm.retainedMb()
      i += 1
    }
    val gcMs = Jvm.gcMs() - gc0
    r.e2e("iter_s", Stats.median(plain.toSeq), plain.size)
    r.e2e("op_p50_ms", Stats.median(w.opSamplesMs), w.opSamplesMs.size)
    r.e2e("peak_heap_mb", retained.max, retained.size, "measured")
    w.finish(ctx)
    if (opts.trace) {
      layers(ctx, traced.toSeq, plain.toSeq, gcMs)
      tracer.setEnabled(true)
      w.kernels(ctx)
      tracer.setEnabled(false)
      val spansFile = opts.work.resolve(s"spans-${opts.workload}-${opts.seed}.jsonl")
      tracer.writeSpans(spansFile)
      out += s"spans ${tracer.allSpans.size} written to $spansFile"
    }
    out ++= r.render(opts.trace)
    out.toSeq
  }

  /** Per-layer figures from the traced iterations' spans and tallies (the
    * standalone kernel timings come after, from `Workload.kernels`).
    */
  private def layers(ctx: Ctx, traced: Seq[Double], plain: Seq[Double], gcMs: Long): Unit = {
    val r = ctx.report
    val t = ctx.tracer
    val spans = t.allSpans
    val iters = traced.size.max(1)
    val ops = spans.count(_.parent < 0).max(1)
    val all = t.total
    val mb = 1048576.0
    r.layer("sources.read_mb", all.readBytes / mb / iters, iters)
    r.layer("sources.read_rows", all.readRows.toDouble / iters, iters)
    r.layer("sources.write_mb", t.bytesWritten / mb / iters, iters)
    r.layer("sources.files_written", t.filesWritten.toDouble / iters, iters)
    r.layer("sources.write_s", t.writeNs / 1e9 / iters, iters)
    r.layer("plans.plan_ms", if (t.actions == 0) 0.0 else t.planMs / t.actions, t.actions)
    r.layer("plans.actions", t.actions.toDouble / iters, iters)
    r.layer("plans.driver_self_ms", t.driverSelfMs(_.parent < 0) / ops, ops)
    r.layer("plans.exchanges", t.exchanges.toDouble / iters, iters)
    r.layer("plans.broadcasts", t.broadcasts.toDouble / iters, iters)
    r.layer("spark.jobs", all.jobs.toDouble / ops, ops)
    r.layer("spark.stages", all.stages.toDouble / ops, ops)
    r.layer("spark.tasks", all.tasks.toDouble / ops, ops)
    r.layer("spark.sched_delay_ms", all.schedMs.toDouble / ops, ops)
    r.layer("spark.task_busy_s", all.runMs / 1000.0 / iters, iters)
    r.layer("spark.core_util", all.runMs / 1000.0 / (traced.sum * ctx.cpus), iters)
    r.layer("spark.shuffle_write_mb", all.shuffleWrite / mb / iters, iters)
    r.layer("spark.shuffle_read_mb", all.shuffleRead / mb / iters, iters)
    r.layer("spark.spill_mb", all.spill / mb / iters, iters)
    r.layer("spark.gc_ms", gcMs.toDouble / (traced.size + plain.size), traced.size + plain.size)
    Spans.selfNsByLayer(spans).foreach { case (layer, ns) =>
      val name = s"$layer.self_s"
      if (Metrics.PerLayer.exists(_._1 == name)) r.layer(name, ns / 1e9 / iters, iters)
    }
    if (plain.nonEmpty && traced.nonEmpty)
      r.layer("trace.overhead_frac", Stats.median(traced) / Stats.median(plain) - 1, traced.size + plain.size)
    r.layer("trace.spans", spans.size.toDouble, 1)
  }

  /** Median of the durations (seconds) of the spans named `name`. */
  def spanMedianS(ctx: Ctx, name: String): (Double, Int) = {
    val ds = ctx.tracer.allSpans.filter(_.name == name).map(_.durNs / 1e9)
    (if (ds.isEmpty) 0.0 else Stats.median(ds), ds.size)
  }
}
