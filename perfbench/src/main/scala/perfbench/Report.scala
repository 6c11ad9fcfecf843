package perfbench

import scala.collection.mutable

/** A reported figure. `n` is its sample count; `kind` says whether it
  * repeats exactly for a given seed and iteration count ("exact": rows,
  * files, jobs, bytes, slices) or is a timing ("timing") or another
  * measurement that varies run to run ("measured": heap).
  */
final case class Metric(name: String, value: Double, unit: String, n: Long, kind: String)

object Metrics {
  /** End-to-end metrics, reported by every workload (BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "iter_s" -> "s", "op_p50_ms" -> "ms", "peak_heap_mb" -> "mb")

  /** Per-layer metrics, reported by every traced run; a layer a workload
    * does not exercise reports 0.
    */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("sources.read_mb", "mb", "exact"),
    ("sources.read_rows", "count", "exact"),
    ("sources.rows_scanned_per_result", "ratio", "exact"),
    ("sources.write_mb", "mb", "exact"),
    ("sources.files_written", "count", "exact"),
    ("sources.write_s", "s", "timing"),
    ("sources.index_files", "count", "exact"),
    ("sources.self_s", "s", "timing"),
    ("plans.plan_ms", "ms", "timing"),
    ("plans.actions", "count", "exact"),
    ("plans.driver_self_ms", "ms", "timing"),
    ("plans.exchanges", "count", "exact"),
    ("plans.broadcasts", "count", "exact"),
    ("spark.jobs", "count", "exact"),
    ("spark.stages", "count", "exact"),
    ("spark.tasks", "count", "exact"),
    ("spark.sched_delay_ms", "ms", "timing"),
    ("spark.task_busy_s", "s", "timing"),
    ("spark.core_util", "ratio", "timing"),
    ("spark.shuffle_write_mb", "mb", "exact"),
    ("spark.shuffle_read_mb", "mb", "exact"),
    ("spark.spill_mb", "mb", "exact"),
    ("spark.gc_ms", "ms", "timing"),
    ("operators.refresh_upsert_s", "s", "timing"),
    ("operators.refresh_insert_s", "s", "timing"),
    ("operators.refresh_delta_s", "s", "timing"),
    ("operators.refresh_upsert_rows", "count", "exact"),
    ("operators.refresh_insert_rows", "count", "exact"),
    ("operators.refresh_delta_rows", "count", "exact"),
    ("operators.clean_s", "s", "timing"),
    ("operators.minhash_s", "s", "timing"),
    ("operators.cc_s", "s", "timing"),
    ("operators.tfidf_s", "s", "timing"),
    ("operators.pairs_out", "count", "exact"),
    ("operators.components", "count", "exact"),
    ("operators.probe_s", "s", "timing"),
    ("operators.append_s", "s", "timing"),
    ("operators.delete_s", "s", "timing"),
    ("operators.self_s", "s", "timing"),
    ("streaming.sink_ms", "ms", "timing"),
    ("streaming.driver_self_ms", "ms", "timing"),
    ("streaming.slices_rewritten_frac", "ratio", "exact"),
    ("streaming.state_rows", "count", "exact"),
    ("streaming.state_mb", "mb", "exact"),
    ("streaming.self_s", "s", "timing"),
    ("functions.shingle_ns_per_char", "ns", "timing"),
    ("functions.polyhash_ns_per_char", "ns", "timing"),
    ("functions.dot_ns_per_dim", "ns", "timing"),
    ("functions.nearest_centroid_ns_per_vec", "ns", "timing"),
    ("trace.overhead_frac", "ratio", "timing"),
    ("trace.spans", "count", "exact"))
}

/** What one run measured and checked. */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, Metric]()
  val perLayer = mutable.LinkedHashMap[String, Metric]()
  /** Workload-specific figures printed for reading, not gated. */
  val detail = mutable.LinkedHashMap[String, Metric]()
  /** Check name -> (passed, failed, detail of the first failure or the last pass). */
  val checks = mutable.LinkedHashMap[String, (Int, Int, String)]()
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, value: Double, n: Long, kind: String = "timing"): Unit = {
    val unit = Metrics.EndToEnd.find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"not an end-to-end metric: $name"))
    endToEnd(name) = Metric(name, value, unit, n, kind)
  }

  def layer(name: String, value: Double, n: Long): Unit = {
    val (_, unit, kind) = Metrics.PerLayer.find(_._1 == name)
      .getOrElse(throw new IllegalArgumentException(s"not a per-layer metric: $name"))
    perLayer(name) = Metric(name, value, unit, n, kind)
  }

  def info(name: String, value: Double, unit: String, n: Long, kind: String = "timing"): Unit =
    detail(name) = Metric(name, value, unit, n, kind)

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    val (p, f, d) = checks.getOrElse(name, (0, 0, ""))
    checks(name) = if (ok) (p + 1, f, if (f == 0) detail else d) else (p, f + 1, if (f == 0) detail else d)
  }

  private def line(m: Metric): String =
    f"metric ${m.name}%-38s ${m.value}%s ${m.unit} n=${m.n} ${m.kind}"

  /** Human-readable lines, then the result as one JSON object on the last
    * line: end-to-end metrics for a plain run, per-layer for a traced one.
    */
  def render(traced: Boolean): Seq[String] = {
    val gated = if (traced) {
      Metrics.PerLayer.map { case (n, u, k) => perLayer.getOrElse(n, Metric(n, 0.0, u, 0, k)) }
    } else Metrics.EndToEnd.map { case (n, _) =>
      endToEnd.getOrElse(n, throw new IllegalStateException(s"end-to-end metric $n was not measured"))
    }
    val correct = failed == 0 && checks.values.forall(_._2 == 0)
    val json = gated.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
    checks.map { case (n, (p, f, d)) =>
      s"check ${if (f == 0) "ok  " else "FAIL"} $n (${p + f} times, $f failed): $d"
    }.toSeq ++
      detail.values.map(line) ++ gated.map(line) ++
      Seq(f"metric error_rate ${failed.toDouble / math.max(1L, attempted)}%s ratio n=$attempted exact", json)
  }
}
