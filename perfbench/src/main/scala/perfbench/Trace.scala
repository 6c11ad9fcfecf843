package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are wall-clock milliseconds (the
  * clock Spark's listener events use) plus a nanosecond duration.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String, op: Long,
    startMs: Long, endMs: Long, durNs: Long) {
  def toJson: String =
    s"""{"id":$id,"parent":$parent,"layer":"$layer","name":"$name","op":$op,""" +
      s""""start_ms":$startMs,"end_ms":$endMs,"dur_ns":$durNs}"""
}

object Spans {
  /** Self time of each span: its duration minus its direct children's. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> math.max(0L, s.durNs - children.getOrElse(s.id, 0L))).toMap
  }

  /** Self time summed per layer. */
  def selfNsByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Spark work attributed to one span (or, under key -1, to no span). */
final class Tally {
  var jobs, stages, tasks = 0L
  var runMs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, readBytes, readRows = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Collects spans while enabled and routes each Spark job to the open span
  * through the job group. When disabled, `span` just runs its body and the
  * listeners ignore events, which is how the traced run measures its own
  * overhead: it alternates enabled and disabled iterations.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  @volatile private var on = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Operation id stamped on the spans opened from now on. */
  var op: Long = 0

  val tallies = mutable.Map[Int, Tally]()
  private val jobSpan = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  // query-level counters (QueryExecutionListener)
  var actions, exchanges, broadcasts = 0L
  var planMs = 0.0
  var filesWritten, bytesWritten, rowsWritten = 0L
  var writeNs = 0L

  private def group(id: Int) = s"perfbench-span-$id"

  def enabled: Boolean = on

  /** Switch tracing on or off at a quiet point: every event of the previous
    * phase is delivered before the switch.
    */
  def setEnabled(b: Boolean): Unit = { drain(); on = b }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(group(id), name)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, layer, name, op, m0, System.currentTimeMillis(), t1 - t0)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "")
          case None => sc.clearJobGroup()
        }
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  private def tally(span: Int): Tally = tallies.getOrElseUpdate(span, new Tally)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = g.filter(_.startsWith("perfbench-span-")).map(_.stripPrefix("perfbench-span-").toInt)
        .getOrElse(-1)
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      tally(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
      for (span <- jobSpan.get(e.jobId); t0 <- jobStart.get(e.jobId))
        tally(span).jobIntervals += ((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
      for (j <- stageJob.get(e.stageInfo.stageId); span <- jobSpan.get(j)) tally(span).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId); span <- jobSpan.get(j); if m != null) {
        val t = tally(span)
        t.tasks += 1
        t.runMs += m.executorRunTime
        val overhead = m.executorDeserializeTime + m.resultSerializationTime
        t.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime - overhead -
          e.taskInfo.gettingResultTime)
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.readBytes += m.inputMetrics.bytesRead
        t.readRows += m.inputMetrics.recordsRead
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      if (on) Tracer.this.synchronized {
        actions += 1
        planMs += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
        val ns = nodes(qe.executedPlan)
        exchanges += ns.count(_.isInstanceOf[ShuffleExchangeLike])
        broadcasts += ns.count(_.isInstanceOf[BroadcastExchangeLike])
        val writes = ns.collect { case w: DataWritingCommandExec => w.cmd.metrics }
        writes.foreach { m =>
          def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
          filesWritten += v("numFiles")
          bytesWritten += v("numOutputBytes")
          rowsWritten += v("numOutputRows")
        }
        if (writes.nonEmpty) writeNs += durationNs
      }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)

  /** Drop everything recorded so far (after the warm-up). */
  def reset(): Unit = synchronized {
    drain()
    spans.clear(); tallies.clear(); jobSpan.clear(); jobStart.clear(); stageJob.clear()
    actions = 0; exchanges = 0; broadcasts = 0; planMs = 0
    filesWritten = 0; bytesWritten = 0; rowsWritten = 0; writeNs = 0
  }

  /** Spark work of all spans together (jobs outside any span excluded). */
  def total: Tally = synchronized {
    val out = new Tally
    tallies.foreach { case (id, t) =>
      if (id >= 0) {
        out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
        out.runMs += t.runMs; out.schedMs += t.schedMs
        out.shuffleWrite += t.shuffleWrite; out.shuffleRead += t.shuffleRead
        out.spill += t.spill; out.readBytes += t.readBytes; out.readRows += t.readRows
      }
    }
    out
  }

  /** Time inside the selected top-level spans during which no Spark job of
    * the run was running: driver-side planning, checkpoint bookkeeping and
    * result handling.
    */
  def driverSelfMs(keep: Span => Boolean): Double = synchronized {
    val all = tallies.values.flatMap(_.jobIntervals).toSeq
    spans.filter(keep).map(s => Stats.uncovered(s.startMs, s.endMs, all)).sum.toDouble
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, spans.map(_.toJson).asJava)
  }
}

/** Driver heap and GC. `retainedMb` forces a full collection, so it is
  * called between operations, never inside a timed window.
  */
object Jvm {
  private val mem = ManagementFactory.getMemoryMXBean

  def retainedMb(): Double = {
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
