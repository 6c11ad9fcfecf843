package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, config mirrors the
  * driver's Verify harness (UTC, dormant nanos-as-long compat, small
  * shuffle width).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.plans.GraftExtensions)
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it launched, counted by an
    * `onJobStart` listener over a job group of its own. Listener events
    * arrive asynchronously, so a marker job in a second group runs after
    * `body` and the count is read once the marker's start is seen.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-counted", "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("graft-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("graft-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("graft-marker"), "listener never saw the marker job")
      (out, groups.toArray.count(_ == "graft-counted"))
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the rows its file scans returned: the
    * `numOutputRows` of every `FileSourceScanExec` in the executed plans
    * of the SQL executions `body` ran. Unlike a task's
    * `inputMetrics.recordsRead`, this leaves out reads of persisted
    * blocks, which Spark also counts as input records.
    */
  def scannedRowsOf[T](body: => T): (T, Long) = {
    import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    // execution-end events arrive in order, some time after the
    // execution: `body`'s are the ones between two marker executions
    def marker(): QueryExecution = {
      val m = spark.range(1).toDF()
      m.collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.toArray.exists(_ eq m.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.toArray.exists(_ eq m.queryExecution), "listener never saw the marker")
      m.queryExecution
    }
    spark.listenerManager.register(listener)
    val (out, start, end) = try {
      val start = marker()
      val out = body
      (out, start, marker())
    } finally spark.listenerManager.unregister(listener)
    val ran = seen.toArray(Array.empty[QueryExecution]).toSeq
      .dropWhile(_ ne start).drop(1).takeWhile(_ ne end)
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def scanned(p: SparkPlan): Long = if (!visited.add(p)) 0L else p match {
      case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
      case q: QueryStageExec => scanned(q.plan)
      case c: CommandResultExec => scanned(c.commandPhysicalPlan)
      case f: FileSourceScanExec => f.metrics("numOutputRows").value
      case other => (other.children ++ other.subqueries).map(scanned).sum
    }
    (out, ran.map(qe => scanned(qe.executedPlan)).sum)
  }
}
