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
      markerJob("graft-marker")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("graft-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("graft-marker"), "listener never saw the marker job")
      (out, groups.toArray.count(_ == "graft-counted"))
    } finally sc.removeSparkListener(listener)
  }

  /** One one-task job in job group `group`, to mark a point in the
    * listener bus's event order. */
  private def markerJob(group: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
  }

  /** `body`'s result and the input records its tasks read: the
    * `inputMetrics.recordsRead` of every task of the jobs that start
    * between a marker job run before `body` and one run after it,
    * broadcast jobs (which run in a job group of their own) included.
    * Spark counts a read of a persisted block as input records too, so
    * this counts the rows `body` read from persisted RDDs.
    */
  def inputRecordsOf[T](body: => T): (T, Long) = {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val phase = new AtomicInteger(0) // 1 once the first marker starts, 2 once the second does
    val counted = ConcurrentHashMap.newKeySet[Int]()
    val records = new ConcurrentHashMap[Int, Long]() // per stage
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        String.valueOf(e.properties.getProperty("spark.jobGroup.id")) match {
          case "graft-before" => phase.set(1)
          case "graft-after" => phase.set(2)
          case _ => if (phase.get == 1) e.stageIds.foreach(counted.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.merge(e.stageId, e.taskMetrics.inputMetrics.recordsRead, _ + _)
    }
    sc.addSparkListener(listener)
    try {
      markerJob("graft-before")
      val out = body
      markerJob("graft-after")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (phase.get != 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(phase.get == 2, "listener never saw the marker job")
      var sum = 0L
      counted.forEach(st => sum += records.getOrDefault(st, 0L))
      (out, sum)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the nodes of the executed plans of the SQL
    * executions `body` ran, each node once: adaptive plans and query
    * stages are opened, and so are executed commands and subqueries.
    */
  def executedNodesOf[T](body: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
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
    val nodes = Seq.newBuilder[SparkPlan]
    def visit(p: SparkPlan): Unit = if (visited.add(p)) {
      nodes += p
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case other => (other.children ++ other.subqueries).foreach(visit)
      }
    }
    ran.foreach(qe => visit(qe.executedPlan))
    (out, nodes.result())
  }

  /** `body`'s result and the rows its file scans returned: the
    * `numOutputRows` of every `FileSourceScanExec` in the executed plans
    * of the SQL executions `body` ran. Unlike a task's
    * `inputMetrics.recordsRead`, this leaves out reads of persisted
    * blocks, which Spark also counts as input records.
    */
  def scannedRowsOf[T](body: => T): (T, Long) = {
    val (out, nodes) = executedNodesOf(body)
    (out, nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numOutputRows").value
    }.sum)
  }
}
