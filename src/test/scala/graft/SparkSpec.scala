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
}
