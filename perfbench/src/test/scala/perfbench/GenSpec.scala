package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tables(seed: Long) = {
    val (docs, planted) = Gen.corpus(spark, seed, 600, 5, 15, 500)
    Seq(
      "customer" -> Gen.customers(spark, seed, 200, 0.2),
      "orders" -> Gen.orders(spark, seed, 1000, 200),
      "cdc" -> Gen.cdc(spark, seed, 3, 50, 200),
      "docs" -> docs,
      "planted" -> planted,
      "vectors" -> Gen.vectors(spark, seed, "", 0, 300, 8, 10, 0.3))
  }

  test("same seed, same checksums; another seed, other data of the same size") {
    val a = tables(1).map { case (n, df) => n -> Gen.checksum(df) }
    val b = tables(1).map { case (n, df) => n -> Gen.checksum(df) }
    val c = tables(2).map { case (n, df) => n -> Gen.checksum(df) }
    assert(a == b)
    a.zip(c).foreach { case ((n, x), (_, y)) =>
      assert(x != y, s"$n: seeds 1 and 2 gave the same data")
      assert(x.takeWhile(_ != ':') == y.takeWhile(_ != ':'), s"$n: row counts differ across seeds")
    }
  }

  test("checksums do not depend on partitioning") {
    val df = Gen.customers(spark, 5, 500, 0.2)
    assert(Gen.checksum(df) == Gen.checksum(df.repartition(7)))
  }

  test("planted copies sit above the originals and every original has language markers") {
    val (_, planted) = Gen.corpus(spark, 3, 600, 5, 15, 500)
    val rows = planted.collect()
    assert(rows.length == 20)
    assert(rows.count(_.getAs[String]("kind") == "exact") == 5)
    assert(rows.forall(r => r.getAs[Long]("copy") >= 600 && r.getAs[Long]("orig") % 20 == 0))
    assert(rows.map(_.getAs[Long]("orig")).distinct.length == 20)
  }
}
