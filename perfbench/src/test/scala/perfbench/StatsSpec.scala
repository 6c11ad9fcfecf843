package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
  }

  test("p90 is reported only with at least 10 samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.tailPercentile(hundred, 0.9) == Some(90.0))
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.tailPercentile(hundred.take(99), 0.9).isEmpty)
    assert(Stats.tailPercentile(Seq.empty, 0.9).isEmpty)
    assert(Stats.tailPercentile((1 to 20).map(_.toDouble), 0.5) == Some(10.0))
  }

  test("growth is last-quarter median over first-quarter median") {
    assert(Stats.growth(Seq(1.0, 1.0, 1.0, 1.0)) == 1.0)
    // quarters of 2: medians 1.5 and 7.5
    assert(Stats.growth(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)) == 5.0)
    // n = 10 -> quarters of 2; the middle samples do not count
    assert(Stats.growth(Seq(2.0, 2.0, 100, 100, 100, 100, 100, 100, 4.0, 4.0)) == 2.0)
    assert(Stats.growth(Seq(8.0, 4.0, 2.0, 1.0)) == 0.125)
    assertThrows[IllegalArgumentException](Stats.growth(Seq(1.0, 2.0, 3.0)))
  }

  test("uncovered time merges overlapping intervals and clips to the window") {
    assert(Stats.uncovered(0, 100, Nil) == 100)
    assert(Stats.uncovered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 70)
    assert(Stats.uncovered(0, 100, Seq((-10L, 5L), (95L, 200L))) == 90)
    assert(Stats.uncovered(0, 100, Seq((0L, 100L))) == 0)
    assert(Stats.uncovered(0, 100, Seq((20L, 30L), (22L, 25L))) == 90)
    assert(Stats.uncovered(50, 60, Seq((0L, 10L))) == 10)
  }
}
