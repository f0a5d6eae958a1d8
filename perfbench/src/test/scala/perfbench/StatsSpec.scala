package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(5000).contains(99)) // capped
    // 10 of 101 samples lie beyond p90 (90.9 would still leave 9.19)
    assert(Stats.tailPercentile(101).contains(90))
  }

  test("a sample too small for any tail above the median has none; tail falls back to the max") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(0).isEmpty)
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == 3.0)
  }

  test("tail and median read the linear-interpolated quantiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(math.abs(Stats.tail(xs) - Stats.quantile(xs, 0.90)) < 1e-12)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
    assert(Stats.quantile(Seq(5.0), 0.9) == 5.0)
  }
}
