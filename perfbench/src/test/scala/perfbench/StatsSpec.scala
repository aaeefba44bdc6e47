package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("a percentile is supported only with at least ten samples beyond it") {
    assert(Stats.supportedPercentile(9).isEmpty)
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(99).contains(50.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(999).contains(90.0))
    assert(Stats.supportedPercentile(1000).contains(99.0))
    assert(Stats.supportedPercentile(10000).contains(99.9))
    assert(math.abs(Stats.samplesBeyond(100, 90) - 10.0) < 1e-9)
  }
}
