package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile((1 to 11).map(_.toDouble), 0.9) - 10.0) < 1e-12)
  }

  test("median of an odd count is the middle sample") {
    assert(Stats.median(Seq(9.0, 1.0, 5.0)) == 5.0)
  }

  test("a tail quantile needs ten samples beyond it; the median one") {
    assert(Stats.minSamples(0.5) == 1)
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.99) == 1000)
    assert(Stats.minSamples(0.1) == 100)
    assert(!Stats.supported(99, 0.9))
    assert(Stats.supported(100, 0.9))
    assert(Stats.quantileIfSupported((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.quantileIfSupported((1 to 100).map(_.toDouble), 0.9).isDefined)
    assert(Stats.quantileIfSupported(Seq(3.0), 0.5) == Some(3.0))
  }

  test("no samples and out-of-range quantiles are refused") {
    assertThrows[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }
}
