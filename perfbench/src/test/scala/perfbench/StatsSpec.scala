package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentiles interpolate between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(Stats.median(Seq(1.0, 2.0, 9.0)) == 2.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq(10L -> 20L, 15L -> 30L, 40L -> 50L)) == 30)
    assert(Stats.unionLength(Seq(0L -> 10L, 10L -> 20L)) == 20)
    assert(Stats.unionLength(Seq(0L -> 100L, 20L -> 30L)) == 100)
    assert(Stats.unionLength(Seq(5L -> 5L, 7L -> 3L)) == 0)
  }

  test("driver gap is wall time minus time any task ran, clipped to the call") {
    // call [100, 200): tasks cover [90,120) -> 20 inside, [150,170) and
    // [160,180) -> 30 together, [250,260) outside; busy 50, gap 50
    assert(Stats.driverGap(100, 200, Seq(90L -> 120L, 150L -> 170L, 160L -> 180L, 250L -> 260L)) == 50)
    assert(Stats.driverGap(0, 10, Nil) == 10)
    assert(Stats.driverGap(0, 10, Seq(0L -> 10L, 2L -> 4L)) == 0)
  }

  test("self time subtracts the children a span covers, per layer") {
    val spans = Seq(
      Span(1, 1, 0, "mixed.cycle", 0, 100),
      Span(1, 2, 1, "core.append", 10, 40),
      Span(1, 3, 1, "search.refresh", 30, 60),
      Span(1, 4, 3, "core.lease", 35, 45))
    val self = Stats.selfTimes(spans)
    assert(self == Map(1L -> 50L, 2L -> 30L, 3L -> 20L, 4L -> 10L))
    assert(Stats.layerSelfTimes(spans) == Map("mixed" -> 50L, "core" -> 40L, "search" -> 20L))
  }
}
