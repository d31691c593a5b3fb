package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("a tail percentile needs at least 10 samples beyond it") {
    assertThrows[IllegalArgumentException](Stats.percentile(xs(49), 80))
    assert(Stats.percentile(xs(50), 80) == 40.0)
    assertThrows[IllegalArgumentException](Stats.percentile(xs(99), 90))
    assert(Stats.percentile(xs(100), 90) == 90.0)
    assert(Stats.beyond(100, 90) == 10)
  }

  test("the median needs no tail") {
    assert(Stats.percentile(xs(3), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("span self time is the duration minus the covered part") {
    // children overlap (10-30, 20-40) and one sticks out of the parent
    assert(Span.selfNs((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
    assert(Span.selfNs((0L, 100L), Nil) == 100L)
    assert(Span.selfNs((0L, 100L), Seq((0L, 100L))) == 0L)
    assert(Span.selfNs((50L, 100L), Seq((0L, 10L))) == 50L)
  }
}
