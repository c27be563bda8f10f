package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 100) == 100.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.tailPercentile(100) == Some(90.0))
    assert(Stats.tailPercentile(99) == Some(75.0))
    assert(Stats.tailPercentile(1000) == Some(99.0))
    assert(Stats.tailPercentile(20) == Some(50.0))
    assert(Stats.tailPercentile(19) == None)
    // the rule as stated: every reported percentile leaves >= 10 above it
    (1 to 2000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        val xs = (1 to n).map(_.toDouble)
        assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
      }
    }
  }
}
