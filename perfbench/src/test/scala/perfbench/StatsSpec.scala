package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantile interpolates between order statistics") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.median(Seq(1.0, 9.0, 5.0)) == 5.0)
  }

  test("p90 is reported only with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(math.abs(Stats.p90(hundred).get - 90.1) < 1e-9)
    assert(hundred.count(_ > Stats.p90(hundred).get) == 10)
    assert(Stats.p90((1 to 90).map(_.toDouble)).isEmpty) // 9 beyond
    assert(Stats.p90(Seq.fill(500)(1.0)).isEmpty) // ties: none beyond
    assert(Stats.p90(Nil).isEmpty)
  }

  test("lateness counts from the due time and is never negative") {
    assert(Stats.lateness(Seq(0.0, 1.0, 2.0), Seq(0.1, 0.9, 2.5)) == Seq(0.1, 0.0, 0.5))
    assert(Stats.latencies(Seq(0.0, 1.0), Seq(0.3, 1.8)) == Seq(0.3, 0.8))
    intercept[IllegalArgumentException](Stats.lateness(Seq(0.0), Nil))
  }

  test("a backlog grows when the second half runs later than the first") {
    assert(Stats.backlogGrows(Seq(0.0, 0.0, 0.5, 1.0, 1.5, 2.0), 0.25))
    assert(!Stats.backlogGrows(Seq(0.0, 0.01, 0.0, 0.02, 0.01, 0.0), 0.25))
    assert(!Stats.backlogGrows(Seq(0.0, 5.0), 0.25)) // too few to tell
  }
}
