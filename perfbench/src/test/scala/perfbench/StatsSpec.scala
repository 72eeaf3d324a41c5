package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.supportedTail(1000) == 99)
    assert(Stats.supportedTail(999) == 95)
    assert(Stats.supportedTail(200) == 95)
    assert(Stats.supportedTail(199) == 90)
    assert(Stats.supportedTail(100) == 90)
    assert(Stats.supportedTail(40) == 75)
    assert(Stats.supportedTail(20) == 50)
    assert(Stats.supportedTail(19) == 0)
  }

  test("summarize reports the sample count, median, p90 and supported tail") {
    val xs = (1 to 100).map(_.toDouble)
    val s = Stats.summarize(xs)
    assert(s.n == 100 && s.p50 == 50.5 && s.tailPct == 90)
    assert(math.abs(s.p90 - 90.1) < 1e-9 && s.tail == s.p90)
    val few = Stats.summarize(Seq(1.0, 2.0, 3.0))
    assert(few.tailPct == 0 && few.tail.isNaN && few.p50 == 2.0)
    assert(Stats.mean(Nil) == 0.0 && Stats.mean(Seq(1.0, 3.0)) == 2.0)
  }
}
