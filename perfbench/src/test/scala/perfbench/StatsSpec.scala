package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Interval

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between order statistics") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(math.abs(Stats.quantile((1 to 10).map(_.toDouble), 0.9) - 9.1) < 1e-12)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.quantile(Seq(1.0, 2.0), 0.0) == 1.0)
    assert(Stats.quantile(Seq(1.0, 2.0), 1.0) == 2.0)
  }

  test("tail percentile: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(99).contains(89))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(0).isEmpty)
    for (n <- 20 to 500) {
      val p = Stats.tailPercentile(n).get
      assert(n * (100 - p) >= 10 * 100, s"n=$n p=$p leaves fewer than ten beyond")
      assert(p == 99 || n * (100 - p - 1) < 10 * 100, s"n=$n: p${p + 1} also qualifies")
    }
  }

  test("failed fraction counts failed ops over attempted ops") {
    assert(Stats.failedFrac(10, 0) == 0.0)
    assert(Stats.failedFrac(10, 2) == 0.2)
    assert(Stats.failedFrac(3, 3) == 1.0)
    assertThrows[IllegalArgumentException](Stats.failedFrac(0, 0))
    assertThrows[IllegalArgumentException](Stats.failedFrac(2, 3))
  }

  test("interval union, subtraction and overlap") {
    assert(Stats.union(Seq(Interval(5, 8), Interval(0, 2), Interval(1, 3), Interval(9, 9))) ==
      Seq(Interval(0, 3), Interval(5, 8)))
    assert(Stats.subtract(Interval(0, 10), Seq(Interval(2, 4), Interval(3, 5), Interval(9, 12))) ==
      Seq(Interval(0, 2), Interval(5, 9)))
    assert(Stats.subtract(Interval(0, 10), Nil) == Seq(Interval(0, 10)))
    assert(Stats.overlap(Seq(Interval(0, 10)), Seq(Interval(2, 4), Interval(3, 5), Interval(8, 20))) == 5.0)
  }

  test("self time is the span minus the union of its children, not of deeper spans") {
    val spans = Seq(
      Span(1, 0, "op", "req", 0, 100),
      Span(2, 1, "A", "a", 10, 30),
      Span(3, 1, "B", "b", 20, 50),
      Span(4, 2, "C", "c", 12, 15))
    val self = Trace.selfSeconds(spans)
    assert(self(1) == 0.060)
    assert(self(2) == 0.017)
    assert(self(3) == 0.030)
    assert(self(4) == 0.003)
  }

  test("driver gap is self time not covered by the span's own jobs") {
    val spans = Seq(Span(1, 0, "op", "req", 0, 100), Span(2, 1, "M", "m", 10, 60),
      Span(3, 2, "N", "n", 40, 50))
    val work = Map(2L -> SpanWork(jobs = Seq(Interval(15, 45), Interval(55, 70))),
      3L -> SpanWork(jobs = Seq(Interval(41, 49))))
    val l = Trace.layers(spans, id => work.getOrElse(id, SpanWork()))
    // M's self time is [10,40) ∪ [50,60) = 40 ms; its jobs cover [15,40)
    // and [55,60) of it = 30 ms
    assert(math.abs(l("M").selfS - 0.040) < 1e-12)
    assert(math.abs(l("M").driverGapS - 0.010) < 1e-12)
    assert(l("M").jobs == 2)
    assert(math.abs(l("N").driverGapS - 0.002) < 1e-12)
    assert(l("op").jobs == 0 && math.abs(l("op").driverGapS - 0.050) < 1e-12)
  }
}
