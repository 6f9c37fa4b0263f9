package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Seq(1.0, 2.0, 10.0)) == 2.0)
  }

  test("an empty sample or an out-of-range percentile is refused") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("self time is a span's duration minus what its children cover") {
    val spans = Seq(
      Span(0, -1, "query", "q#1", 0L, 1000000000L),
      Span(1, 0, "build", "q#1", 100000000L, 400000000L),
      Span(2, 0, "exec", "q#1", 300000000L, 900000000L),
      Span(3, 2, "inner", "q#1", 500000000L, 600000000L))
    val self = Tracer.selfSeconds(spans)
    assert(math.abs(self("query") - 0.2) < 1e-9)
    assert(math.abs(self("build") - 0.3) < 1e-9)
    assert(math.abs(self("exec") - 0.5) < 1e-9)
    assert(math.abs(self("inner") - 0.1) < 1e-9)
  }
}
