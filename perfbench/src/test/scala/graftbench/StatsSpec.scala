package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
  }

  test("tail is the highest ladder percentile with ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.percentile == 99 && t.n == 1000 && t.beyond == 10)
    assert(t.value == Stats.percentile(xs, 99))
    // 100 samples: p90 leaves exactly 10 above, p95 only 5
    assert(Stats.tail((1 to 100).map(_.toDouble)).percentile == 90)
    // 40 samples: p75 leaves 10
    assert(Stats.tail((1 to 40).map(_.toDouble)).percentile == 75)
    assert(Stats.tail((1 to 39).map(_.toDouble)).percentile == 50)
  }

  test("a sample too small for any honest tail reports its maximum") {
    val t = Stats.tail(Seq(3.0, 9.0, 5.0))
    assert(t.value == 9.0 && t.percentile == 100 && t.beyond == 0 && t.n == 3)
    assert(Stats.tail((1 to 19).map(_.toDouble)).percentile == 100)
    assert(Stats.tail((1 to 20).map(_.toDouble)).percentile == 50)
  }

  test("union merges overlapping and touching intervals, drops empty ones") {
    assert(Stats.union(Seq((5L, 7L), (1L, 3L), (2L, 4L), (7L, 8L), (9L, 9L))) ==
      Seq((1L, 4L), (5L, 8L)))
    assert(Stats.covered(Seq((0L, 10L), (2L, 5L), (20L, 25L))) == 15)
  }

  test("self time subtracts the part of the span its children cover, once") {
    // span [0, 100); children overlap each other and stick out past the end
    val kids = Seq((10L, 30L), (20L, 40L), (90L, 120L))
    assert(Stats.coveredWithin(0, 100, kids) == 40)
    assert(Stats.selfTime(0, 100, kids) == 60)
    assert(Stats.selfTime(0, 100, Nil) == 100)
  }

  test("scheduling gap is op wall time outside the union of its stages") {
    val stages = Seq((100L, 300L), (250L, 400L), (600L, 700L))
    assert(Stats.gap(0, 1000, stages) == 1000 - 300 - 100)
    assert(Stats.gap(200, 650, stages) == 450 - 200 - 50)
  }

  test("tracing overhead compares ops at the same position") {
    // positions 0 and 1 are light nights, 2 the heavy compaction night;
    // the untraced side has two compaction nights, the traced side one
    // light night more, and position 3 has no untraced op
    val ops = Seq((0, true, 10.0), (1, true, 11.0), (2, true, 30.0),
      (1, true, 13.0), (3, true, 100.0),
      (0, false, 9.0), (1, false, 10.0), (2, false, 29.0), (2, false, 31.0))
    assert(Stats.tracingOverhead(ops) == (1.0 + 2.0 + 0.0) / 3)
    // a plain median difference would read the compaction imbalance
    assert(Stats.median(ops.filter(_._2).map(_._3)) -
      Stats.median(ops.filterNot(_._2).map(_._3)) != Stats.tracingOverhead(ops))
    assert(Stats.tracingOverhead(Seq((0, true, 5.0))) == 0.0)
  }

  test("Trace.selfTimes applies the rule per span") {
    import Trace.Span
    val spans = Seq(Span(1, 1, 0, "op", 0, 100), Span(1, 2, 1, "a", 10, 50),
      Span(1, 3, 2, "b", 20, 30), Span(1, 4, 1, "c", 40, 60))
    val self = Trace.selfTimes(spans)
    assert(self == Map(1L -> 50L, 2L -> 30L, 3L -> 10L, 4L -> 20L))
  }
}
