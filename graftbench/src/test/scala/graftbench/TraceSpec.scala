package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(xs) == Some((90, 90.0)))
    // 30 samples: the 66th has 10 beyond it (rank 20), the 67th only 9
    assert(Stats.tailPercentile((1 to 30).map(_.toDouble)) == Some((66, 20.0)))
    assert(Stats.tailPercentile((1 to 15).map(_.toDouble)).isEmpty)
    assert(Stats.tailPercentile(xs.reverse) == Stats.tailPercentile(xs))
    assert(Stats.nearestRank(xs, 50) == 50.0)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(0, -1, 0, "op", 0, 100),
      Span(1, 0, 0, "kernels", 10, 40),
      Span(2, 0, 0, "dedup", 30, 60), // overlaps its sibling: covered once
      Span(3, 1, 0, "probe", 15, 20),
      Span(4, 0, 0, "sink", 90, 120)) // runs past its parent: clipped
    val self = Stats.selfTimes(spans)
    assert(self(0) == 100 - (60 - 10) - (100 - 90))
    assert(self(1) == 30 - 5)
    assert(self(2) == 30)
    assert(self(3) == 5)
    assert(self(4) == 30)
  }

  test("layer self times of an op add up to no more than its wall time") {
    // one client thread: sibling spans follow one another
    val spans = Seq(
      Span(0, -1, 0, "op", 0, 1000),
      Span(1, 0, 0, "sources", 0, 200),
      Span(2, 0, 0, "kernels", 200, 700),
      Span(3, 2, 0, "probe", 300, 400),
      Span(4, 0, 0, "dedup", 700, 980))
    val self = Stats.selfTimes(spans)
    assert(self.values.sum == 1000)
    assert(self.values.forall(_ >= 0))
  }

  test("compare: doubles within a relative tolerance, the rest exactly") {
    assert(Compare.rows(Seq(Seq("a", 1L, 0.1 + 0.2)), Seq(Seq("a", 1, 0.3))).isEmpty)
    assert(Compare.rows(Seq(Seq("a", 1L, 0.31)), Seq(Seq("a", 1L, 0.3))).nonEmpty)
    assert(Compare.rows(Seq(Seq("a")), Seq(Seq("b"))).nonEmpty)
    assert(Compare.rows(Seq(Seq("a")), Nil).nonEmpty)
  }

  test("json: ordered keys first, numbers with all their digits") {
    val s = Json.write(Map("metrics" -> Map("x" -> 1.2345678901234), "correct" -> true), Seq("correct"))
    assert(s == """{"correct": true, "metrics": {"x": 1.2345678901234}}""")
  }
}
