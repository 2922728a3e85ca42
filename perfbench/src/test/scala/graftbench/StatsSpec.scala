package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a p90 is reported only when at least ten samples lie beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.tailPercentile(xs, 0.9).isEmpty, "99 samples leave only 9 beyond the p90 rank")
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(ys, 0.9).contains(90.0))
    assert(Stats.tailPercentile(ys.reverse, 0.9).contains(90.0), "the input order must not matter")
    assert(Stats.tailPercentile(Seq(5.0), 0.5, minBeyond = 0).contains(5.0))
    assert(Stats.tailPercentile(Nil, 0.9).isEmpty)
    // the median needs ten beyond it too: 20 samples leave 10 above rank 10
    assert(Stats.tailPercentile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.tailPercentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.median(Nil) == 0.0)
  }

  test("union of job intervals counts overlaps once and gaps not at all") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15, "overlap")
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10, "nested")
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20, "adjacent")
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20, "disjoint, unsorted")
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0, "empty and inverted intervals")
  }

  test("driver gap: span time not covered by its jobs, clipped to the span") {
    // span [100, 200): jobs cover [90, 120) -> 20 inside, and [150, 160) + [155, 170) -> 20
    val jobs = Seq((90L, 120L), (150L, 160L), (155L, 170L), (300L, 400L))
    assert(Stats.uncovered(100, 200, jobs) == 60)
    assert(Stats.uncovered(100, 200, Nil) == 100)
    assert(Stats.uncovered(100, 200, Seq((0L, 1000L))) == 0)
    assert(Stats.uncovered(200, 100, Nil) == 0, "an inverted span has no gap")
  }

  test("self time: a span's duration minus what its children cover") {
    // parent [0, 100) with children [10, 40), [30, 50), [90, 120)
    val children = Seq((10L, 40L), (30L, 50L), (90L, 120L))
    assert(Stats.uncovered(0, 100, children) == 100 - 40 - 10)
  }
}
