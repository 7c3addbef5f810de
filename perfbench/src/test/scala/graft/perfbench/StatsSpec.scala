package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail percentile: the highest ladder step with at least ten samples beyond it") {
    assert(Stats.tailPercentile(73) == 85.0) // 63rd of 73 sorted; 10 beyond
    assert(Stats.beyond(73, 85) == 10)
    assert(Stats.beyond(73, 90) == 7)
    assert(Stats.tailPercentile(40) == 75.0) // 30th of 40; 10 beyond
    assert(Stats.tailPercentile(39) == 50.0) // p75 would leave 9
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(5) == 50.0) // too few samples: the median
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 73).map(_.toDouble).reverse
    assert(Stats.nearestRank(xs, 85) == 63.0)
    assert(Stats.nearestRank(xs, 50) == 37.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 25L))) == 25L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq.empty) == 0L)
    assert(Stats.clip(Seq((0L, 10L), (12L, 20L)), 5L, 15L) == Seq((5L, 10L), (12L, 15L)))
  }
}
