package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.topPercentile(19).isEmpty) // 9.5 beyond the median
    assert(Stats.topPercentile(20).contains("p50"))
    assert(Stats.topPercentile(99).contains("p50")) // 9.9 beyond p90
    assert(Stats.topPercentile(100).contains("p90"))
    assert(Stats.topPercentile(999).contains("p90"))
    assert(Stats.topPercentile(1000).contains("p99"))
    assert(Stats.topPercentile(10000).contains("p99.9"))
    assert(Stats.topPercentile(99999).contains("p99.9"))
    assert(Stats.topPercentile(100000).contains("p99.99"))
    assert(Stats.topPercentile(1000, minBeyond = 100).contains("p90"))
  }

  test("quantiles interpolate between closest ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
    assert(Stats.quantile(Seq(5.0), 0.99) == 5.0)
  }

  test("per-row latency runs to the first batch whose target reaches the row") {
    // rows 101..105 committed at 0, 10, 20, 30, 40 ms
    val commits = Array(0L, 10L, 20L, 30L, 40L).map(_ * 1000000L)
    val batches = Seq(
      Stats.Applied(endNs = 100L * 1000000L, maxSeq = 104), // out of order on purpose
      Stats.Applied(endNs = 50L * 1000000L, maxSeq = 102))
    val (lat, missing) = Stats.applyLatencies(101, commits, batches)
    assert(lat.toSeq == Seq(50.0, 40.0, 80.0, 70.0))
    assert(missing == 1) // row 105: no batch reached it
  }

  test("rows that no batch reached are missing, not fast") {
    val commits = Array(0L, 1000000L, 2000000L)
    val (lat, missing) = Stats.applyLatencies(1, commits, Seq(Stats.Applied(5000000L, 1)))
    assert(lat.toSeq == Seq(5.0))
    assert(missing == 2)
    assert(Stats.applyLatencies(1, commits, Nil)._2 == 3)
  }

  test("a batch that shows a later seq covers every earlier row") {
    val commits = Array.fill(3)(0L)
    val (lat, missing) = Stats.applyLatencies(7, commits, Seq(Stats.Applied(3000000L, 1000)))
    assert(missing == 0 && lat.toSeq == Seq(3.0, 3.0, 3.0))
  }

  test("union of stage intervals counts overlapping time once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15) // overlap
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10) // nested
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20) // disjoint, unsorted
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20) // touching
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0) // empty and inverted
  }

  test("driver gap is wall time minus the clipped union of stage intervals") {
    val stages = Seq((-5L, 10L), (8L, 20L), (50L, 70L), (95L, 120L))
    val busy = Stats.clippedUnion(stages, 0L, 100L)
    assert(busy == 20 + 20 + 5)
    assert(100 - busy == 55)
  }
}
