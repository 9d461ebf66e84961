package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and interpolated quantiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.reportablePercentile(9).isEmpty)
    assert(Stats.reportablePercentile(39).isEmpty)
    assert(Stats.reportablePercentile(40).contains(75))
    assert(Stats.reportablePercentile(99).contains(75))
    assert(Stats.reportablePercentile(100).contains(90))
    assert(Stats.reportablePercentile(199).contains(90))
    assert(Stats.reportablePercentile(200).contains(95))
    assert(Stats.reportablePercentile(1000).contains(99))
    // the rule itself, for every size: >= 10 samples strictly above p
    for (n <- 1 to 2000; p <- Stats.reportablePercentile(n))
      assert(n - math.ceil(n * p / 100.0).toInt >= 10, s"n=$n p=$p")
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 30L))) == 20)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("span self time subtracts the union of its children, clipped") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L))) == 70)
    // children running past the span count only inside it
    assert(Stats.selfTime((0L, 100L), Seq((-50L, 10L), (90L, 500L))) == 80)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (30L, 60L))) == 0)
  }

  test("cycle rate weighs each slot by its calls per cycle") {
    // one 8-query call at 2 s and six 1-query calls at 100 ms: 14 / 2.6 s
    assert(math.abs(Stats.cycleRate(Seq((1, 8.0, 2000.0), (6, 1.0, 100.0))) - 14 / 2.6) < 1e-12)
    // a slot that answers no items still takes its time
    assert(Stats.cycleRate(Seq((1, 8000.0, 1800.0), (3, 0.0, 200.0))) == 8000 / 2.4)
    assert(Stats.cycleRate(Nil) == 0.0)
    assert(Stats.cycleRate(Seq((1, 5.0, 0.0))) == 0.0)
  }

  test("failure ratio counts thrown and wrong answers against attempts") {
    val f = new Stats.FailureCount
    assert(f.ratio == 0.0)
    f.ok(); f.ok(); f.ok()
    f.fail("wrong answer")
    f.fail("wrong answer")
    f.fail("threw")
    assert(f.attempted == 6 && f.failed == 3)
    assert(f.ratio == 0.5)
    assert(f.reasons == Map("wrong answer" -> 2, "threw" -> 1))
  }
}
