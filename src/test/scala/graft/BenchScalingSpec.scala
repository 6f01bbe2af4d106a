package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's scaling estimator and budget gate, as pure functions: no Spark,
  * no forks.
  */
class BenchScalingSpec extends AnyFunSuite {
  import Bench.{ForkTime, coreLevelsFor, estimateWall, fits, medianPairEff, observe}

  private def near(a: Option[Double], b: Double, tol: Double = 1e-4): Boolean =
    a.exists(x => math.abs(x - b) < tol)

  test("median of same-sweep pairs, odd and even sweep counts") {
    // 1->4 ratios 0.5, 0.75, 1.0 (t1 / t4 / 4)
    val odd = Seq(Map(1 -> 20.0, 4 -> 10.0), Map(1 -> 30.0, 4 -> 10.0), Map(1 -> 40.0, 4 -> 10.0))
    assert(near(medianPairEff(odd, 1, 4), 0.75))
    // plus 0.9: the mean of the middle two, 0.75 and 0.9
    val even = odd :+ Map(1 -> 36.0, 4 -> 10.0)
    assert(near(medianPairEff(even, 1, 4), 0.825))
    // 1->2 ratio of one sweep: (t1 / t2) / 2
    assert(near(medianPairEff(Seq(Map(1 -> 10.0, 2 -> 5.0)), 1, 2), 1.0))
  }

  test("sweeps missing an endpoint are skipped; no complete sweep gives None") {
    val ss = Seq(Map(1 -> 40.0, 4 -> 10.0), Map(4 -> 1.0), Map(1 -> 1.0, 2 -> 5.0))
    assert(near(medianPairEff(ss, 1, 4), 1.0))
    assert(medianPairEff(Seq(Map(1 -> 40.0), Map(4 -> 10.0)), 1, 4).isEmpty)
    assert(medianPairEff(Nil, 1, 4).isEmpty)
  }

  test("one fast level-1 outlier sweep does not move the median") {
    // three sweeps at 0.92 in their own windows, then one fast level-1
    // window: min-per-level would pair 64 s with 23.75 s and read 0.674
    val steady = Seq(Map(1 -> 92.0, 4 -> 25.0), Map(1 -> 96.6, 4 -> 26.25), Map(1 -> 87.4, 4 -> 23.75))
    val withOutlier = steady :+ Map(1 -> 64.0, 4 -> 25.0)
    assert(near(medianPairEff(steady, 1, 4), 0.92))
    assert(near(medianPairEff(withOutlier, 1, 4), 0.92))
  }

  test("recompute of the committed BENCH/DETAIL.json e2e sweeps") {
    val sweeps = Seq(
      Map(1 -> 111.51322204, 2 -> 56.192459284, 4 -> 40.484470376),
      Map(1 -> 112.924680159, 2 -> 57.239530221, 4 -> 29.953170679),
      Map(1 -> 113.524227297, 4 -> 38.911751007),
      Map(1 -> 115.797927772, 4 -> 35.845317039),
      Map(4 -> 29.415085361))
    assert(near(medianPairEff(sweeps, 1, 4), 0.7685))
    assert(near(medianPairEff(sweeps, 1, 2), 0.9893))
  }

  test("fits refuses a fork when remaining <= 1.5 x estimate + reserve") {
    assert(!fits(remainingSec = 210.0, estimate = 100.0, reserveSec = 60.0))
    assert(!fits(remainingSec = 150.0, estimate = 100.0, reserveSec = 60.0))
    assert(fits(remainingSec = 210.5, estimate = 100.0, reserveSec = 60.0))
    // no estimate yet: only the reserve has to fit
    assert(fits(remainingSec = 61.0, estimate = 0.0, reserveSec = 60.0))
    assert(!fits(remainingSec = 60.0, estimate = 0.0, reserveSec = 60.0))
  }

  test("estimateWall extrapolates inverse-linearly from another level of the same series") {
    val one = Map(("e2e", 4) -> 30.0)
    assert(estimateWall(one, "e2e", 4) == 30.0)
    assert(estimateWall(one, "e2e", 1) == 120.0)
    assert(estimateWall(one, "e2e", 2) == 60.0)
    // another series' observations do not count
    assert(estimateWall(one, "core", 1) == 0.0)
    // an observed level wins over extrapolation; extrapolations take the min
    val two = Map(("e2e", 4) -> 30.0, ("e2e", 2) -> 70.0)
    assert(estimateWall(two, "e2e", 2) == 70.0)
    assert(estimateWall(two, "e2e", 1) == 120.0)
  }

  test("forks are priced by their wall clock, not by the seconds they report") {
    // a BuildJob fork at 100k rows on a 4-CPU host: 3.3 s reported, 13.9 s
    // from start to exit; a level-1 fork then costs about 4x that
    val est = scala.collection.mutable.Map.empty[(String, Int), Double]
    observe(est, "e2e", 4, ForkTime(sec = 3.3, wallSec = 13.9))
    assert(estimateWall(est, "e2e", 4) == 13.9)
    assert(math.abs(estimateWall(est, "e2e", 1) - 55.6) < 1e-9)
    // 100 s left: priced by the reported seconds (13.2 s at level 1) the
    // gate would admit the fork; priced by the wall clock it refuses it
    assert(fits(remainingSec = 100.0, estimate = 4 * 3.3, reserveSec = 60.0))
    assert(!fits(remainingSec = 100.0, estimate = estimateWall(est, "e2e", 1), reserveSec = 60.0))
    // a faster repeat lowers the estimate; a slower one leaves it
    observe(est, "e2e", 4, ForkTime(sec = 3.1, wallSec = 12.0))
    observe(est, "e2e", 4, ForkTime(sec = 2.0, wallSec = 20.0))
    assert(estimateWall(est, "e2e", 4) == 12.0)
  }

  test("core levels default to the powers of two up to the session's cores") {
    assert(coreLevelsFor(4) == Seq(1, 2, 4))
    assert(coreLevelsFor(6) == Seq(1, 2, 4))
    assert(coreLevelsFor(32) == Seq(1, 2, 4, 8, 16, 32))
    assert(coreLevelsFor(1) == Seq(1))
  }
}
