package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The table is laid out in quotient order, so a build split by the top
  * bits of the sort quotient into parts, each sorted, deduplicated, grouped
  * into runs and written over its own block range, must give the bytes of
  * the one-part build for every part count. Each case builds through
  * `fromEntries` (all ones and counted) and `mergeAll` at 1, 2, 4 and 8
  * parts; the inputs place clusters across part boundaries, wrap runs
  * around the toric seam, shrink across a capacity boundary by dedup, and
  * leave parts empty.
  */
class PartitionedBuildSpec extends AnyFunSuite {
  private val Parts = Seq(1, 2, 4, 8)
  private val C = 6

  /** `n` fingerprints of `h` bits whose quotients at `q` fall in
    * [lo, hi) * 2^q.
    */
  private def within(rng: Random, n: Int, h: Int, q: Int, lo: Double, hi: Double): Array[Long] =
    Array.fill(n) {
      val quot = ((lo + rng.nextDouble() * (hi - lo)) * (1L << q)).toLong
      ((rng.nextLong() & Bits.maskRight(h - q)) << q) | quot
    }

  /** Distinct fingerprints whose quotient at `q` is in [lo, hi) * 2^q. */
  private def distinctIn(fps: Array[Long], q: Int, lo: Double, hi: Double): Int =
    fps.distinct.count { fp =>
      val at = (fp & Bits.maskRight(q)).toDouble / (1L << q)
      at >= lo && at < hi
    }

  private def sameForEveryCount(label: String)(build: Int => BackpackFilter): BackpackFilter = {
    val one = build(1)
    val want = one.serialize()
    for (p <- Parts.tail)
      assert(java.util.Arrays.equals(build(p).serialize(), want), s"$label: $p parts differ from 1")
    one
  }

  /** `fps` built by `fromEntries` all ones, counted, and as `mergeAll` of
    * three overlapping slices, at every part count, with the quotient floor
    * `q`; the all-ones filter.
    */
  private def check(label: String, fps: Array[Long], h: Int, rng: Random,
                    mode: CountMode = CountMode.Exact, q: Int = 7): BackpackFilter = {
    val counts = Array.fill(fps.length)(rng.nextInt(1 << C).toLong)
    val f = sameForEveryCount(s"$label, all ones")(p =>
      BackpackFilter.fromEntries(q, C, h, mode, 0, 0, 0L, fps, null, fps.length, p))
    sameForEveryCount(s"$label, counted")(p =>
      BackpackFilter.fromEntries(q, C, h, mode, 0, 0, 0L, fps, counts, fps.length, p))
    val n = fps.length
    val slices = Seq(fps.slice(0, n / 2), fps.slice(n / 3, n), fps.slice(n / 4, 3 * n / 4)).map(s =>
      BackpackFilter.fromEntries(q, C, h, mode, 0, 0, 0L, s, null, s.length))
    sameForEveryCount(s"$label, mergeAll")(p => BackpackFilter.mergeAll(slices, p))
    f
  }

  test("random entries across hash widths, sizes and counter modes") {
    for (seed <- 1 to 3; h <- Seq(20, 40, 64); n <- Seq(0, 1, 2, 121, 122, 3000, 40000)) {
      val rng = new Random(seed * 100 + h + n)
      val fps = Array.fill(n)(rng.nextLong() & Bits.maskRight(h))
      check(s"seed=$seed h=$h n=$n", fps, h, rng)
      check(s"oom seed=$seed h=$h n=$n", fps, h, rng, CountMode.OrderOfMagnitude)
    }
  }

  test("clusters that cross part boundaries") {
    for (q <- Seq(9, 12, 15)) {
      val rng = new Random(q)
      val n = ((1L << q) * 0.9).toInt
      // more entries under each boundary k/8 than there are slots below it
      // in the window, so each cluster runs on into the next part's blocks
      val windows = (1 to 7).map(k => (k / 8.0 - 0.04, k / 8.0))
      val fps = windows.flatMap { case (lo, hi) => within(rng, n / 10, 40, q, lo, hi) }.toArray ++
        within(rng, n - 7 * (n / 10), 40, q, 0.0, 1.0)
      val f = check(s"q=$q", fps, 40, rng)
      assert(f.quotientBits == q)
      for ((lo, hi) <- windows) assert(distinctIn(fps, q, lo, hi) > (hi - lo) * (1L << q), s"q=$q window $lo")
    }
  }

  test("runs that wrap the toric seam at high load") {
    for (q <- Seq(8, 11, 14, 16)) {
      val rng = new Random(q)
      val n = ((1L << q) * 0.94).toInt
      val fps = within(rng, n, 40, q, 0.55, 1.0)
      val f = check(s"q=$q", fps, 40, rng)
      assert(f.quotientBits == q)
      // more entries above 0.55 than slots: the last runs wrap to slot 0
      assert(distinctIn(fps, q, 0.55, 1.0) > 0.45 * (1L << q))
    }
  }

  test("duplicates across inputs whose dedup crosses a capacity boundary") {
    for (n <- Seq(1000, 20000)) {
      val rng = new Random(n)
      val base = Array.fill(n)(rng.nextLong() & Bits.maskRight(40))
      val inputs = Seq.tabulate(4)(i => base ++ Array.fill(n / 10)(rng.nextLong() & Bits.maskRight(40)))
      val total = inputs.map(_.length.toLong).sum
      val filters = inputs.map(in => BackpackFilter.fromEntries(7, C, 40, CountMode.Exact, 0, 0, 0L, in, null, in.length))
      val merged = sameForEveryCount(s"n=$n mergeAll")(p => BackpackFilter.mergeAll(filters, p))
      // q below the sort quotient of the summed inputs: the parts re-sort
      assert(merged.quotientBits < BackpackFilter.tightQBits(total))
      val all = inputs.flatten.toArray
      val built = check(s"n=$n", all, 40, rng)
      assert(built.quotientBits < BackpackFilter.tightQBits(all.length))
      assert(java.util.Arrays.equals(built.serialize(), merged.serialize()))
    }
  }

  test("empty parts") {
    for (q <- Seq(10, 14)) {
      val rng = new Random(q)
      val n = ((1L << q) * 0.1).toInt
      // q held by the floor, every quotient in the first eighth: at 8
      // parts, seven hold nothing
      val fps = within(rng, n, 40, q, 0.0, 0.125)
      assert(check(s"q=$q first eighth", fps, 40, rng, q = q).quotientBits == q)
      check(s"q=$q last part only", within(rng, n, 40, q, 0.9, 1.0), 40, rng, q = q)
    }
  }
}
