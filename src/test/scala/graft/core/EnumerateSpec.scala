package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The lazy [[BackpackFilter.rawEntries]] iterator must visit exactly the
  * (fingerprint, storedCount) set [[BackpackFilter.enumerate]] collects
  * through [[BackpackFilter.foreachRaw]] — including after removes, resizes,
  * and on toric-wrap layouts.
  */
class EnumerateSpec extends AnyFunSuite {

  private def rawToMap(f: BackpackFilter): Map[Long, Long] =
    f.rawEntries().toMap

  test("rawEntries == enumerate across random fill levels and modes") {
    for (seed <- 1 to 6; (q, h, n) <- Seq((7, 20, 1), (7, 20, 60), (8, 16, 180),
                                          (9, 30, 400), (10, 24, 900))) {
      for (mode <- Seq(CountMode.Exact, CountMode.OrderOfMagnitude)) {
        val rng = new Random(seed * 7919 + n)
        val f = BackpackFilter(qBits = q, countBits = 6, hashBits = h, mode = mode)
        (1 to n).foreach(_ => f.add(rng.nextLong() & Bits.maskRight(h), rng.nextInt(30) + 1L))
        val viaIterator = f.entries().toMap
        assert(viaIterator == f.enumerate(), s"seed=$seed q=$q h=$h n=$n mode=$mode")
        assert(viaIterator.size == f.distinctCount)
      }
    }
  }

  test("rawEntries on an empty filter is empty") {
    assert(BackpackFilter(7, 5, 20).rawEntries().isEmpty)
  }

  test("rawEntries survives removes and auto-resize") {
    val rng = new Random(4242)
    val f = BackpackFilter(qBits = 7, countBits = 6, hashBits = 34)
    val fps = Vector.fill(3000)(rng.nextLong() & Bits.maskRight(34))
    fps.foreach(fp => f.add(fp, 2L)) // resizes several times
    fps.take(1000).foreach(fp => f.remove(fp)) // partial-remove path
    assert(f.entries().toMap == f.enumerate())
  }

  test("rawEntries streams stored counts (oom decode happens in entries)") {
    val f = BackpackFilter(qBits = 7, countBits = 5, hashBits = 20,
      mode = CountMode.OrderOfMagnitude)
    f.add(12345L, 9L) // floor(log2 9) = 3 stored; decoded 1 << 3 = 8
    assert(rawToMap(f).apply(12345L & Bits.maskRight(20)) == 3L)
    assert(f.entries().toMap.apply(12345L & Bits.maskRight(20)) == 8L)
  }
}
