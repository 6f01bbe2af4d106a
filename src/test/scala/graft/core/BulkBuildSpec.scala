package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** The RSQF layout is canonical: runs in quotient order, each starting at
  * max(quotient, previous run end + 1), remainders ascending. So the bulk
  * sorted build must produce a table BIT-IDENTICAL to incremental insertion
  * — the strongest possible differential test for the sequential
  * placement/metadata writer.
  */
class BulkBuildSpec extends AnyFunSuite {

  private def incremental(entries: Seq[(Long, Long)], q: Int, c: Int, h: Int,
                          mode: CountMode = CountMode.Exact): BackpackFilter = {
    val f = BackpackFilter(qBits = q, countBits = c, hashBits = h, mode = mode)
    entries.foreach { case (fp, cnt) => f.add(fp, cnt) }
    f
  }

  private def bulk(entries: Seq[(Long, Long)], q: Int, c: Int, h: Int,
                   mode: CountMode = CountMode.Exact): BackpackFilter = {
    val fps = entries.map(_._1).toArray
    // feed RAW counts through the same encode as add(): exact clamps, oom logs
    val enc = BackpackFilter(qBits = q, countBits = c, hashBits = h, mode = mode)
    val counts = entries.map { case (fp, cnt) => mode match {
      case CountMode.Exact => math.min(cnt, (1L << c) - 1)
      case CountMode.OrderOfMagnitude =>
        if (cnt <= 0) 0L else math.min(63 - java.lang.Long.numberOfLeadingZeros(cnt), (1L << c) - 1).toLong
    }}.toArray
    BackpackFilter.fromEntries(q, c, h, mode, enc.kTokens, enc.zTokens, enc.seed, fps, counts, fps.length)
  }

  private def assertTablesIdentical(a: BackpackFilter, b: BackpackFilter, label: String): Unit = {
    assert(a.quotientBits == b.quotientBits, s"$label: q ${a.quotientBits} vs ${b.quotientBits}")
    assert(a.distinctCount == b.distinctCount, s"$label: distinct")
    assert(java.util.Arrays.equals(a.serialize(), b.serialize()), s"$label: table bytes differ")
  }

  test("bulk == incremental on random sets across q, load factors, duplicates") {
    for (seed <- 1 to 8; (q, h, n) <- Seq((7, 20, 60), (7, 20, 120), (8, 16, 180),
                                          (9, 30, 400), (10, 24, 900))) {
      val rng = new Random(seed * 1000 + n)
      val entries = Vector.fill(n)((rng.nextLong() & Bits.maskRight(h), (rng.nextInt(20) + 1).toLong))
      val inc = incremental(entries, q, 5, h)
      val blk = bulk(entries, q, 5, h)
      assertTablesIdentical(inc, blk, s"seed=$seed q=$q h=$h n=$n")
    }
  }

  test("bulk == incremental with auto-resize (start q below capacity)") {
    val rng = new Random(99)
    val entries = Vector.fill(4000)((rng.nextLong() & Bits.maskRight(34), 2L))
    val inc = incremental(entries, 7, 6, 34) // resizes 7 -> 13 on the way
    val blk = bulk(entries, 7, 6, 34)
    assertTablesIdentical(inc, blk, "auto-resize")
  }

  test("bulk == incremental on toric wrap clusters") {
    // clusters at the last quotients spilling over slot 0
    val q = 7; val h = 16
    val top = (1L << q) - 2
    val entries = (0 until 10).map(r => (((r + 1).toLong << q) | top, 1L)) ++
      (0 until 6).map(r => (((r + 1).toLong << q) | (top + 1), 1L)) ++
      (0 until 4).map(r => (((r + 1).toLong << q) | 1L, 1L))
    val inc = incremental(entries, q, 4, h)
    val blk = bulk(entries, q, 4, h)
    assertTablesIdentical(inc, blk, "toric wrap")
  }

  test("bulk == incremental for order-of-magnitude counters") {
    val rng = new Random(5)
    val entries = Vector.fill(300)((rng.nextLong() & Bits.maskRight(22), (rng.nextInt(1000) + 1).toLong))
    // oom duplicate semantics differ between add (no-op) and merge (max);
    // use distinct fingerprints to compare the structural layout
    val distinctEntries = entries.distinctBy(_._1)
    val inc = incremental(distinctEntries, 8, 4, 22, CountMode.OrderOfMagnitude)
    val blk = bulk(distinctEntries, 8, 4, 22, CountMode.OrderOfMagnitude)
    assertTablesIdentical(inc, blk, "oom")
  }

  test("order-of-magnitude all-ones build == per-entry add: each occurrence stores encodeCount(1)") {
    val h = 30
    val rng = new Random(11)
    val distinct = Iterator.continually(rng.nextLong() & Bits.maskRight(h)).distinct.take(200).toVector
    val fps = (distinct ++ distinct.take(50) ++ distinct.take(10)).toArray // duplicates included
    val inc = BackpackFilter(qBits = 7, countBits = 4, hashBits = h, mode = CountMode.OrderOfMagnitude)
    fps.foreach(fp => inc.add(fp))
    val blk = BackpackFilter.fromEntries(7, 4, h, CountMode.OrderOfMagnitude, inc.kTokens, inc.zTokens,
      inc.seed, fps, null, fps.length)
    assertTablesIdentical(inc, blk, "oom all-ones")
    assert(distinct.forall(fp => blk.abundance(fp) == 1L))
  }

  test("mergeAll == sequential mergeInPlace results (enumerate equality)") {
    val h = 34
    val rng = new Random(77)
    val entries = Vector.fill(30000)((rng.nextLong() & Bits.maskRight(h), (rng.nextInt(9) + 1).toLong))
    val parts = (0 until 4).map(s => entries.zipWithIndex.collect { case (e, i) if i % 4 == s => e })
    def shard(p: Seq[(Long, Long)]) = incremental(p, 10, 6, h)
    val viaBulk = BackpackFilter.mergeAll(parts.map(shard))
    val oracle = mutable.Map.empty[Long, Long]
    entries.foreach { case (fp, c) => oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + c, 63L) }
    assert(viaBulk.enumerate() == oracle.toMap)
    // post-merge structure is healthy: inserts/removes/queries still work
    viaBulk.add(12345L & Bits.maskRight(h), 3)
    assert(viaBulk.abundance(12345L & Bits.maskRight(h)) >= 3)
  }

  test("overlapping merge: mergeAll and mergeInPlace bytes == fromEntries over the union") {
    // two 5,000-entry filters sharing 4,900 fingerprints: 5,100 distinct
    // entries fit q=13, while the 10,000 input entries alone would ask for 14
    val h = 34; val c = 6
    val rng = new Random(4900)
    val fps = Iterator.continually(rng.nextLong() & Bits.maskRight(h)).distinct.take(5100).toVector
    val (left, right) = (fps.take(5000), fps.drop(100))
    def filter(xs: Seq[Long]) = bulk(xs.map(_ -> 1L), 7, c, h)
    val union = bulk(fps.take(100).map(_ -> 1L) ++ fps.slice(100, 5000).map(_ -> 2L) ++
      fps.drop(5000).map(_ -> 1L), 7, c, h)
    assert(union.quotientBits == 13)
    assertTablesIdentical(BackpackFilter.mergeAll(Seq(filter(left), filter(right))), union, "mergeAll")
    assertTablesIdentical(filter(left).mergeInPlace(filter(right)), union, "mergeInPlace")
    // a small overlapping delta folds in incrementally, with the same bytes
    val delta = fps.slice(4990, 5010)
    val grown = bulk(fps.map(_ -> 1L) ++ delta.map(_ -> 1L), 7, c, h)
    assertTablesIdentical(filter(fps).mergeInPlace(filter(delta)), grown, "incremental mergeInPlace")
  }

  test("a duplicate insert at the 95% cap does not grow the table") {
    val h = 30
    val cap = ((1L << 7) * 0.95).toLong // 121
    val fps = (1L to cap - 1).map(i => Fingerprint.splitmix64(i) & Bits.maskRight(h))
    val f = incremental(fps.map(_ -> 1L), 7, 5, h)
    assert(f.quotientBits == 7 && f.distinctCount == cap - 1)
    f.add(fps.head, 1L)
    assert(f.quotientBits == 7 && f.abundance(fps.head) == 2L)
    assertTablesIdentical(f, bulk((fps.head -> 1L) +: fps.map(_ -> 1L), 7, 5, h), "duplicate at cap")
    f.add(Fingerprint.splitmix64(0L) & Bits.maskRight(h), 1L) // a new entry does grow it
    assert(f.quotientBits == 8)
  }

  test("fromEntries handles empty and single-entry inputs") {
    val e = BackpackFilter.fromEntries(7, 5, 20, CountMode.Exact, 0, 0, 0L,
      Array.emptyLongArray, Array.emptyLongArray, 0)
    assert(e.distinctCount == 0 && e.enumerate().isEmpty)
    val s = BackpackFilter.fromEntries(7, 5, 20, CountMode.Exact, 0, 0, 0L,
      Array(0x1234L), Array(7L), 1)
    assert(s.enumerate() == Map(0x1234L -> 7L))
  }
}
