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

  // ---- kernel properties: one sort per build, quotient-only merge sort,
  // linear enumeration ----

  private val Widths = Seq(20, 32, 48, 64)
  private val Modes = Seq(CountMode.Exact, CountMode.OrderOfMagnitude)

  /** Floor quotient: 7, or higher where the slot would exceed 63 bits. */
  private def floorQ(h: Int, c: Int): Int = math.max(7, h - 63 + c)

  private def randomFp(rng: Random, h: Int): Long = rng.nextLong() & Bits.maskRight(h)

  /** Per-entry `add` oracle over encoded stored counts (null: all ones).
    * Duplicates fold first, as a merge folds them (saturating sum exact,
    * max order-of-magnitude); `add` then stores each distinct entry's raw
    * count, whose encoding is the folded stored count.
    */
  private def viaAdd(fps: Array[Long], stored: Array[Long], c: Int, h: Int, mode: CountMode,
                     q0: Int): BackpackFilter = {
    val cMax = (1L << c) - 1
    val one = if (mode == CountMode.Exact) 1L else 0L
    val folded = mutable.LinkedHashMap.empty[Long, Long]
    for (i <- fps.indices) {
      val s = if (stored == null) one else stored(i)
      folded(fps(i)) = folded.get(fps(i)).fold(s)(o =>
        if (mode == CountMode.Exact) math.min(o + s, cMax) else math.max(o, s))
    }
    val f = BackpackFilter(qBits = q0, countBits = c, hashBits = h, mode = mode)
    folded.foreach { case (fp, s) => f.add(fp, if (mode == CountMode.Exact) s else 1L << s) }
    f
  }

  private def fromEntries(fps: Array[Long], stored: Array[Long], c: Int, h: Int, mode: CountMode,
                          q0: Int): BackpackFilter =
    BackpackFilter.fromEntries(q0, c, h, mode, 0, 0, 0L, fps, stored, fps.length)

  /** Random encoded counts: anything up to the counter maximum. */
  private def storedCounts(rng: Random, n: Int, c: Int, mode: CountMode): Array[Long] =
    Array.fill(n)(if (mode == CountMode.Exact) rng.nextInt(1 << c).toLong else rng.nextInt(c + 1).toLong)

  test("fromEntries == per-entry add across hash widths, modes, all-ones and counted input") {
    for (h <- Widths; mode <- Modes; allOnes <- Seq(true, false); seed <- 1 to 3) {
      val rng = new Random(h * 100 + seed)
      val c = if (mode == CountMode.Exact) 6 else 4
      val distinct = Array.fill(50 + rng.nextInt(2500))(randomFp(rng, h))
      val fps = distinct ++ Array.fill(rng.nextInt(distinct.length))(distinct(rng.nextInt(distinct.length)))
      val stored = if (allOnes) null else storedCounts(rng, fps.length, c, mode)
      val q0 = floorQ(h, c)
      assertTablesIdentical(fromEntries(fps, stored, c, h, mode, q0), viaAdd(fps, stored, c, h, mode, q0),
        s"h=$h $mode allOnes=$allOnes seed=$seed")
    }
  }

  test("duplicates that cross a cap boundary re-sort to the smaller quotient") {
    // 1,900 distinct entries fit q=11 (cap 1,945); with 300 duplicates the
    // 2,200 entries alone would ask for q=12, the quotient the first sort uses
    for (h <- Widths; mode <- Modes; allOnes <- Seq(true, false)) {
      val rng = new Random(h + 7)
      val c = 4
      val distinct = Iterator.continually(randomFp(rng, h)).distinct.take(1900).toArray
      val fps = rng.shuffle((distinct ++ distinct.take(300)).toSeq).toArray
      val stored = if (allOnes) null else storedCounts(rng, fps.length, c, mode)
      val got = fromEntries(fps, stored, c, h, mode, floorQ(h, c))
      assert(got.quotientBits == 11, s"h=$h: q=${got.quotientBits}")
      assertTablesIdentical(got, viaAdd(fps, stored, c, h, mode, floorQ(h, c)), s"h=$h $mode allOnes=$allOnes")
    }
  }

  test("mergeAll == fromEntries of the union: overlapping and range-disjoint inputs in shuffled order") {
    for (h <- Widths; mode <- Modes; seed <- 1 to 2) {
      val rng = new Random(h * 31 + seed)
      val c = if (mode == CountMode.Exact) 6 else 4
      val q0 = floorQ(h, c)
      val fps = Array.fill(4000)(randomFp(rng, h))
      val stored = storedCounts(rng, fps.length, c, mode)
      def part(idx: Seq[Int], q: Int): BackpackFilter =
        fromEntries(idx.map(fps).toArray, idx.map(stored).toArray, c, h, mode, q)
      val union = fromEntries(fps ++ fps.take(1500), stored ++ stored.take(1500), c, h, mode, q0)
      // overlapping: every occurrence (the first 1,500 entries twice) goes
      // to one of 5 parts with skewed odds, so parts share fingerprints and
      // differ in size and quotient
      val overlapParts = (fps.indices ++ (0 until 1500))
        .groupBy(_ => math.min(rng.nextInt(8), 4)).values.map(part(_, q0)).toSeq
      assertTablesIdentical(BackpackFilter.mergeAll(rng.shuffle(overlapParts)), union,
        s"overlapping h=$h $mode seed=$seed")
      // range-disjoint by the top bits, as index shards are
      val bits = 1 + rng.nextInt(4)
      val disjoint = (0 until 4000).groupBy(i => fps(i) >>> (h - bits)).values.map(part(_, q0)).toSeq
      val distinctOnly = fromEntries(fps, stored, c, h, mode, q0)
      assertTablesIdentical(BackpackFilter.mergeAll(rng.shuffle(disjoint)), distinctOnly,
        s"range-disjoint h=$h $mode seed=$seed")
      assertTablesIdentical(distinctOnly, viaAdd(fps, stored, c, h, mode, q0), s"add h=$h $mode seed=$seed")
      // an input built at a raised floor carries its quotient into the merge
      val raised = part(0 until 100, 14)
      assertTablesIdentical(BackpackFilter.mergeAll(Seq(disjoint.head, raised)),
        fromEntries((disjoint.head.rawEntries().map(_._1) ++ (0 until 100).map(fps)).toArray,
          (disjoint.head.rawEntries().map(_._2) ++ (0 until 100).map(stored)).toArray, c, h, mode, 14),
        s"raised floor h=$h $mode seed=$seed")
    }
  }

  /** The table walk through both its faces: `foreachRaw` and `rawEntries`
    * must yield the same sequence, in layout order (quotient, then
    * remainder, ascending).
    */
  private def walked(f: BackpackFilter, label: String): Vector[(Long, Long)] = {
    val b = Vector.newBuilder[(Long, Long)]
    f.foreachRaw((fp, s) => b += fp -> s)
    val seq = b.result()
    assert(seq == f.rawEntries().toVector, s"$label: foreachRaw and rawEntries differ")
    val q = f.quotientBits
    val layout = seq.map { case (fp, _) => (fp & Bits.maskRight(q), fp >>> q) }
    assert(layout == layout.sorted, s"$label: walk out of layout order")
    seq
  }

  private def offsets(f: BackpackFilter): Seq[Long] =
    "offset=\\s*(\\d+)".r.findAllMatchIn(f.debugDump(0, Long.MaxValue)).map(_.group(1).toLong).toSeq

  test("foreachRaw enumerates runs across the toric seam and tables with no zero-offset block") {
    val h = 32; val c = 5
    // runs of the last quotients wrap past the last slot into block 0
    val top = (1L << 7) - 3
    val wrapping = ((0 until 12).map(r => ((r + 1).toLong << 7) | top) ++
      (0 until 8).map(r => ((r + 1).toLong << 7) | (top + 2)) ++
      (0 until 5).map(r => ((r + 1).toLong << 7) | 1L)).toArray
    // both blocks of a q=7 table start with an occupied slot
    val noZero = ((0 until 20).map(r => ((r + 1).toLong << 7) | 0L) ++
      (0 until 20).map(r => ((r + 1).toLong << 7) | 64L) ++
      (0 until 30).map(r => ((r + 1).toLong << 7) | 100L)).toArray
    for ((label, fps, anyZero) <- Seq(("toric seam", wrapping, true), ("no zero-offset block", noZero, false))) {
      val f = viaAdd(fps, null, c, h, CountMode.Exact, 7)
      assert(f.quotientBits == 7, label)
      assert(offsets(f).size == 2 && offsets(f).contains(0L) == anyZero, s"$label: offsets ${offsets(f)}")
      assert(walked(f, label).sorted == fps.map(_ -> 1L).toVector.sorted, label)
      // merge and resize enumerate through foreachRaw
      assertTablesIdentical(BackpackFilter.mergeAll(Seq(f, f)), viaAdd(fps ++ fps, null, c, h, CountMode.Exact, 7),
        s"$label: mergeAll")
      val grown = viaAdd(fps, null, c, h, CountMode.Exact, 7)
      grown.resize(2)
      assertTablesIdentical(grown, viaAdd(fps, null, c, h, CountMode.Exact, 9), s"$label: resize")
    }
    // dense tables of every width: the walk yields exactly the inserted
    // multiset, and abundance's rank/select navigation reads every stored
    // count back
    for (h <- Widths; n <- Seq(100, 121, 1900, 1945)) {
      val rng = new Random(h * n)
      val fps = Array.fill(n)(randomFp(rng, h))
      val f = viaAdd(fps, null, 4, h, CountMode.Exact, floorQ(h, 4))
      val raw = walked(f, s"h=$h n=$n")
      val inserted = fps.groupBy(identity).map { case (fp, occ) => fp -> math.min(occ.length, 15L) }
      assert(raw.size == inserted.size && raw.toMap == inserted, s"h=$h n=$n: walk != inserted multiset")
      raw.foreach { case (fp, s) => assert(f.abundance(fp) == s, s"h=$h n=$n: abundance($fp)") }
    }
  }

  test("mergeAll of inputs whose every entry shares one quotient sorts in O(n log n)") {
    // 2 x 200,000 entries with equal low 20 bits and interleaved high bits:
    // one quotient group that an insertion sort would take ~10^10 steps on
    val h = 48; val c = 4
    val quot = 0x5a5a5L
    val rng = new Random(3)
    val fps = Iterator.continually(((rng.nextLong() & Bits.maskRight(h - 20)) << 20) | quot)
      .distinct.take(400000).toArray.sorted
    val evens = fps.indices.filter(_ % 2 == 0).map(fps).toArray
    val odds = fps.indices.filter(_ % 2 == 1).map(fps).toArray
    val a = fromEntries(evens, null, c, h, CountMode.Exact, 7)
    val b = fromEntries(odds, null, c, h, CountMode.Exact, 7)
    val t0 = System.nanoTime()
    val merged = BackpackFilter.mergeAll(Seq(b, a))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 5, s"mergeAll took $secs s")
    assertTablesIdentical(merged, fromEntries(fps, null, c, h, CountMode.Exact, 7), "one quotient")
    assert(merged.distinctCount == 400000 && merged.abundance(fps(12345)) == 1L)
  }
}
