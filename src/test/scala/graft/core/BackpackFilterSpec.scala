package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** Differential tests of the filter against exact map oracles — the
  * reference's own strategy (insert→enumerate→remove round-trips with random
  * multisets, /root/reference/unitary_tests/cqf_test.cpp:262-501; resize
  * differentials, /root/reference/test/resize_tests.cpp).
  */
class BackpackFilterSpec extends AnyFunSuite {

  private def saturate(c: Int)(v: Long): Long = math.min(v, (1L << c) - 1)
  private def pow2floor(v: Long, c: Int): Long = {
    val e = math.min(63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, v)), (1L << c) - 1)
    1L << e
  }

  test("empty filter: queries return 0, enumerate empty") {
    val f = BackpackFilter(qBits = 7, countBits = 5, hashBits = 20)
    assert(f.abundance(12345L) == 0L)
    assert(!f.contains(999L))
    assert(f.enumerate().isEmpty)
    assert(f.distinctCount == 0L)
  }

  test("single insert round-trips through query and enumerate") {
    val f = BackpackFilter(qBits = 7, countBits = 5, hashBits = 20)
    f.add(0x5aaL, 3)
    assert(f.abundance(0x5aaL) == 3L)
    assert(f.enumerate() == Map(0x5aaL -> 3L))
  }

  /** Drive inserts from a deterministic stream, compare against a map oracle
    * at every power-of-two checkpoint, then remove everything.
    */
  private def roundTrip(q: Int, c: Int, hashBits: Int, n: Int, seedV: Int,
                        counted: Boolean): Unit = {
    val f = BackpackFilter(qBits = q, countBits = c, hashBits = hashBits)
    val oracle = mutable.Map.empty[Long, Long]
    val rng = new Random(seedV)
    val mask = Bits.maskRight(hashBits)

    for (i <- 1 to n) {
      val fp = rng.nextLong() & mask
      val cnt = if (counted) (fp % 31 + 1) else 1L
      f.add(fp, cnt)
      oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + cnt, (1L << c) - 1)
      if ((i & (i - 1)) == 0) { // power-of-two checkpoints
        assert(f.distinctCount == oracle.size, s"distinct at $i")
      }
    }
    assert(f.enumerate() == oracle.toMap, s"enumerate mismatch q=$q c=$c n=$n")
    // point queries for all present + a batch of absent fingerprints
    oracle.foreach { case (fp, cnt) => assert(f.abundance(fp) == cnt, s"abundance($fp)") }
    // remove everything in random order
    val keys = rng.shuffle(oracle.keys.toVector)
    keys.foreach { fp =>
      assert(f.remove(fp, Long.MaxValue), s"remove($fp)")
    }
    assert(f.distinctCount == 0L)
    assert(f.enumerate().isEmpty)
  }

  test("round-trip small q=7, fill near capacity (wrap-around stress)") {
    roundTrip(q = 7, c = 5, hashBits = 20, n = 120, seedV = 1, counted = true)
  }

  test("round-trip q=8 with duplicates accumulating") {
    roundTrip(q = 8, c = 6, hashBits = 18, n = 500, seedV = 2, counted = true)
  }

  test("round-trip q=10 membership-style (count=1)") {
    roundTrip(q = 10, c = 1, hashBits = 30, n = 900, seedV = 3, counted = false)
  }

  test("round-trip q=12 large counted, auto-resize across two doublings") {
    // n exceeds 0.95*2^12 distinct -> forces auto-resize like the reference's
    // dynamic growth (/root/reference/src/abstract_bqf.cpp:102-107)
    roundTrip(q = 12, c = 5, hashBits = 40, n = 12000, seedV = 4, counted = true)
  }

  test("dense low-hash-space: many quotient collisions, long runs") {
    // hashBits barely above q: tiny remainders -> constant collisions and
    // multi-block runs (the commented-out edge cases of cqf_test.cpp:54-137)
    roundTrip(q = 7, c = 4, hashBits = 10, n = 100, seedV = 5, counted = true)
  }

  test("clustered quotients incl. block boundaries and wrap") {
    val f = BackpackFilter(qBits = 7, countBits = 4, hashBits = 16)
    val oracle = mutable.Map.empty[Long, Long]
    // quotients straddling block boundary 63/64/65, cluster at table end
    // wrapping to 0 (toricity: /root/reference/unitary_tests/cqf_test.cpp:123-137)
    val quots = Seq(20L, 40L, 96L, 99L, 100L, 63L, 64L, 65L, 126L, 127L, 0L, 1L)
    var remBase = 1L
    for (quot <- quots; r <- 0L until 8L) {
      val fp = ((remBase + r) << 7) | quot
      f.add(fp, 1)
      oracle(fp & Bits.maskRight(16)) = math.min(oracle.getOrElse(fp & Bits.maskRight(16), 0L) + 1, 15L)
      remBase += 3
    }
    assert(f.enumerate() == oracle.toMap)
    // multi-block run: 120 distinct remainders on one quotient
    val f2 = BackpackFilter(qBits = 7, countBits = 4, hashBits = 16)
    val o2 = mutable.Map.empty[Long, Long]
    for (r <- 1L to 100L) {
      val fp = (r << 7) | 100L
      f2.add(fp, 2)
      o2(fp) = 2L
    }
    assert(f2.enumerate() == o2.toMap)
    for (r <- 1L to 100L) assert(f2.abundance((r << 7) | 100L) == 2L)
    assert(f2.abundance((101L << 7) | 100L) == 0L)
  }

  test("interleaved add/remove churn differential vs multiset oracle") {
    // the reference suite's remove-heavy pattern (cqf_test.cpp:311-501)
    // driven harder: thousands of interleaved adds/removes over a small
    // quotient space, so deletions constantly hit shared runs, block
    // boundaries, toric wraps, and the auto-resize interplay; the filter
    // must track an exact multiset oracle at every checkpoint
    for (qBits <- Seq(7, 8)) {
      val rnd = new Random(41 + qBits)
      val hashBits = qBits + 9
      var f = BackpackFilter(qBits, countBits = 8, hashBits = hashBits, mode = CountMode.Exact)
      val oracle = mutable.Map.empty[Long, Long]
      val cap = 255L
      val universe = Array.fill(300)(rnd.nextLong() & ((1L << hashBits) - 1))
      for (step <- 1 to 6000) {
        // mid-life persistence: the churned (post-delete) layout must
        // survive a serialize/deserialize round-trip and keep churning
        if (step % 1500 == 0) f = BackpackFilter.deserialize(f.serialize())
        val fp = universe(rnd.nextInt(universe.length))
        if (rnd.nextInt(3) < 2) {
          val c = rnd.nextInt(4) + 1L
          f.add(fp, c)
          oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + c, cap)
        } else {
          val c = rnd.nextInt(6) + 1L
          val cur = oracle.getOrElse(fp, 0L)
          val ok = f.remove(fp, c)
          if (cur == 0L) assert(!ok, s"remove of absent $fp returned true (step $step)")
          else {
            assert(ok, s"remove of present $fp returned false (step $step)")
            if (c >= cur) oracle.remove(fp) else oracle(fp) = cur - c
          }
        }
        if (step % 500 == 0) {
          universe.foreach(u => assert(f.abundance(u) == oracle.getOrElse(u, 0L),
            s"abundance($u) diverged at step $step (q=$qBits)"))
          assert(f.distinctCount == oracle.size.toLong, s"distinctCount at step $step")
        }
      }
      // final enumerate must equal the oracle exactly
      val enum = f.enumerate()
      assert(enum == oracle.toMap, s"final enumerate diverged (q=$qBits)")
    }
  }

  test("churn differential: oom mode (structural-only remove) and cf mode (c=1)") {
    // same adversary as the exact-mode churn, for the other two codecs:
    // oom remove is structural-only regardless of requested count
    // (bqf_oom.cpp:27-108), cf filters are 1-bit membership
    for ((mode, countBits) <- Seq((CountMode.OrderOfMagnitude, 6), (CountMode.Exact, 1))) {
      val rnd = new Random(77 + countBits)
      val qBits = 7
      val hashBits = qBits + 9
      val f = BackpackFilter(qBits, countBits = countBits, hashBits = hashBits, mode = mode)
      // oracle stores the multiset count; expected stored value derived per codec
      val oracle = mutable.Map.empty[Long, Long]
      val universe = Array.fill(250)(rnd.nextLong() & ((1L << hashBits) - 1))
      def expected(v: Long): Long =
        if (mode == CountMode.OrderOfMagnitude) pow2floor(v, countBits)
        else saturate(countBits)(v)
      for (step <- 1 to 5000) {
        val fp = universe(rnd.nextInt(universe.length))
        if (rnd.nextInt(3) < 2) {
          val c = rnd.nextInt(4) + 1L
          f.add(fp, c)
          if (mode == CountMode.OrderOfMagnitude)
            // oom counters do NOT accumulate on re-insert (add_to_counter is
            // a no-op, bqf_oom.cpp:112-114): the FIRST stored exponent wins
            oracle(fp) = oracle.getOrElse(fp, c)
          else oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + c, (1L << countBits) - 1)
        } else {
          val cur = oracle.getOrElse(fp, 0L)
          val ok = f.remove(fp, Long.MaxValue) // structural either way
          assert(ok == (cur > 0), s"remove presence diverged at step $step ($mode)")
          oracle.remove(fp)
        }
        if (step % 500 == 0)
          universe.foreach(u => assert(f.abundance(u) == oracle.get(u).map(expected).getOrElse(0L),
            s"abundance($u) diverged at step $step ($mode, c=$countBits)"))
      }
      assert(f.enumerate() == oracle.map { case (k, v) => k -> expected(v) }.toMap)
    }
  }

  test("churn across multiple resize doublings (delete+resize interplay)") {
    // universe of 1500 distinct fps over a q=7 start: the filter crosses
    // several auto-resize doublings WHILE deletions keep reshaping run
    // layouts — each rebuild consumes a post-delete table and each delete
    // runs on a freshly rebuilt one
    val rnd = new Random(97)
    val hashBits = 20
    val f = BackpackFilter(qBits = 7, countBits = 8, hashBits = hashBits, mode = CountMode.Exact)
    val oracle = mutable.Map.empty[Long, Long]
    val universe = Array.fill(1500)(rnd.nextLong() & ((1L << hashBits) - 1))
    for (step <- 1 to 20000) {
      val fp = universe(rnd.nextInt(universe.length))
      if (rnd.nextInt(4) < 3) { // add-biased so the load climbs through caps
        val c = rnd.nextInt(3) + 1L
        f.add(fp, c); oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + c, 255L)
      } else {
        val cur = oracle.getOrElse(fp, 0L)
        val c = rnd.nextInt(4) + 1L
        f.remove(fp, c)
        if (cur != 0) { if (c >= cur) oracle.remove(fp) else oracle(fp) = cur - c }
      }
      if (step % 2500 == 0) assert(f.enumerate() == oracle.toMap, s"diverged at step $step")
    }
    assert(f.distinctCount == oracle.size.toLong)
    assert(f.enumerate() == oracle.toMap)
  }

  test("merge of churned filters equals merged oracles (delete+merge interplay)") {
    // shards that have seen deletions must still merge correctly: the merge
    // path consumes the post-delete physical layout (runs shrunk, offsets
    // decremented, blocks repacked), which no insert-only test produces
    val rnd = new Random(59)
    val hashBits = 16
    def churned(seed: Int): (BackpackFilter, mutable.Map[Long, Long]) = {
      val r = new Random(seed)
      val f = BackpackFilter(qBits = 7, countBits = 8, hashBits = hashBits, mode = CountMode.Exact)
      val oracle = mutable.Map.empty[Long, Long]
      val universe = Array.fill(200)(r.nextLong() & ((1L << hashBits) - 1))
      for (_ <- 1 to 3000) {
        val fp = universe(r.nextInt(universe.length))
        if (r.nextInt(3) < 2) {
          val c = r.nextInt(4) + 1L
          f.add(fp, c); oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + c, 255L)
        } else {
          val cur = oracle.getOrElse(fp, 0L)
          val c = r.nextInt(6) + 1L
          f.remove(fp, c)
          if (cur != 0) { if (c >= cur) oracle.remove(fp) else oracle(fp) = cur - c }
        }
      }
      (f, oracle)
    }
    val shards = Seq.fill(4)(churned(rnd.nextInt()))
    val merged = BackpackFilter.mergeAll(shards.map(_._1))
    val want = shards.map(_._2).foldLeft(mutable.Map.empty[Long, Long]) { (acc, m) =>
      m.foreach { case (k, v) => acc(k) = math.min(acc.getOrElse(k, 0L) + v, 255L) }
      acc
    }
    assert(merged.enumerate() == want.toMap)
  }

  test("counter saturation at 2^c - 1 (exact codec)") {
    val f = BackpackFilter(qBits = 7, countBits = 5, hashBits = 20)
    val fp = 0x3ffeeL & Bits.maskRight(20)
    f.add(fp, 1)
    assert(f.abundance(fp) == 1)
    f.add(fp, 29)
    assert(f.abundance(fp) == 30)
    f.add(fp, 5) // 35 -> saturates at 31
    assert(f.abundance(fp) == 31)
    f.add(fp, 1000)
    assert(f.abundance(fp) == 31)
    // partial remove decrements; full remove deletes
    assert(f.remove(fp, 10))
    assert(f.abundance(fp) == 21)
    assert(f.remove(fp, 100))
    assert(f.abundance(fp) == 0)
  }

  test("order-of-magnitude codec stores floor(log2), queries 2^stored") {
    val f = BackpackFilter(qBits = 7, countBits = 3, hashBits = 20, mode = CountMode.OrderOfMagnitude)
    val cases = Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 7L -> 4L, 8L -> 8L, 100L -> 64L,
      1000000L -> (1L << 7)) // exponent clamps at 2^3-1=7
    var quot = 0L
    for ((in, expect) <- cases) {
      val fp = (quot << 9) | quot
      f.add(fp, in)
      assert(f.abundance(fp) == expect, s"oom($in)")
      quot += 1
    }
    // duplicate insert is a counter no-op for oom (bqf_oom.cpp:112-114)
    val fp0 = 0L
    f.add(fp0, 4)
    assert(f.abundance(0L) == cases(1L)) // still the first stored exponent
  }

  test("counting-filter second-insert contract vs map oracle") {
    // mirrors cqf_test.cpp:479-501 (SimpleInsert): true exactly on 2nd add
    val f = BackpackFilter(qBits = 8, countBits = 1, hashBits = 24)
    val oracle = mutable.Map.empty[Long, Int]
    val rng = new Random(77)
    for (_ <- 1 to 600) {
      val fp = rng.nextLong() & Bits.maskRight(24) & 0xffL // force duplicates
      val seen = oracle.getOrElse(fp, 0)
      val second = f.addReturningSecond(fp)
      assert(second == (seen == 1), s"fp=$fp seen=$seen")
      oracle(fp) = seen + 1
    }
    // from q=7 across several auto-resizes, byte for byte: the bulk build
    // of the distinct fingerprints, stored 1 for those seen at least twice
    val g = BackpackFilter(qBits = 7, countBits = 1, hashBits = 24)
    val universe = Array.fill(600)(rng.nextLong() & Bits.maskRight(24))
    val seen = mutable.LinkedHashMap.empty[Long, Int]
    for (_ <- 1 to 1500) {
      val fp = universe(rng.nextInt(universe.length))
      assert(g.addReturningSecond(fp) == (seen.getOrElse(fp, 0) == 1), s"fp=$fp")
      seen(fp) = seen.getOrElse(fp, 0) + 1
    }
    assert(g.quotientBits >= 9, s"only grew to q=${g.quotientBits}")
    val fps = seen.keys.toArray
    val want = BackpackFilter.fromEntries(7, 1, 24, CountMode.Exact, 0, 0, 0L,
      fps, fps.map(fp => if (seen(fp) >= 2) 1L else 0L), fps.length)
    assert(java.util.Arrays.equals(g.serialize(), want.serialize()), "second-insert filter bytes != bulk build")
  }

  /** The bytes of a c=4, 16-bit filter holding exactly `model`
    * (fingerprint -> stored count) at quotient `q`: the canonical layout
    * every path must produce.
    */
  private def canonical(model: collection.Map[Long, Long], q: Int): Array[Byte] = {
    val fps = model.keys.toArray
    BackpackFilter.fromEntries(q, 4, 16, CountMode.Exact, 0, 0, 0L, fps, fps.map(model), fps.length).serialize()
  }

  test("add and remove keep the canonical layout on clusters that lap their own block") {
    // quotient 99's remainders push quotient 100's run a whole lap round,
    // back into its own block: the offset of every block boundary the
    // shift window crosses moves
    for ((n99, n100) <- Seq((93, 5), (100, 20))) {
      val f = BackpackFilter(qBits = 7, countBits = 4, hashBits = 16)
      val model = mutable.LinkedHashMap.empty[Long, Long]
      for (fp <- (1L to n99).map(r => (r << 7) | 99L) ++ (1L to n100).map(r => (r << 7) | 100L)) {
        f.add(fp); model(fp) = 1L
        assert(java.util.Arrays.equals(f.serialize(), canonical(model, 7)), s"add $fp ($n99, $n100)")
      }
      for (fp <- new Random(n99).shuffle(model.keys.toVector)) {
        assert(f.remove(fp)); model.remove(fp)
        assert(java.util.Arrays.equals(f.serialize(), canonical(model, 7)), s"remove $fp ($n99, $n100)")
      }
    }
    // churn over a few hot quotients near the table end: long wrapping
    // clusters whose delete windows end on a block's last slot
    for (seed <- 1 to 40) {
      val rng = new Random(seed)
      val f = BackpackFilter(qBits = 7, countBits = 4, hashBits = 16)
      val model = mutable.LinkedHashMap.empty[Long, Long]
      val hot = Array.fill(3)(127L - rng.nextInt(40))
      for (step <- 1 to 400) {
        if (rng.nextInt(3) > 0 || model.isEmpty) {
          val quot = if (rng.nextInt(10) < 7) hot(rng.nextInt(3)) else rng.nextInt(128).toLong
          val fp = (rng.nextInt(512).toLong << 7) | quot
          f.add(fp); model(fp) = math.min(model.getOrElse(fp, 0L) + 1, 15L)
        } else {
          val fp = model.keys.toVector(rng.nextInt(model.size))
          assert(f.remove(fp))
          if (model(fp) > 1) model(fp) -= 1 else model.remove(fp)
        }
        assert(java.util.Arrays.equals(f.serialize(), canonical(model, f.quotientBits)),
          s"seed=$seed step=$step")
      }
    }
  }

  test("resize differential: enumerate-rebuild preserves every entry") {
    for (n <- 0 to 3) {
      val f = BackpackFilter(qBits = 8, countBits = 4, hashBits = 30)
      val rng = new Random(n)
      val oracle = mutable.Map.empty[Long, Long]
      for (_ <- 1 to 200) {
        val fp = rng.nextLong() & Bits.maskRight(30)
        f.add(fp, 3)
        oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + 3, 15L)
      }
      val before = f.enumerate()
      assert(before == oracle.toMap)
      f.resize(n)
      assert(f.quotientBits == 8 + n)
      assert(f.enumerate() == before, s"resize($n) changed contents")
    }
  }

  test("resize with deterministic cluster topologies") {
    // one run of 8 remainders at quotients 2, 62, 2^q-2 (resize_tests.cpp:316-325)
    for (quot <- Seq(2L, 62L, (1L << 8) - 2); n <- 1 to 3) {
      val f = BackpackFilter(qBits = 8, countBits = 3, hashBits = 20)
      val expect = mutable.Map.empty[Long, Long]
      for (r <- 0L until 8L) {
        val fp = (r << 8) | quot
        f.add(fp, 1)
        expect(fp) = 1L
      }
      f.resize(n)
      assert(f.enumerate() == expect.toMap, s"cluster at $quot resize($n)")
    }
  }

  test("false-positive rate bounded by 2^-r with slack") {
    val q = 12
    val hashBits = 24 // r = 12 -> FP bound 2^-12
    val f = BackpackFilter(qBits = q, countBits = 2, hashBits = hashBits)
    val rng = new Random(4242)
    val inserted = mutable.Set.empty[Long]
    while (inserted.size < 3000) {
      val fp = rng.nextLong() & Bits.maskRight(hashBits)
      f.add(fp, 1)
      inserted += fp
    }
    val negRng = new Random(8888)
    var fpCount = 0
    var tested = 0
    while (tested < 100000) {
      val cand = negRng.nextLong() & Bits.maskRight(hashBits)
      if (!inserted.contains(cand)) {
        tested += 1
        if (f.contains(cand)) fpCount += 1
      }
    }
    val bound = math.pow(2.0, -(hashBits - q).toDouble)
    // load factor ~0.73 -> expected FP ~ load * 2^-r; assert with 3x slack
    assert(fpCount.toDouble / tested <= bound * 3 + 1e-9,
      s"FP rate ${fpCount.toDouble / tested} above 3 * 2^-${hashBits - q}")
  }

  test("deserialize rejects malformed blobs with clear errors, never allocates wild") {
    val f = BackpackFilter(qBits = 7, countBits = 5, hashBits = 20)
    (1L to 50L).foreach(i => f.add(i * 7919L & 0xfffffL))
    val good = f.serialize()
    // truncated header
    val e1 = intercept[IllegalArgumentException](BackpackFilter.deserialize(good.take(40)))
    assert(e1.getMessage.contains("truncated"))
    // truncated table
    intercept[IllegalArgumentException](BackpackFilter.deserialize(good.dropRight(8)))
    // qBits corrupted to 60: must be a bounds error, not an OOM attempt
    val badQ = good.clone(); badQ(0) = 60
    val e2 = intercept[IllegalArgumentException](BackpackFilter.deserialize(badQ))
    assert(e2.getMessage.contains("qBits"))
    // hashBits <= qBits rejected
    val badH = good.clone(); badH(64) = 3 // hashBits field (9th u64, offset 8*8)
    intercept[IllegalArgumentException](BackpackFilter.deserialize(badH))
    // header fields the blob length does not pin: the load cap follows
    // from q, and the distinct count must fit under it
    def withField(i: Int, v: Long): Array[Byte] = {
      val b = good.clone()
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(8 * i, v)
      b
    }
    val e3 = intercept[IllegalArgumentException](BackpackFilter.deserialize(withField(5, 1L << 40)))
    assert(e3.getMessage.contains("sizeLimit"))
    val e4 = intercept[IllegalArgumentException](BackpackFilter.deserialize(withField(7, -5L)))
    assert(e4.getMessage.contains("nDistinct"))
    intercept[IllegalArgumentException](BackpackFilter.deserialize(withField(7, f.capacity)))
    // a distinct count below the stored entries loads, but a merge over it
    // fails with a clear error rather than an array overrun
    val e5 = intercept[IllegalArgumentException](BackpackFilter.mergeAll(Seq(BackpackFilter.deserialize(withField(7, 3L)), f)))
    assert(e5.getMessage.contains("distinct count"))
    // the untouched blob still round-trips
    assert(BackpackFilter.deserialize(good).enumerate() == f.enumerate())
  }

  test("serialize/deserialize round-trip") {
    val f = BackpackFilter(qBits = 8, countBits = 5, hashBits = 30, kTokens = 8, zTokens = 2)
    val rng = new Random(11)
    for (_ <- 1 to 300) f.add(rng.nextLong() & Bits.maskRight(30), 2)
    val bytes = f.serialize()
    val g = BackpackFilter.deserialize(bytes)
    assert(g.quotientBits == f.quotientBits)
    assert(g.distinctCount == f.distinctCount)
    assert(g.enumerate() == f.enumerate())
    assert(g.kTokens == 8 && g.zTokens == 2)
  }

  test("suggestQBits sizing rule") {
    assert(BackpackFilter.suggestQBits(1) == 7)
    assert(BackpackFilter.suggestQBits(100) == 8)
    assert(BackpackFilter.suggestQBits(1L << 20) == 21)
    assert(BackpackFilter.suggestQBits((1L << 20) + 1) == 22)
  }
}

/** Merge-law properties (new capability required by the north rule — the
  * reference is single-filter; semantics derived in SURVEY.md §2.e).
  */
class MergeSpec extends AnyFunSuite {

  private def freshEntries(n: Int, seedV: Int, hashBits: Int): Vector[(Long, Long)] = {
    val rng = new Random(seedV)
    Vector.fill(n)((rng.nextLong() & Bits.maskRight(hashBits), (rng.nextInt(40) + 1).toLong))
  }

  private def build(entries: Seq[(Long, Long)], q: Int, c: Int, hashBits: Int): BackpackFilter = {
    val f = BackpackFilter(qBits = q, countBits = c, hashBits = hashBits)
    entries.foreach { case (fp, cnt) => f.add(fp, cnt) }
    f
  }

  test("merge equals single-filter build (2, 4 and 8 shards; all split styles)") {
    val hashBits = 34
    val entries = freshEntries(4000, 123, hashBits)
    val whole = build(entries, 10, 6, hashBits).enumerate()

    for (shards <- Seq(2, 4, 8); style <- Seq("roundrobin", "byhash", "skewed")) {
      val parts: Seq[Seq[(Long, Long)]] = style match {
        case "roundrobin" => (0 until shards).map(s => entries.zipWithIndex.collect { case (e, i) if i % shards == s => e })
        case "byhash"     => (0 until shards).map(s => entries.filter { case (fp, _) => math.floorMod(fp, shards) == s })
        case "skewed"     => // first shard gets 70%
          val cut = entries.length * 7 / 10
          Seq(entries.take(cut)) ++ (0 until shards - 1).map(s =>
            entries.drop(cut).zipWithIndex.collect { case (e, i) if i % (shards - 1) == s => e })
      }
      val filters = parts.map(p => build(p, 10, 6, hashBits))
      val merged = filters.reduce((a, b) => a.mergeInPlace(b))
      assert(merged.enumerate() == whole, s"shards=$shards style=$style")
    }
  }

  test("merge is order-insensitive across merge trees") {
    val hashBits = 30
    val entries = freshEntries(2000, 321, hashBits)
    val parts = (0 until 4).map(s => entries.zipWithIndex.collect { case (e, i) if i % 4 == s => e })
    def mk = parts.map(p => build(p, 9, 5, hashBits))

    val leftFold = mk.reduceLeft((a, b) => a.mergeInPlace(b)).enumerate()
    val rightFold = mk.reduceRight((a, b) => b.mergeInPlace(a)).enumerate()
    val pairTree = { val f = mk; f(0).mergeInPlace(f(1)); f(2).mergeInPlace(f(3)); f(0).mergeInPlace(f(2)).enumerate() }
    val shuffled = { val f = scala.util.Random.shuffle(mk); f.reduceLeft((a, b) => a.mergeInPlace(b)).enumerate() }
    assert(leftFold == rightFold)
    assert(leftFold == pairTree)
    assert(leftFold == shuffled)
  }

  test("merge with unequal sizes after auto-resize") {
    val hashBits = 36
    val big = freshEntries(9000, 9, hashBits) // forces resize at q=10
    val small = freshEntries(50, 10, hashBits)
    val a = build(big, 10, 5, hashBits)
    val b = build(small, 10, 5, hashBits)
    assert(a.quotientBits > 10) // resized
    val expect = build(big ++ small, 14, 5, hashBits).enumerate()
    assert(a.mergeInPlace(b).enumerate() == expect)
    // opposite direction: small absorbs big (resizing on the way)
    val a2 = build(big, 10, 5, hashBits)
    val b2 = build(small, 10, 5, hashBits)
    assert(b2.mergeInPlace(a2).enumerate() == expect)
  }

  test("repeated small-delta merges into a large shard equal one-shot build (ingest shape)") {
    // steady-state streaming ingest: each micro-batch folds a small delta
    // into a much larger shard. mergeInPlace takes the incremental
    // O(delta × cluster) path there (other ≤ max(4096, this/8)) — verify it
    // agrees with the single-filter build, counts included, with deltas that
    // overlap already-present fingerprints (counter merges) and new ones
    // (slot inserts), across the auto-resizes the growth forces.
    val hashBits = 36
    val base = freshEntries(12000, 77, hashBits)
    val deltas = (0 until 6).map { i =>
      // half of each delta re-touches base fps (count bumps), half is fresh
      val overlap = base.slice(i * 300, i * 300 + 300).map { case (fp, c) => (fp, 1L) }
      overlap ++ freshEntries(300, 1000 + i, hashBits).map { case (fp, c) => (fp, c) }
    }
    val shard = build(base, 10, 6, hashBits)
    deltas.foreach { d =>
      val delta = build(d, 8, 6, hashBits)
      assert(delta.distinctCount <= math.max(4096L, shard.distinctCount / 8)) // incremental path
      shard.mergeInPlace(delta)
    }
    val all = (base ++ deltas.flatten).groupBy(_._1).toSeq
      .map { case (fp, cs) => (fp, cs.map(_._2).sum) }
    val expect = build(all, 15, 6, hashBits).enumerate()
    assert(shard.enumerate() == expect)
  }

  test("oom merge takes max exponent (mergeable extension)") {
    val f1 = BackpackFilter(qBits = 7, countBits = 4, hashBits = 20, mode = CountMode.OrderOfMagnitude)
    val f2 = BackpackFilter(qBits = 7, countBits = 4, hashBits = 20, mode = CountMode.OrderOfMagnitude)
    f1.add(42L, 4)   // exp 2
    f2.add(42L, 100) // exp 6
    f1.add(77L, 9)   // exp 3 only in f1
    val m12 = f1.mergeInPlace(f2)
    assert(m12.abundance(42L) == 64L) // max exponent wins
    assert(m12.abundance(77L) == 8L)
  }

  test("saturating add is merge-order independent even at the cap") {
    val hashBits = 24
    val fp = 0x1234L
    // three shards with counts 20, 20, 25; cap = 31
    def shard(cnt: Long) = {
      val f = BackpackFilter(qBits = 7, countBits = 5, hashBits = hashBits)
      f.add(fp, cnt); f
    }
    val o1 = shard(20).mergeInPlace(shard(20)).mergeInPlace(shard(25)).abundance(fp)
    val o2 = shard(25).mergeInPlace(shard(20)).mergeInPlace(shard(20)).abundance(fp)
    val o3 = { val a = shard(20); val b = shard(25).mergeInPlace(shard(20)); a.mergeInPlace(b).abundance(fp) }
    assert(o1 == 31L && o2 == 31L && o3 == 31L)
  }
}

class SequenceStatsSpec extends AnyFunSuite {

  /** Exact Fimpera oracle: k-gram abundance = min over its z+1 s-gram exact
    * counts (abstract_bqf.cpp:229-247 semantics).
    */
  private def oracleStats(tokens: Array[Int], counts: Map[Long, Long],
                          f: BackpackFilter): SequenceStats = {
    val k = f.kTokens; val s = f.sTokens; val z = f.zTokens
    val n = tokens.length
    if (n < k) return SequenceStats(0, 0, 0.0, 0.0)
    val abund = (0 to n - s).map(i => counts.getOrElse(f.fingerprintAt(tokens, i), 0L))
    val kAbunds = (0 to n - k).map(i => (i to i + z).map(abund).min)
    val present = kAbunds.filter(_ > 0)
    val nK = (n - k + 1).toDouble
    SequenceStats(
      if (kAbunds.contains(0L)) 0L else present.min,
      if (present.isEmpty) 0L else present.max,
      present.sum / nK,
      present.size / nK)
  }

  test("sequence stats match the exact oracle on indexed/novel/chimeric docs") {
    val k = 8; val z = 2; val s = k - z
    val f = BackpackFilter(qBits = 10, countBits = 8, hashBits = 40, kTokens = k, zTokens = z)
    val rng = new Random(55)
    val docs = Vector.fill(30)(Array.fill(40 + rng.nextInt(60))(rng.nextInt(500)))
    val counts = mutable.Map.empty[Long, Long]
    docs.foreach { d =>
      for (i <- 0 to d.length - s) {
        val fp = f.fingerprintAt(d, i)
        f.add(fp, 1)
        counts(fp) = math.min(counts.getOrElse(fp, 0L) + 1, 255L)
      }
    }
    // positive: indexed docs; novel: fresh random docs; chimeric: half/half
    val novel = Vector.fill(10)(Array.fill(60)(rng.nextInt(500) + 100000))
    val chimeric = docs.take(5).map(d => d.take(d.length / 2) ++ Array.fill(30)(rng.nextInt(500) + 100000))
    for (doc <- docs ++ novel ++ chimeric) {
      val got = f.sequenceStats(doc)
      val want = oracleStats(doc, counts.toMap, f)
      assert(got.minimum == want.minimum, s"min for doc len ${doc.length}")
      assert(got.maximum == want.maximum)
      assert(math.abs(got.average - want.average) < 1e-9)
      assert(math.abs(got.presenceRatio - want.presenceRatio) < 1e-9)
    }
    // indexed docs must report full presence
    docs.foreach { d => assert(f.sequenceStats(d).presenceRatio == 1.0) }
  }

  test("sequence shorter than k yields zeros; n == k == s single-point path") {
    val f = BackpackFilter(qBits = 7, countBits = 5, hashBits = 30, kTokens = 6, zTokens = 0)
    assert(f.sequenceStats(Array(1, 2, 3)) == SequenceStats(0, 0, 0.0, 0.0))
    val doc = Array(9, 8, 7, 6, 5, 4)
    f.add(f.fingerprintAt(doc, 0), 7)
    assert(f.sequenceStats(doc) == SequenceStats(7, 7, 7.0, 1.0))
  }
}
