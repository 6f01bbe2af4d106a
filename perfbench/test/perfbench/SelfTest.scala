package perfbench

import graft.core.{BackpackFilter, CountMode}

/** The benchmark's own tests: every output check passes on the right answer
  * and trips on a perturbed one, and the generator, hash and oracle agree
  * with their specifications. Run: `python3 perfbench/run.py --self-test`.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def expect(what: String, ok: Boolean): Unit =
    if (ok) passed += 1 else { failures += 1; System.err.println(s"FAIL: $what") }

  private def passes(what: String, problems: Seq[String]): Unit =
    expect(s"$what passes (got ${problems.mkString("; ")})", problems.isEmpty)

  private def trips(what: String, problems: Seq[String]): Unit =
    expect(s"$what trips", problems.nonEmpty)

  private def filter(entries: Seq[(Long, Long)]): BackpackFilter = {
    val f = BackpackFilter(7, Shape.CountBits, Shape.HashBits, CountMode.Exact, Shape.K, Shape.Z, Shape.Seed)
    entries.foreach { case (fp, c) => f.add(fp, c) }
    f
  }

  def main(args: Array[String]): Unit = {
    // hash: the XXH64 reference value of the empty input, and agreement with
    // the program's kernel on short (s = 6) and striped (s = 9) windows
    expect("xxh64 of empty input", Xxh64.hash(Array.emptyByteArray, 0, 0, 0L) == 0xef46db3751d8e999L)
    val rnd = new java.util.Random(7)
    for (s <- Seq(1, 6, 9); _ <- 0 until 200) {
      val t = Array.fill(s + 3)(rnd.nextInt(50257))
      val seed = rnd.nextLong()
      expect(s"xxh64 window of $s tokens", Xxh64.hash(Xxh64.leBytes(t), 4, 4 * s, seed) ==
        graft.core.Fingerprint.hashWindow(t, 1, s, seed))
    }

    // generator: FIXTURES §1, as the program's own synthesizer has it
    for (i <- Seq(0L, 1L, 977L, 123456L)) {
      val mine = Doc.of(42L, i, i)
      val theirs = graft.sources.TokensTable.rowOf(42L, i)
      expect(s"generator row $i", mine.doc_id == theirs.doc_id && mine.source == theirs.source &&
        java.util.Arrays.equals(mine.tokens, theirs.tokens))
    }

    // oracle: counts, saturation and per-batch prefixes on a hand example
    val o = Oracle(2, b => Iterator(if (b == 0) Array(5L, 5L, 9L) else Array.fill(40)(9L) :+ 11L), Array(9L, 9L, 4L))
    expect("oracle distinct", o.distinct.toSeq == Seq(2L, 3L))
    expect("oracle saturated total", o.satTotal.toSeq == Seq(3L, 2L + 31L + 1L))
    expect("oracle probe sums", o.probeSum.toSeq == Seq(2L, 62L) && o.probeHits.toSeq == Seq(2L, 2L))
    expect("oracle counts", o.count(9L) == 41L && o.count(4L) == 0L)

    // the oracle's sequence stats equal the program's on a filter holding
    // the exact saturated counts
    val docs = (0 until 20).map(i => Gen.tokens(3L, i))
    val fps = docs.take(10).flatMap(Shape.fps).toArray
    val so = Oracle(1, _ => Iterator(fps ++ fps.take(50) ++ Array.fill(40)(fps(0))), Array.emptyLongArray)
    val sf = BackpackFilter.fromEntries(7, Shape.CountBits, Shape.HashBits, CountMode.Exact, Shape.K, Shape.Z,
      Shape.Seed, fps ++ fps.take(50) ++ Array.fill(40)(fps(0)), null, fps.length + 90)
    docs.foreach { t =>
      val s = sf.sequenceStats(t)
      expect("oracle sequence stats", so.sequenceStats(t) == ((s.minimum, s.maximum, s.average, s.presenceRatio)))
    }

    // store contents: distinct, saturated total, routing
    val entries = Seq(1L -> 3L, (1L << 47) + 5 -> 40L, 77L -> 1L)
    val f = filter(entries)
    val right = Checks.contents(Seq(0L -> f.serialize()), 1)
    passes("store check", Checks.store("s", right, 3L, 3L + 31L + 1L))
    trips("store check on distinct", Checks.store("s", right, 4L, 35L))
    trips("store check on saturated total", Checks.store("s", right, 3L, 34L))
    val lo = filter(entries.filter(_._1 < (1L << 47))); val hi = filter(entries.filter(_._1 >= (1L << 47)))
    passes("routing check", Checks.store("s", Checks.contents(Seq(0L -> lo.serialize(), 1L -> hi.serialize()), 2), 3L, 35L))
    trips("routing check", Checks.store("s", Checks.contents(Seq(1L -> lo.serialize(), 0L -> hi.serialize()), 2), 3L, 35L))

    // every output of a kind hashes the same
    val h = new Checks.SameHash("blob")
    passes("first hash", h(Array[Byte](1, 2, 3)))
    passes("same hash", h(Array[Byte](1, 2, 3)))
    trips("hash check", h(Array[Byte](1, 2, 4)))

    // probe sums
    passes("probe check", Checks.probes("p", 10, 25, 7, (10L, 25L, 7L)))
    trips("probe check on count", Checks.probes("p", 10, 25, 7, (9L, 25L, 7L)))
    trips("probe check on sum", Checks.probes("p", 10, 25, 7, (10L, 26L, 7L)))
    trips("probe check on hits", Checks.probes("p", 10, 25, 7, (10L, 25L, 6L)))

    // sequence stats: exact per doc, copied docs fully present
    val exp = Map("a" -> (1L, 3L, 2.0, 1.0), "b" -> (0L, 0L, 0.0, 0.0))
    passes("seq check", Checks.sequenceStats(exp, exp, Set("a")))
    trips("seq check on a changed average", Checks.sequenceStats(exp.updated("b", (0L, 0L, 0.5, 0.0)), exp, Set("a")))
    trips("seq check on a missing doc", Checks.sequenceStats(exp - "b", exp, Set("a")))
    trips("seq check on a copied doc not present", Checks.sequenceStats(exp, exp, Set("a", "b")))

    // a replay must leave the listing alone
    val listing = Seq("part-0.parquet" -> 100L, "_graft_index.json" -> 20L)
    passes("listing check", Checks.listingUnchanged(listing, listing))
    trips("listing check on a new file", Checks.listingUnchanged(listing, listing :+ ("part-1.parquet" -> 90L)))
    trips("listing check on a changed size", Checks.listingUnchanged(listing, listing.updated(0, "part-0.parquet" -> 101L)))

    // statistics
    expect("median", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    expect("tail of 40", Stats.tail((1 to 40).map(_.toDouble)) == ((30.0, 75.0)))

    println(s"self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
