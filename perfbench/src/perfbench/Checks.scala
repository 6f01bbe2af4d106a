package perfbench

import graft.core.BackpackFilter

/** Output checks against the oracle. Each returns the list of mismatches
  * (empty when the answer is right); a mismatch fails the op, never the run.
  */
object Checks {
  def equal[A](what: String, expected: A, got: A): Seq[String] =
    if (expected == got) Nil else Seq(s"$what: expected $expected, got $got")

  /** What a set of (bucket, sketch) shards holds: distinct fingerprints, the
    * sum of their (saturated) counts, and fingerprints stored in a shard
    * other than the one their high bits route to.
    */
  final case class StoreContents(distinct: Long, satTotal: Long, misrouted: Long)

  def contents(shards: Seq[(Long, Array[Byte])], nBuckets: Int): StoreContents = {
    val shift = Shape.HashBits - Integer.numberOfTrailingZeros(nBuckets)
    var distinct = 0L; var sat = 0L; var misrouted = 0L
    shards.foreach { case (bucket, blob) =>
      val f = BackpackFilter.deserialize(blob)
      distinct += f.distinctCount
      f.foreachRaw { (fp, stored) =>
        sat += stored
        if ((fp >>> shift) != bucket) misrouted += 1
      }
    }
    StoreContents(distinct, sat, misrouted)
  }

  def store(what: String, got: StoreContents, expectDistinct: Long, expectSat: Long): Seq[String] =
    equal(s"$what distinct", expectDistinct, got.distinct) ++
      equal(s"$what saturated total", expectSat, got.satTotal) ++
      equal(s"$what misrouted fingerprints", 0L, got.misrouted)

  /** Every output of one kind in a run must hash the same: the first one
    * seen is the reference.
    */
  final class SameHash(what: String) {
    private var first: String = null
    def apply(bytes: Array[Byte]*): Seq[String] = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      bytes.foreach(md.update)
      val h = md.digest().map("%02x".format(_)).mkString
      if (first == null) { first = h; Nil }
      else equal(s"$what hash", first, h)
    }
  }

  /** Sum and hit count of a probe pass: (probes answered, sum of answers,
    * answers > 0).
    */
  def probes(what: String, nProbes: Long, expectSum: Long, expectHits: Long,
             got: (Long, Long, Long)): Seq[String] =
    equal(s"$what probes answered", nProbes, got._1) ++
      equal(s"$what answer sum", expectSum, got._2) ++
      equal(s"$what answers > 0", expectHits, got._3)

  /** Per-doc Fimpera stats must equal the oracle's exactly, and every doc
    * copied from the corpus must be fully present.
    */
  def sequenceStats(got: Map[String, (Long, Long, Double, Double)],
                    expected: Map[String, (Long, Long, Double, Double)],
                    copied: Set[String]): Seq[String] = {
    val wrong = expected.iterator.filter { case (id, e) => !got.get(id).contains(e) }.map(_._1).toSeq
    val absentCopies = copied.iterator.filter(id => !got.get(id).exists(_._4 == 1.0)).toSeq
    equal("docs answered", expected.size, got.size) ++
      (if (wrong.isEmpty) Nil else Seq(s"${wrong.size} docs with wrong stats, e.g. ${wrong.head}: " +
        s"expected ${expected(wrong.head)}, got ${got.get(wrong.head)}")) ++
      (if (absentCopies.isEmpty) Nil else Seq(s"${absentCopies.size} corpus-copied docs not fully present"))
  }

  /** A replayed batch must leave the store's file listing unchanged. */
  def listingUnchanged(before: Seq[(String, Long)], after: Seq[(String, Long)]): Seq[String] =
    if (before == after) Nil
    else Seq(s"replay changed the store listing: ${(after diff before).take(3).mkString(", ")} " +
      s"appeared, ${(before diff after).take(3).mkString(", ")} vanished")
}
