package perfbench

/** The benchmark's own input generator and oracle. Nothing here calls the
  * program: rows follow the FIXTURES §1 splitmix64 formulas, fingerprints
  * come from an independent byte-wise XXH64, and the oracle counts them
  * exactly. The program only ever sees the parquet tables written from
  * these rows.
  */
object Gen {
  val Vocab = 50257L
  /** Generator rows of the hot pool and of novel (never indexed) docs live
    * far above any corpus row, so the three row ranges never overlap.
    */
  val HotBase: Long = 1L << 40
  val NovelBase: Long = 1L << 41

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FIXTURES §1: len = 64 + sm(seed ^ i) % 193, token j = sm(seed*31 + i*1000003 + j) % 50257. */
  def tokens(seed: Long, row: Long): Array[Int] = {
    val len = (64 + Math.floorMod(splitmix64(seed ^ row), 193L)).toInt
    Array.tabulate(len)(j => Math.floorMod(splitmix64(seed * 31 + row * 1000003L + j), Vocab).toInt)
  }

  def source(seed: Long, row: Long): String = {
    val b = Math.floorMod(splitmix64(seed ^ ~row), 100L)
    if (b < 70) "web" else if (b < 85) "books" else if (b < 95) "code" else "wiki"
  }

  /** Generator row of corpus doc `i`: a share `hotPermille`/1000 of the docs
    * repeat one of `nHot` hot rows, which drives some counters past
    * saturation; every other doc is its own row.
    */
  def corpusRow(seed: Long, i: Long, hotPermille: Int, nHot: Int): Long = {
    val h = splitmix64(seed * 0x2545f4914f6cdd1dL + i)
    if (Math.floorMod(h, 1000L) < hotPermille) HotBase + Math.floorMod(h >>> 16, nHot.toLong)
    else i
  }
}

/** One row of the FIXTURES §1 tokens table. */
final case class Doc(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

object Doc {
  def of(seed: Long, id: Long, row: Long): Doc = {
    val t = Gen.tokens(seed, row)
    Doc(f"doc$id%08d", t, t.length, Gen.source(seed, row))
  }
}

/** XXH64 (public algorithm) over the little-endian bytes of a token window,
  * written byte-wise and independently of the program's fingerprint kernel.
  */
object Xxh64 {
  private final val P1 = 0x9e3779b185ebca87L
  private final val P2 = 0xc2b2ae3d27d4eb4fL
  private final val P3 = 0x165667b19e3779f9L
  private final val P4 = 0x85ebca77c2b2ae63L
  private final val P5 = 0x27d4eb2f165667c5L

  private def le64(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | (b(o + k) & 0xffL); k -= 1 }
    v
  }
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def round(acc: Long, in: Long): Long = java.lang.Long.rotateLeft(acc + in * P2, 31) * P1
  private def mergeRound(acc: Long, v: Long): Long = (acc ^ round(0L, v)) * P1 + P4

  def hash(b: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    val end = off + len
    var p = off
    var h = 0L
    if (len >= 32) {
      var v1 = seed + P1 + P2; var v2 = seed + P2; var v3 = seed; var v4 = seed - P1
      while (p <= end - 32) {
        v1 = round(v1, le64(b, p)); v2 = round(v2, le64(b, p + 8))
        v3 = round(v3, le64(b, p + 16)); v4 = round(v4, le64(b, p + 24))
        p += 32
      }
      h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
        java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
      h = mergeRound(mergeRound(mergeRound(mergeRound(h, v1), v2), v3), v4)
    } else h = seed + P5
    h += len
    while (p <= end - 8) { h = java.lang.Long.rotateLeft(h ^ round(0L, le64(b, p)), 27) * P1 + P4; p += 8 }
    if (p <= end - 4) { h = java.lang.Long.rotateLeft(h ^ (le32(b, p) * P1), 23) * P2 + P3; p += 4 }
    while (p < end) { h = java.lang.Long.rotateLeft(h ^ ((b(p) & 0xffL) * P5), 11) * P1; p += 1 }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^ (h >>> 32)
  }

  def leBytes(tokens: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(tokens.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tokens.foreach(bb.putInt)
    bb.array()
  }
}

/** Sketch parameters shared by every workload (FIXTURES §1 k=8, z=2, c=5). */
object Shape {
  val K = 8
  val Z = 2
  val S: Int = K - Z
  val CountBits = 5
  val HashBits = 48
  val Seed = 0L
  val CountMax: Long = (1L << CountBits) - 1

  /** The s-gram fingerprints of one doc, as the oracle sees them. */
  def fps(tokens: Array[Int]): Array[Long] = {
    val n = tokens.length - S + 1
    if (n <= 0) return Array.emptyLongArray
    val b = Xxh64.leBytes(tokens)
    val m = (1L << HashBits) - 1
    Array.tabulate(n)(i => Xxh64.hash(b, 4 * i, 4 * S, Seed) & m)
  }
}

/** Exact fingerprint counts, cumulative over numbered batches (a single
  * batch 0 for a static corpus). `distinct(b)`, `satTotal(b)` and
  * `probeSum(b)` are the expected store contents and probe answers after
  * batches 0..b; `count` answers point lookups on the final contents.
  */
final class Oracle(val distinct: Array[Long], val satTotal: Array[Long],
                   val probeSum: Array[Long], val probeHits: Array[Long],
                   keys: Array[Long], counts: Array[Int]) {
  def count(fp: Long): Long = {
    val i = java.util.Arrays.binarySearch(keys, fp)
    if (i >= 0) counts(i).toLong else 0L
  }

  /** Fimpera stats of one doc from exact counts: a k-gram's abundance is the
    * minimum over its z+1 s-gram counts (each saturated at the counter max).
    */
  def sequenceStats(tokens: Array[Int]): (Long, Long, Double, Double) = {
    val n = tokens.length
    if (n < Shape.K) return (0L, 0L, 0.0, 0.0)
    val a = Shape.fps(tokens).map(fp => math.min(count(fp), Shape.CountMax))
    var min = Long.MaxValue; var max = 0L; var sum = 0L; var present = 0L
    var start = 0
    while (start + Shape.K <= n) {
      var ka = Long.MaxValue
      var j = start
      while (j <= start + Shape.Z) { ka = math.min(ka, a(j)); j += 1 }
      if (ka == 0) min = 0
      else { min = math.min(min, ka); max = math.max(max, ka); sum += ka; present += 1 }
      start += 1
    }
    val nk = (n - Shape.K + 1).toDouble
    if (min == Long.MaxValue) min = 0
    (min, max, sum / nk, present / nk)
  }
}

object Oracle {
  // fp < 2^48, so (fp << 15 | batch) stays positive and sorts by fp first
  private val BatchBits = 15

  /** `fpsOfBatch(b)` yields the fingerprints of batch b; `probes` is the
    * multiset of probe fingerprints answered after every batch.
    */
  def apply(nBatches: Int, fpsOfBatch: Int => Iterator[Array[Long]], probes: Array[Long]): Oracle = {
    require(nBatches >= 1 && nBatches < (1 << BatchBits))
    val occ = new scala.collection.mutable.ArrayBuilder.ofLong
    for (b <- 0 until nBatches; fps <- fpsOfBatch(b); fp <- fps) occ += (fp << BatchBits) | b
    val keys = occ.result()
    java.util.Arrays.parallelSort(keys)
    val probe = probes.clone()
    java.util.Arrays.parallelSort(probe)

    val dDistinct = new Array[Long](nBatches)
    val dSat = new Array[Long](nBatches)
    val dProbe = new Array[Long](nBatches)
    val dHits = new Array[Long](nBatches)
    val distinctKeys = new scala.collection.mutable.ArrayBuilder.ofLong
    val finalCounts = new scala.collection.mutable.ArrayBuilder.ofInt
    var pi = 0
    var i = 0
    while (i < keys.length) {
      val fp = keys(i) >>> BatchBits
      var j = i
      while (j < keys.length && (keys(j) >>> BatchBits) == fp) j += 1
      while (pi < probe.length && probe(pi) < fp) pi += 1
      var mult = 0L
      while (pi + mult < probe.length && probe(pi + mult.toInt) == fp) mult += 1
      dDistinct((keys(i) & ((1 << BatchBits) - 1)).toInt) += 1
      dHits((keys(i) & ((1 << BatchBits) - 1)).toInt) += mult
      // each of the first CountMax occurrences raises the saturated count by one
      var k = i
      while (k < j && k - i < Shape.CountMax) {
        val b = (keys(k) & ((1 << BatchBits) - 1)).toInt
        dSat(b) += 1
        dProbe(b) += mult
        k += 1
      }
      distinctKeys += fp
      finalCounts += (j - i)
      i = j
    }
    def prefix(d: Array[Long]): Array[Long] = d.scanLeft(0L)(_ + _).tail
    new Oracle(prefix(dDistinct), prefix(dSat), prefix(dProbe), prefix(dHits),
      distinctKeys.result(), finalCounts.result())
  }
}
