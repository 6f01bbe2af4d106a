package graft.functions

import graft.core.{Bits, Fingerprint}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels invoked from generated code by the fingerprint
  * expressions — kept codegen-friendly (no closures, primitive arrays).
  */
object KGramKernels {

  /** Fingerprints of every s-token window of `tokens`. */
  def sgramFingerprints(tokens: ArrayData, s: Int, hashBits: Int, seed: Long): ArrayData = {
    val arr = tokens.toIntArray()
    UnsafeArrayData.fromPrimitiveArray(Fingerprint.windowFingerprints(arr, s, hashBits, seed))
  }

  /** The rolling-window form all three shingle kernels share: ONE byte array
    * per document, each window hashed in place via the (bytes, off, len)
    * XXH64 overload. For all-ASCII text (every byte < 0x80 <=> numChars ==
    * numBytes) character windows ARE byte windows, so no per-window copy
    * exists at all; non-ASCII documents fall back to the substring path,
    * which is bit-identical to the pre-r3 kernel (windows over UTF-16 chars,
    * each window's UTF-8 bytes hashed).
    */
  @inline private def isAscii(text: UTF8String, bytes: Array[Byte]): Boolean =
    text.numChars() == bytes.length

  /** Fingerprints of every n-character shingle of UTF-8 `text`.
    * Windows are taken over characters (ASCII text => bytes); each window's
    * UTF-8 bytes feed XXH64.
    */
  def shingleFingerprints(text: UTF8String, n: Int, hashBits: Int, seed: Long): ArrayData = {
    val bytes = text.getBytes
    val mask = Bits.maskRight(hashBits)
    if (isAscii(text, bytes)) {
      val count = bytes.length - n + 1
      if (count <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
      val out = new Array[Long](count)
      var i = 0
      while (i < count) {
        out(i) = Fingerprint.hashBytes(bytes, i, n, seed) & mask
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val str = text.toString
      val count = str.length - n + 1
      if (count <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
      val out = new Array[Long](count)
      var i = 0
      while (i < count) {
        val w = str.substring(i, i + n).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out(i) = Fingerprint.hashBytes(w, seed) & mask
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** 64-bit SimHash over n-char shingles: sum per-bit votes of shingle
    * feature hashes weighted +-1, sign -> bit (tie -> 0).
    *
    * The feature hash is splitmix64(poly31(window) + seed), where poly31 is
    * the base-31 polynomial over the window's UTF-16 code units mod 2^64
    * (ASCII text: code units == bytes, and the rolling update
    * h' = (h - c_out*31^(n-1))*31 + c_in runs allocation-free over the byte
    * array). Chosen over XXH64 deliberately: splitmix64 is a full-avalanche
    * finalizer of equivalent mixing quality for this use AND is exactly
    * reproducible in portable integer SQL — the q07 DuckDB oracle recomputes
    * every signature in closed form (HUGEINT mod-2^64 limb arithmetic), so
    * SimHash carries a hash-exact driver check instead of a rows-only one.
    */
  def simhash(text: UTF8String, n: Int, seed: Long): Long = {
    val bytes = text.getBytes
    val votes = new Array[Int](64)
    // 31^(n-1) mod 2^64, for the rolling window update
    var pow = 1L
    var p = 0
    while (p < n - 1) { pow *= 31L; p += 1 }
    if (isAscii(text, bytes)) {
      val count = bytes.length - n + 1
      if (count <= 0) return 0L
      var h = 0L
      var j = 0
      while (j < n) { h = h * 31L + (bytes(j) & 0xffL); j += 1 }
      vote(votes, Fingerprint.splitmix64(h + seed))
      var i = 1
      while (i < count) {
        h = (h - (bytes(i - 1) & 0xffL) * pow) * 31L + (bytes(i + n - 1) & 0xffL)
        vote(votes, Fingerprint.splitmix64(h + seed))
        i += 1
      }
    } else {
      val str = text.toString
      val count = str.length - n + 1
      if (count <= 0) return 0L
      var h = 0L
      var j = 0
      while (j < n) { h = h * 31L + str.charAt(j).toLong; j += 1 }
      vote(votes, Fingerprint.splitmix64(h + seed))
      var i = 1
      while (i < count) {
        h = (h - str.charAt(i - 1).toLong * pow) * 31L + str.charAt(i + n - 1).toLong
        vote(votes, Fingerprint.splitmix64(h + seed))
        i += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  @inline private def vote(votes: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
      b += 1
    }
  }

  /** MinHash signature: k minimum values (signed-long order) of the
    * per-window hash family h_j = splitmix64(poly31(window) + seed + j*phi)
    * over the n-char shingles — the splitmix64 stream seeded at the
    * window's polynomial base. The poly31 base (UTF-16 code units mod
    * 2^64, rolling on ASCII bytes) replaces the previous XXH64 for the
    * same reason as [[simhash]]: equivalent per-slot mixing, and exactly
    * reproducible in portable integer SQL — the q06 DuckDB oracle rebuilds
    * every signature, band bucket, and candidate pair in closed form.
    */
  def minhashSignature(text: UTF8String, n: Int, k: Int, seed: Long): ArrayData = {
    val bytes = text.getBytes
    val sig = Array.fill(k)(Long.MaxValue)
    @inline def slot(base: Long): Unit = {
      var j = 0
      while (j < k) {
        val h = Fingerprint.splitmix64(base + j * 0x9e3779b97f4a7c15L)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
    }
    var pow = 1L
    var p = 0
    while (p < n - 1) { pow *= 31L; p += 1 }
    if (isAscii(text, bytes)) {
      val count = bytes.length - n + 1
      if (count > 0) {
        var h = 0L
        var j = 0
        while (j < n) { h = h * 31L + (bytes(j) & 0xffL); j += 1 }
        slot(h + seed)
        var i = 1
        while (i < count) {
          h = (h - (bytes(i - 1) & 0xffL) * pow) * 31L + (bytes(i + n - 1) & 0xffL)
          slot(h + seed)
          i += 1
        }
      }
    } else {
      val str = text.toString
      val count = str.length - n + 1
      if (count > 0) {
        var h = 0L
        var j = 0
        while (j < n) { h = h * 31L + str.charAt(j).toLong; j += 1 }
        slot(h + seed)
        var i = 1
        while (i < count) {
          h = (h - str.charAt(i - 1).toLong * pow) * 31L + str.charAt(i + n - 1).toLong
          slot(h + seed)
          i += 1
        }
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Array of splitmix64(poly31(window) + seed) fingerprints of every
    * n-char shingle — the [[simhash]]/[[minhashSignature]] feature-hash
    * family, returned as the raw per-window array. Same rolling poly31
    * base (UTF-16 code units mod 2^64, byte fast path on ASCII), same
    * deliberate choice of splitmix64 over XXH64: equivalent avalanche
    * quality for sketch feeding AND exactly reproducible in portable
    * integer SQL, so consumers (the q21 HLL oracle) get hash-exact DuckDB
    * checks instead of rows-only ones.
    */
  def smShingleFingerprints(text: UTF8String, n: Int, seed: Long): ArrayData = {
    val bytes = text.getBytes
    var pow = 1L
    var p = 0
    while (p < n - 1) { pow *= 31L; p += 1 }
    if (isAscii(text, bytes)) {
      val count = math.max(bytes.length - n + 1, 0)
      val out = new Array[Long](count)
      if (count > 0) {
        var h = 0L
        var j = 0
        while (j < n) { h = h * 31L + (bytes(j) & 0xffL); j += 1 }
        out(0) = Fingerprint.splitmix64(h + seed)
        var i = 1
        while (i < count) {
          h = (h - (bytes(i - 1) & 0xffL) * pow) * 31L + (bytes(i + n - 1) & 0xffL)
          out(i) = Fingerprint.splitmix64(h + seed)
          i += 1
        }
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val str = text.toString
      val count = math.max(str.length - n + 1, 0)
      val out = new Array[Long](count)
      if (count > 0) {
        var h = 0L
        var j = 0
        while (j < n) { h = h * 31L + str.charAt(j).toLong; j += 1 }
        out(0) = Fingerprint.splitmix64(h + seed)
        var i = 1
        while (i < count) {
          h = (h - str.charAt(i - 1).toLong * pow) * 31L + str.charAt(i + n - 1).toLong
          out(i) = Fingerprint.splitmix64(h + seed)
          i += 1
        }
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Sequential double-precision dot product of two float arrays — the
    * codegen-friendly replacement for `aggregate(zip_with(a, b, x*y), ...)`
    * (higher-order functions are CodegenFallback and pay interpreted lambda
    * dispatch per ELEMENT; this is one static call per row). The summation
    * order is identical (left-to-right, 0-seeded), so results are
    * bit-identical to the lambda form and to the DuckDB list_sum oracle.
    */
  def floatDot(a: ArrayData, b: ArrayData): Double = {
    // float_dot is SQL-registered, so the inputs can be arbitrary user
    // arrays: reject a length mismatch with a clear message instead of the
    // generated code's bare ArrayIndexOutOfBounds. Null ELEMENTS read as
    // 0.0f (toFloatArray's primitive widening) — documented, matches the
    // DuckDB oracle's list_sum over null-free embeddings.
    val x = a.toFloatArray()
    val y = b.toFloatArray()
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"float_dot: array lengths differ (${x.length} vs ${y.length})")
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  /** Sequential double-precision dot product of a float array with a double
    * array (e.g. a unit-normalized centroid literal) — the codegen
    * replacement for `aggregate(zip_with(v, lit(c), x.cast(double) * c),
    * 0.0, +)`: identical left-to-right 0-seeded summation with the float
    * element widened per term, so results are bit-identical to the lambda
    * form and to the DuckDB list_sum oracle.
    */
  def floatDoubleDot(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray()
    val y = b.toDoubleArray()
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"float_double_dot: array lengths differ (${x.length} vs ${y.length})")
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i).toDouble * y(i); i += 1 }
    s
  }

  /** Signed-random-projection signature: bit p of the result is the sign of
    * the dot product between the embedding and pseudo-random hyperplane p,
    * where plane component (p, i) is derived from splitmix64(seed + p *
    * 1000003 + i) — uniform in [-1, 1). Planes are never materialized: any
    * executor reproduces them from the seed alone, which is also the
    * 100 TB answer (no plane matrix to broadcast or persist). `planes` <= 64.
    *
    * Collision probability per bit for vectors at angle theta is the
    * classic 1 - theta/pi (Charikar 2002, public result), so banded
    * grouping of the bits gives tunable LSH tables.
    */
  def hyperplaneSig(a: ArrayData, planes: Int, seed: Long): Long = {
    val x = a.toFloatArray()
    var sig = 0L
    var p = 0
    while (p < planes) {
      val base = seed + p.toLong * 1000003L
      var dot = 0.0
      var i = 0
      while (i < x.length) {
        // (h >>> 11) in [0, 2^53); * 2^-52 in [0, 2); - 1 in [-1, 1)
        val v = (Fingerprint.splitmix64(base + i) >>> 11) * 2.220446049250313e-16 - 1.0
        dot += x(i).toDouble * v
        i += 1
      }
      if (dot > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Rolling polynomial fingerprint of a whole document (mod 2^61-1). */
  def docFingerprint(text: UTF8String, seed: Long): Long = {
    val bytes = text.getBytes
    val M = (1L << 61) - 1
    var h = Fingerprint.splitmix64(seed) & M
    var i = 0
    while (i < bytes.length) {
      // h = h*B + byte mod M, with B chosen < 2^31 so the product fits i128-free
      val hi = h >>> 31
      val lo = h & ((1L << 31) - 1)
      // h * 2^31 mod M == (hi*2^62 + lo*2^31) mod M; 2^62 mod M = 2
      h = (hi * 2 + ((lo << 31) % M)) % M
      h = (h + (bytes(i) & 0xffL) + 1) % M
      i += 1
    }
    h
  }
}
