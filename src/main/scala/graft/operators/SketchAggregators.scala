package graft.operators

import graft.core.{BackpackFilter, CountMode}
import graft.sketch.{BloomSketch, CountMinSketch, HyperLogLog}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Construction parameters for a distributed BQF build.
  *
  * Every built sketch follows one quotient rule: q is the smallest value
  * >= 7 (and >= the largest q of any merged input) whose 95% load cap
  * admits the deduplicated entry count ([[BackpackFilter.fromEntries]]).
  *
  * @param qBits     quotient bits of [[freshSized]] only; built sketches
  *                  size themselves by the rule above
  * @param countBits abundance counter bits (saturates at 2^c - 1)
  * @param hashBits  fingerprint width; FP bound = 2^-(hashBits - q)
  */
final case class BqfParams(
    qBits: Int = 16,
    countBits: Int = 16,
    hashBits: Int = 48,
    mode: CountMode = CountMode.Exact,
    kTokens: Int = 8,
    zTokens: Int = 2,
    seed: Long = 0L) {
  /** Tokens per inserted s-gram: s = k - z. */
  def sTokens: Int = kTokens - zTokens

  /** Empty filter at the floor quotient (q=7). `add` grows it at the 95%
    * cap, so it ends at the q the rule gives for its distinct count.
    */
  def fresh(): BackpackFilter =
    BackpackFilter(7, countBits, hashBits, mode, kTokens, zTokens, seed)

  /** Full-size filter at the declared qBits (query-side / direct use). */
  def freshSized(): BackpackFilter =
    BackpackFilter(qBits, countBits, hashBits, mode, kTokens, zTokens, seed)
}

/** Aggregation buffer: encoded (fingerprint, storedCount) entries buffered
  * since the last flush, a consolidated filter `live`, and already-built
  * filters merged in from other partials. The buffer flushes through
  * [[BackpackFilter.fromEntries]] every [[BqfShards.FlushAt]] entries, so
  * task heap stays bounded; `pending` folds in ONE k-way bulk merge, and
  * [[BqfShards.MergeCap]] bounds how many built filters wait for it. No
  * path inserts per row, so the result depends only on the entries, never
  * on how Spark split them.
  */
final class BqfShards(var live: BackpackFilter,
                      var pending: List[BackpackFilter]) extends Serializable
    with com.esotericsoftware.kryo.KryoSerializable {
  // buffered entries; `counts == null` while every entry is one occurrence
  // (the keys-only sort of fromEntries). Kryo instantiates this class without
  // running the constructor, so `read` resets these fields itself.
  private var fps: Array[Long] = null
  private var counts: Array[Long] = null
  private var n = 0

  private def reserve(k: Int): Unit =
    if (fps == null || n + k > fps.length) {
      val len = math.max(n + k, if (fps == null) 1024 else fps.length * 2)
      fps = if (fps == null) new Array[Long](len) else java.util.Arrays.copyOf(fps, len)
      if (counts != null) counts = java.util.Arrays.copyOf(counts, len)
    }

  /** Buffer every fingerprint of `xs` with count 1. */
  def addOnes(xs: Array[Long]): BqfShards = {
    reserve(xs.length)
    System.arraycopy(xs, 0, fps, n, xs.length)
    if (counts != null) java.util.Arrays.fill(counts, n, n + xs.length, live.encodeCount(1L))
    n += xs.length
    if (n >= BqfShards.FlushAt) flush()
    this
  }

  /** Buffer one fingerprint with an already-encoded stored count. */
  def addStored(fp: Long, stored: Long): BqfShards = {
    reserve(1)
    if (counts == null) {
      counts = new Array[Long](fps.length)
      java.util.Arrays.fill(counts, 0, n, live.encodeCount(1L))
    }
    fps(n) = fp
    counts(n) = stored
    n += 1
    if (n >= BqfShards.FlushAt) flush()
    this
  }

  /** Take a built filter: an empty `live` is replaced outright (it carries
    * no entries and no larger q), anything else waits in `pending`.
    */
  private def push(f: BackpackFilter): Unit =
    if (live == null || (live.distinctCount == 0 && live.quotientBits <= f.quotientBits)) live = f
    else pending = f :: pending

  private def flush(): Unit = if (n > 0) {
    push(BackpackFilter.fromEntries(7, live.countBits, live.hashBits, live.mode,
      live.kTokens, live.zTokens, live.seed, fps, counts, n))
    fps = null; counts = null; n = 0
  }

  def absorb(other: BqfShards): BqfShards = {
    other.flush()
    if (other.live != null) push(other.live)
    other.pending.foreach(push)
    if (pending.size >= BqfShards.MergeCap) consolidate()
    this
  }

  /** Add one built shard (the merge aggregator's input). */
  def absorbShard(f: BackpackFilter): BqfShards = {
    push(f)
    if (pending.size >= BqfShards.MergeCap) consolidate()
    this
  }

  def consolidate(): BqfShards = {
    flush()
    if (pending.nonEmpty) {
      live = BackpackFilter.mergeAll(live :: pending)
      pending = Nil
    }
    this
  }
  def result(): Array[Byte] = consolidate().live.serialize()

  // Kryo moves these buffers across every partial-aggregation exchange;
  // the default field serializer walks the filter object graph and writes
  // the table array element-wise. Routing through the filter's own
  // serialize()/deserialize() ships the canonical blob with one bulk copy
  // instead — and consolidating first means a buffer crosses the wire as
  // ONE filter, which the receiving merge had to fold anyway.
  override def write(kryo: com.esotericsoftware.kryo.Kryo,
                     output: com.esotericsoftware.kryo.io.Output): Unit = {
    consolidate()
    if (live == null) output.writeInt(-1)
    else {
      val b = live.serialize()
      output.writeInt(b.length)
      output.writeBytes(b)
    }
  }
  override def read(kryo: com.esotericsoftware.kryo.Kryo,
                    input: com.esotericsoftware.kryo.io.Input): Unit = {
    val len = input.readInt()
    live = if (len < 0) null else BackpackFilter.deserialize(input.readBytes(len))
    pending = Nil
    fps = null; counts = null; n = 0
  }
}

object BqfShards {
  /** Buffered entries per flush: 32 MB of fingerprints, the bound the
    * index build's map-side chunker uses.
    */
  final val FlushAt = 4 << 20

  /** Built filters waiting before a consolidating bulk merge: a 32-shard
    * index folds in ONE `mergeAll` instead of two partial passes. The
    * shards all reach the merging task regardless, so the cap sets the
    * number of folds, not the memory order.
    */
  final val MergeCap = 32
}

/** The central mergeable UDAF of the library: each partition's fingerprint
  * arrays buffer as entries and build through
  * [[BackpackFilter.fromEntries]]; Catalyst's partial aggregation merges
  * shard sketches at the shuffle boundary (the signature named by the
  * north star: Aggregator[IN, BQFSketch, OUT]). The buffer lives as a JVM
  * object inside ObjectHashAggregate, serialized only when partials cross
  * the exchange.
  */
class BqfArrayAggregator(params: BqfParams)
    extends Aggregator[Array[Long], BqfShards, Array[Byte]] {
  override def zero: BqfShards = new BqfShards(params.fresh(), Nil)
  override def reduce(b: BqfShards, fps: Array[Long]): BqfShards =
    if (fps == null) b else b.addOnes(fps)
  override def merge(a: BqfShards, b: BqfShards): BqfShards = a.absorb(b)
  override def finish(r: BqfShards): Array[Byte] = r.result()
  override def bufferEncoder: Encoder[BqfShards] = Encoders.kryo[BqfShards]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Weighted variant: rows are (fingerprint, count) pairs — the shape of the
  * reference's counted-s-mer input (/root/reference/src/abstract_bqf.cpp:22-52).
  * Duplicate fingerprints combine as in a merge: saturating add (exact),
  * max exponent (order of magnitude).
  */
class BqfCountedAggregator(params: BqfParams)
    extends Aggregator[(Long, Long), BqfShards, Array[Byte]] {
  override def zero: BqfShards = new BqfShards(params.fresh(), Nil)
  override def reduce(b: BqfShards, in: (Long, Long)): BqfShards =
    b.addStored(in._1, b.live.encodeCount(in._2))
  override def merge(a: BqfShards, b: BqfShards): BqfShards = a.absorb(b)
  override def finish(r: BqfShards): Array[Byte] = r.result()
  override def bufferEncoder: Encoder[BqfShards] = Encoders.kryo[BqfShards]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Merges already-serialized shard sketches inside an aggregation, as the
  * per-source merge of `BqfPipeline.buildPerSource` does (the one-blob
  * fold `BqfPipeline.mergeShards` merges on the driver instead). The live
  * filter stays null until the first shard arrives, so a merge of no rows
  * is null.
  */
class BqfMergeAggregator extends Aggregator[Array[Byte], BqfShards, Array[Byte]] {
  override def zero: BqfShards = new BqfShards(null, Nil)
  override def reduce(b: BqfShards, bytes: Array[Byte]): BqfShards =
    b.absorbShard(BackpackFilter.deserialize(bytes))
  override def merge(a: BqfShards, b: BqfShards): BqfShards = a.absorb(b)
  override def finish(r: BqfShards): Array[Byte] =
    if (r.live == null) null else r.result()
  override def bufferEncoder: Encoder[BqfShards] = Encoders.kryo[BqfShards]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** `rehash = true` (default) runs inputs through the XXH64 finalizer
  * (addValue) — right for arbitrary values. `rehash = false` feeds inputs
  * straight into the registers — right when they are already full-avalanche
  * hashes (e.g. the splitmix64 shingle fingerprints q21 uses so its DuckDB
  * oracle can replay the registers in closed form).
  */
class HllArrayAggregator(p: Int, rehash: Boolean = true) extends Aggregator[Array[Long], HyperLogLog, Long] {
  override def zero: HyperLogLog = new HyperLogLog(p)
  override def reduce(b: HyperLogLog, fps: Array[Long]): HyperLogLog = {
    var i = 0
    while (i < fps.length) { if (rehash) b.addValue(fps(i)) else b.add(fps(i)); i += 1 }
    b
  }
  override def merge(a: HyperLogLog, b: HyperLogLog): HyperLogLog = a.merge(b)
  override def finish(r: HyperLogLog): Long = r.estimate()
  override def bufferEncoder: Encoder[HyperLogLog] = Encoders.kryo[HyperLogLog]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

class CountMinArrayAggregator(depth: Int, widthBits: Int)
    extends Aggregator[Array[Long], CountMinSketch, Array[Byte]] {
  override def zero: CountMinSketch = new CountMinSketch(depth, widthBits)
  override def reduce(b: CountMinSketch, fps: Array[Long]): CountMinSketch = {
    var i = 0
    while (i < fps.length) { b.add(fps(i)); i += 1 }
    b
  }
  override def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch = a.merge(b)
  override def finish(r: CountMinSketch): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[CountMinSketch] = Encoders.kryo[CountMinSketch]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

class BloomArrayAggregator(mBits: Long, k: Int)
    extends Aggregator[Array[Long], BloomSketch, Array[Byte]] {
  override def zero: BloomSketch = new BloomSketch(mBits, k)
  override def reduce(b: BloomSketch, fps: Array[Long]): BloomSketch = {
    var i = 0
    while (i < fps.length) { b.add(fps(i)); i += 1 }
    b
  }
  override def merge(a: BloomSketch, b: BloomSketch): BloomSketch = a.merge(b)
  override def finish(r: BloomSketch): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[BloomSketch] = Encoders.kryo[BloomSketch]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

class TDigestAggregator(compression: Double)
    extends Aggregator[Double, graft.sketch.TDigest, Array[Byte]] {
  override def zero: graft.sketch.TDigest = new graft.sketch.TDigest(compression)
  override def reduce(b: graft.sketch.TDigest, x: Double): graft.sketch.TDigest = { b.add(x); b }
  override def merge(a: graft.sketch.TDigest, b: graft.sketch.TDigest): graft.sketch.TDigest = a.merge(b)
  override def finish(r: graft.sketch.TDigest): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[graft.sketch.TDigest] = Encoders.kryo[graft.sketch.TDigest]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

class KllAggregator(k: Int)
    extends Aggregator[Double, graft.sketch.KllSketch, Array[Byte]] {
  override def zero: graft.sketch.KllSketch = new graft.sketch.KllSketch(k)
  override def reduce(b: graft.sketch.KllSketch, x: Double): graft.sketch.KllSketch = { b.add(x); b }
  override def merge(a: graft.sketch.KllSketch, b: graft.sketch.KllSketch): graft.sketch.KllSketch = a.merge(b)
  override def finish(r: graft.sketch.KllSketch): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[graft.sketch.KllSketch] = Encoders.kryo[graft.sketch.KllSketch]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** udaf(...) registrations — each returns a Column-applicable function. */
object SketchAggregators {
  private implicit val longArrayEnc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  private implicit val longPairEnc: Encoder[(Long, Long)] = ExpressionEncoder[(Long, Long)]()

  def bqfOverFingerprintArrays(params: BqfParams): UserDefinedFunction =
    udaf(new BqfArrayAggregator(params), longArrayEnc)

  def bqfOverCountedFingerprints(params: BqfParams): UserDefinedFunction =
    udaf(new BqfCountedAggregator(params), longPairEnc)

  def bqfMerge: UserDefinedFunction = udaf(new BqfMergeAggregator, Encoders.BINARY)

  def hllOverFingerprintArrays(p: Int = 14, rehash: Boolean = true): UserDefinedFunction =
    udaf(new HllArrayAggregator(p, rehash), longArrayEnc)

  def countMinOverFingerprintArrays(depth: Int = 5, widthBits: Int = 16): UserDefinedFunction =
    udaf(new CountMinArrayAggregator(depth, widthBits), longArrayEnc)

  def bloomOverFingerprintArrays(mBits: Long, k: Int): UserDefinedFunction =
    udaf(new BloomArrayAggregator(mBits, k), longArrayEnc)

  def tdigest(compression: Double = 100.0): UserDefinedFunction =
    udaf(new TDigestAggregator(compression), Encoders.scalaDouble)

  def kll(k: Int = 200): UserDefinedFunction =
    udaf(new KllAggregator(k), Encoders.scalaDouble)
}
