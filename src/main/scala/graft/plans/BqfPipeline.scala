package graft.plans

import graft.operators.{BqfParams, SketchAggregators}
import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FrameBridge
import org.apache.spark.sql.types._
import scala.reflect.ClassTag

/** Distributed build plans for BQF sketches.
  *
  * Scale design (100 TB / 1000 executors): only serialized sketch blobs
  * and map-side fingerprint chunks cross shuffle boundaries. Every
  * operator that routes by bucket is a map-side chunker
  * ([[chunkByBucket]], one (bucket, long[]) record shape) plus one call to
  * the one range shuffle ([[rangeShuffle]]), with no typed rows in
  * between. One sorted build ([[shardBlobs]]) builds every fingerprint-range
  * sharded index, and every one-blob build is that index folded on the
  * driver ([[buildGlobal]], [[mergeShards]]): the shard blobs are collected
  * and merged by one [[graft.core.BackpackFilter.mergeAll]] that runs its
  * quotient-range parts on the driver's cores, with no stage after the
  * sorted build's reduce. The per-source build fans hot `source` values
  * out over salts before the per-source merge (two-level aggregation); the
  * resumable build is [[graft.streaming.CheckpointedBuild]], on the ingest
  * store.
  *
  * Scale ceilings: one sketch holds at most `Int.MaxValue - 8` entries
  * ([[graft.core.BackpackFilter.mergeAll]]); a one-blob build folds on the
  * driver, which holds the shard blobs plus ~48 B per distinct entry while
  * the merge runs, so it suits sketches that fit the driver and a
  * broadcast; beyond that, [[buildIndexSorted]] and [[reshardMerge]] keep
  * the index sharded and every level parallel; the `graft.maxShardFps`
  * guard bounds one shard of the sorted plan.
  */
object BqfPipeline {

  /** One-shot global build: fingerprint arrays -> single serialized sketch,
    * the 32 shard blobs of the sorted build collected straight from its
    * reduce tasks and folded on the driver as [[mergeShards]] folds them:
    * one job of two stages. An empty input gives the empty q=7 sketch.
    */
  def buildGlobal(df: DataFrame, fpCol: Column, params: BqfParams): Array[Byte] =
    Option(foldBlobs(shardBlobs(indexChunks(df, fpCol, params, 32), params, 32).map(_._2).collect()))
      .getOrElse(params.fresh().serialize())

  /** The blob of [[buildGlobal]], which it forwards to: the layout is
    * canonical, so bucketing rows by `idCol` first never changed a byte.
    * `idCol` and `nBuckets` are ignored.
    */
  @deprecated("use buildGlobal; idCol and nBuckets are ignored", "0.1.0")
  def buildSharded(df: DataFrame, fpCol: Column, idCol: Column, params: BqfParams,
                   nBuckets: Int): Array[Byte] = buildGlobal(df, fpCol, params)

  /** Scale-path index build: shuffle fingerprints to fingerprint-range
    * buckets (high bits, so quotients inside each shard stay uniform), and
    * construct each shard filter in ONE sequential pass from its gathered
    * entries — no aggregation buffers, no big-object serialization beyond
    * the final sketch blobs. Point queries route to a shard by the same high bits. This is
    * how the build survives 100 TB: Spark's shuffle machinery moves 8-byte
    * fingerprints; the sketch is only materialized once per shard.
    *
    * Returns (bucket, serialized sketch) rows in ascending bucket order,
    * in min(nBuckets, defaultParallelism) partitions of contiguous bucket
    * ranges; `nBuckets` must be a power of two.
    */
  def buildIndexSorted(df: DataFrame, fpCol: Column, params: BqfParams,
                       nBuckets: Int): DataFrame = {
    import df.sparkSession.implicits._
    shardBlobs(indexChunks(df, fpCol, params, nBuckets), params, nBuckets)
      .map { case (bucket, sketch, _) => (bucket, sketch) }.toDF("bucket", "sketch")
  }

  /** The map side of [[buildIndexSorted]], [[buildGlobal]] and
    * [[graft.streaming.IndexIngest.build]]: each input task reads the
    * fingerprint arrays of `fpCol` from the internal rows of the input plan
    * (no typed decoder, no SQL execution of their own) and chunks them by
    * bucket ([[chunkByBucket]]). A null array (a null text/tokens row
    * upstream) contributes nothing, as an explode of it would.
    */
  private[graft] def indexChunks(df: DataFrame, fpCol: Column, params: BqfParams,
                                 nBuckets: Int): RDD[(Long, Array[Long])] =
    df.select(fpCol.cast("array<bigint>")).queryExecution.toRdd.mapPartitions(rows => chunkByBucket(
      rows.map(row => if (row.isNullAt(0)) null else row.getArray(0).toLongArray()), params.hashBits, nBuckets,
      counted = false))

  /** The reduce side of the one sorted build behind [[buildGlobal]],
    * [[buildIndexSorted]], [[reshardMerge]] and
    * [[graft.streaming.IndexIngest.build]]: the chunk records cross
    * [[rangeShuffle]], and each reduce task gathers its buckets one at a
    * time ([[gatherChunks]]) and builds each one's shard in one sequential
    * pass. One (bucket, sketch, fingerprint rows gathered) record per
    * bucket, ascending, in the shuffle's partitions. A build refuses the
    * strays of [[chunkByBucket]] (bucket -1).
    *
    * Why chunks: a profile of the index build at 155M k-grams showed
    * fingerprint extraction itself costs ~2 s at 8 cores while shuffling
    * the fingerprints as individual rows cost ~21 s and re-reading them
    * through the typed row boundary another ~13 s — the row machinery, not
    * the bytes, dominates. One (bucket, chunk) record per bucket per flush
    * is ~tasks x buckets records instead of one per k-gram; array
    * encode/decode is a memcpy. Same shuffle BYTES, ~10^4x fewer shuffle
    * ROWS.
    */
  private[graft] def shardBlobs(chunks: RDD[(Long, Array[Long])], params: BqfParams, nBuckets: Int,
                                counted: Boolean = false): RDD[(Long, Array[Byte], Long)] =
    rangeShuffle(chunks, nBuckets).mapPartitions(it => gatherChunks(it, counted) { (bucket, fps, stored) =>
      require(bucket >= 0, s"fingerprints above hashBits=${params.hashBits} have no bucket")
      (bucket, graft.core.BackpackFilter.fromEntries(7, params.countBits, params.hashBits, params.mode,
        params.kTokens, params.zTokens, params.seed, fps, stored, fps.length).serialize(), fps.length.toLong)
    }, preservesPartitioning = true)

  /** The one range shuffle of every operator that routes by bucket
    * ([[shardBlobs]], [[queryIndex]] and
    * [[graft.streaming.IndexIngest.ingestBatch]]): each record's key is its
    * bucket shifted left by `keyShift` bits, the shuffle sends it to reduce
    * task [[rangeTask]] of p = min(nBuckets, defaultParallelism), and each
    * reduce task reads its records sorted by key. The records cross through
    * Kryo, set here: Spark picks Kryo by itself only for a primitive or
    * primitive-array value type, and would send an `AnyRef` value through
    * Java serialization. `nBuckets` must be a power of two.
    *
    * Why ranges: each task owns a contiguous bucket range, balanced, none
    * empty, one bucket-clustered output file each, and exactly one bucket
    * when the cluster has nBuckets cores or more. A hash exchange of
    * nBuckets ids into nBuckets partitions would collide instead (at 32
    * buckets on 4 cores: 12 empty tasks, several holding 2-3 shards, one
    * file per non-empty task). Reading sorted by bucket, [[gatherChunks]]
    * holds one shard at a time.
    */
  private[graft] def rangeShuffle[V: ClassTag](records: RDD[(Long, V)], nBuckets: Int,
                                               keyShift: Int = 0): RDD[(Long, V)] = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0, "nBuckets must be a power of 2")
    val sc = records.sparkContext
    val p = math.min(nBuckets, sc.defaultParallelism)
    new ShuffledRDD[Long, V, V](records, new Partitioner {
      override def numPartitions: Int = p
      override def getPartition(key: Any): Int = rangeTask(key.asInstanceOf[Long] >> keyShift, nBuckets, p)
    }).setKeyOrdering(Ordering.Long).setSerializer(new KryoSerializer(sc.getConf))
  }

  /** The range rule of [[rangeShuffle]] and of compact's ranges on the
    * driver: bucket b of `nBuckets` (a power of two) goes to task
    * b * p / nBuckets of `p`, so task t owns the contiguous buckets
    * [t * nBuckets / p, (t+1) * nBuckets / p). Buckets outside
    * [0, nBuckets) — the -1 of [[chunkByBucket]]'s strays — clamp to the
    * edge tasks.
    */
  private[graft] def rangeTask(bucket: Long, nBuckets: Int, p: Int): Int =
    math.min(math.max((bucket * p) >> java.lang.Integer.numberOfTrailingZeros(nBuckets), 0L), p - 1L).toInt

  /** The bucket rule of every bucket-routed operator: a fingerprint of
    * `hashBits` bits belongs to bucket `fp >>> bucketShift` of `nBuckets`
    * (a power of two), its high bits.
    */
  private[graft] def bucketShift(hashBits: Int, nBuckets: Int): Int =
    hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)

  /** The one map-side chunker: groups each task's entry blocks by
    * destination bucket ([[bucketShift]]) into (bucket, long[]) chunk
    * records, the one record shape from here to [[gatherChunks]]. A block
    * is a fingerprint array or, when `counted`, its fingerprints followed
    * by their stored counts, and so is a chunk. Null blocks contribute
    * nothing. Fingerprints whose bucket falls outside [0, nBuckets) (bits
    * above hashBits) are strays: they come out under bucket -1, which no
    * shard has, and each caller decides what a stray means (a query
    * answers it 0, a build refuses it).
    *
    * Bounded buffering: builders flush to chunk rows every ~4M buffered
    * fingerprints (32 MB), so task heap is independent of input-partition
    * size (an unbounded version scales with the partition — a skewed 100 TB
    * split would OOM the task). The shuffle writer consumes this iterator
    * lazily, so flushed chunks leave the heap as they are emitted.
    */
  private[graft] def chunkByBucket(entries: Iterator[Array[Long]], hashBits: Int, nBuckets: Int,
                                   counted: Boolean): Iterator[(Long, Array[Long])] =
    new Iterator[(Long, Array[Long])] {
      private type Builder = scala.collection.mutable.ArrayBuilder.ofLong
      private val shift = bucketShift(hashBits, nBuckets)
      // slot nBuckets collects the strays
      private val fpB = new Array[Builder](nBuckets + 1)
      private val countB = if (counted) new Array[Builder](nBuckets + 1) else null
      private val queue = scala.collection.mutable.Queue.empty[(Long, Array[Long])]
      private var nBuffered = 0L
      private val flushAt = 4L << 20
      // expected entries per bucket per flush epoch (uniform fingerprints):
      // pre-sizing the builders removes the doubling-growth copies, which
      // at full flush epochs re-copy roughly the whole buffered volume
      private val hint = math.min(flushAt / nBuckets, 1L << 20).toInt
      private def builder(bs: Array[Builder], b: Int): Builder = {
        var bb = bs(b)
        if (bb == null) {
          bb = new Builder
          bb.sizeHint(hint)
          bs(b) = bb
        }
        bb
      }
      private def slot(fp: Long): Int = {
        val b = fp >>> shift
        if (b >= 0 && b < nBuckets) b.toInt else nBuckets
      }
      private def flush(): Unit = {
        var b = 0
        while (b <= nBuckets) {
          val bb = fpB(b)
          if (bb != null) {
            queue.enqueue((if (b == nBuckets) -1L else b.toLong,
              if (counted) Array.concat(bb.result(), countB(b).result()) else bb.result()))
            fpB(b) = null
            if (counted) countB(b) = null
          }
          b += 1
        }
        nBuffered = 0L
      }
      private def fill(): Unit =
        while (queue.isEmpty && entries.hasNext) {
          while (entries.hasNext && nBuffered < flushAt) {
            val block = entries.next()
            if (block != null) {
              var i = 0
              if (counted) {
                val n = block.length / 2
                while (i < n) {
                  val b = slot(block(i))
                  builder(fpB, b).addOne(block(i))
                  builder(countB, b).addOne(block(n + i))
                  i += 1
                }
                nBuffered += n
              } else {
                while (i < block.length) {
                  val fp = block(i)
                  builder(fpB, slot(fp)).addOne(fp)
                  i += 1
                }
                nBuffered += block.length
              }
            }
          }
          flush()
        }
      override def hasNext: Boolean = { fill(); queue.nonEmpty }
      override def next(): (Long, Array[Long]) = { fill(); queue.dequeue() }
    }

  /** The fingerprints of column `fp` as (bucket, fps) chunk records, one
    * per bucket per input task and [[chunkByBucket]] flush: the map side of
    * [[queryIndex]] and of [[graft.streaming.IndexIngest.ingestBatch]]. Each
    * task reads the internal rows of `df.select("fp")` with `getLong` into
    * 64Ki-long blocks, with no typed decoder. `getLong` reads a null as 0,
    * so a null fingerprint fails the task with an IllegalArgumentException
    * naming the column instead; a narrower integer column widens, and a
    * column of any other type is refused at the call.
    */
  private[graft] def fingerprintChunks(df: DataFrame, hashBits: Int, nBuckets: Int): RDD[(Long, Array[Long])] = {
    val t = df.schema("fp").dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
      s"fingerprint column fp is ${t.simpleString}, not bigint")
    df.select(col("fp").cast(LongType)).queryExecution.toRdd.mapPartitions { rows =>
      val blocks = new Iterator[Array[Long]] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): Array[Long] = {
          val block = new Array[Long](1 << 16)
          var n = 0
          while (n < block.length && rows.hasNext) {
            val row = rows.next()
            if (row.isNullAt(0)) throw new IllegalArgumentException(
              "a null in fingerprint column fp: a fingerprint must be a bigint, and a null has no bucket")
            block(n) = row.getLong(0)
            n += 1
          }
          if (n == block.length) block else java.util.Arrays.copyOf(block, n)
        }
      }
      chunkByBucket(blocks, hashBits, nBuckets, counted = false)
    }
  }

  /** Shard memory guard: a shard build gathers its whole shard (~16 B per
    * fingerprint + radix buffers), so an under-sharded huge corpus would
    * OOM the executor mid-stage with no hint. Fail FAST with the actionable
    * fix instead. Since a reduce task gathers its buckets one at a time,
    * the cap bounds ONE shard, whatever the number of buckets a task owns;
    * overridable via the `graft.maxShardFps` system property.
    */
  private def maxShardFps: Long =
    java.lang.Long.getLong("graft.maxShardFps", 96L << 20) // ~1.5 GB gathered

  /** Concatenate the chunk records of [[chunkByBucket]], which must arrive
    * sorted by bucket, into one fingerprint array per bucket — plain
    * arraycopies, no per-entry work — and hand each bucket to `shard`.
    * Counted chunks are split while they are copied: their fingerprint
    * halves into the fingerprints, their count halves into the stored
    * counts; uncounted ones give null stored counts (each entry one
    * occurrence). Streams: a bucket is handed over as soon as the next
    * bucket's first record arrives, so only one shard is held.
    */
  private[graft] def gatherChunks[T](it: Iterator[(Long, Array[Long])], counted: Boolean)(
      shard: (Long, Array[Long], Array[Long]) => T): Iterator[T] =
    new Iterator[T] {
      private val in = it.buffered
      private val cap = maxShardFps
      private def entries(chunk: Array[Long]): Int = if (counted) chunk.length / 2 else chunk.length
      override def hasNext: Boolean = in.hasNext
      override def next(): T = {
        val bucket = in.head._1
        val parts = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        var n = 0L
        while (in.hasNext && in.head._1 == bucket) {
          val chunk = in.next()._2
          n += entries(chunk)
          if (n > cap) throw new IllegalStateException(
            s"shard $bucket exceeds $cap fingerprints — the corpus is under-sharded " +
            "for this executor memory; raise nBuckets (shard size = total " +
            "fingerprints / nBuckets must fit task memory at ~16 B each) or " +
            "-Dgraft.maxShardFps to raise the guard")
          parts += chunk
        }
        if (in.hasNext && in.head._1 < bucket) throw new IllegalStateException(
          s"chunk rows out of bucket order (${in.head._1} after $bucket)")
        val fps = new Array[Long](n.toInt)
        val stored = if (counted) new Array[Long](fps.length) else null
        var off = 0
        parts.foreach { chunk =>
          val m = entries(chunk)
          System.arraycopy(chunk, 0, fps, off, m)
          if (counted) System.arraycopy(chunk, m, stored, off, m)
          off += m
        }
        shard(bucket, fps, stored)
      }
    }

  /** Distributed merge / re-shard: every input task reads its shard
    * sketches' raw (fingerprint, storedCount) entries as counted blocks,
    * and the same sorted build as [[buildIndexSorted]] routes them to
    * `nOut` fingerprint-range buckets and bulk-rebuilds one sketch per
    * output bucket, folding a fingerprint's stored counts as the sketch's
    * mode does (exact: saturating add, order of magnitude: max). This is
    * the scale form of the merge: where [[mergeShards]] ends in one merge
    * on the driver, reshardMerge ends in `nOut` independent O(n) sorted
    * builds, so merge wall time scales with cores. Output bucket b of nOut
    * is exactly the merge of input shards covering that fingerprint range
    * (high-bit prefix nesting), regardless of how the inputs were sharded.
    */
  def reshardMerge(shards: DataFrame, params: BqfParams, nOut: Int): DataFrame = {
    import shards.sparkSession.implicits._
    val chunks = shards.select("sketch").queryExecution.toRdd.mapPartitions(rows => chunkByBucket(rows.map { row =>
      val f = graft.core.BackpackFilter.deserialize(row.getBinary(0))
      val n = f.distinctCount.toInt
      val block = new Array[Long](2 * n) // the fingerprints, then their stored counts
      var i = 0
      // specialized visitor: zero boxing across the 10^8-entry stream
      f.foreachRaw { (fp, c) => block(i) = fp; block(n + i) = c; i += 1 }
      block
    }, params.hashBits, nOut, counted = true))
    shardBlobs(chunks, params, nOut, counted = true)
      .map { case (bucket, sketch, _) => (bucket, sketch) }.toDF("bucket", "sketch")
  }

  /** The enumerate operator exposed relationally at scale: explode every
    * (bucket, sketch) shard row into its (fingerprint, abundance) entries,
    * streaming — nothing is materialized on the driver (ref enumerate,
    * /root/reference/src/rsqf.cpp:380-415, as a distributed flatMap).
    */
  def enumerateIndex(shards: DataFrame): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.select("sketch").as[Array[Byte]]
      .flatMap(b => graft.core.BackpackFilter.deserialize(b).entries())
      .toDF("fingerprint", "abundance")
  }

  /** Distributed point queries against a sharded index — the query path
    * once the index exceeds broadcast size (a 100 TB corpus's index is
    * GBs-to-TBs of shards; no single sketch can ride a broadcast variable).
    * The map side chunks the probes by bucket ([[fingerprintChunks]], the
    * high-bit bucketing the build used), and the chunk records, keyed
    * `(bucket << 1) | 1`, and the shard rows, keyed `bucket << 1`, meet in
    * the sorted build's [[rangeShuffle]] (key shift 1, p =
    * min(nBuckets, defaultParallelism) tasks). Each reduce task reads its
    * records sorted by key, so each bucket's shard before its probes, and
    * streams bucket by bucket: it deserializes each shard once and answers
    * every probe chunk of that bucket against it. The shuffle moves 8-byte
    * probe fingerprints in array chunks plus each shard blob exactly once.
    * Both inputs are read as internal rows and the answers stream out as
    * internal rows, with no typed encoder on either side.
    *
    * Returns (fp, abundance), one row per probe row (repeated probes are
    * answered once each). A probe whose bucket has no shard — including a
    * fingerprint with bits above hashBits — answers 0 (nothing was ever
    * inserted there); a null probe fails the query with an
    * IllegalArgumentException naming column `fp`. `shards` must hold one
    * (bucket, sketch) row per bucket: a repeated bucket fails the query.
    *
    * Planning is eager: the call reads both inputs' `queryExecution.toRdd`,
    * and under adaptive execution a plan with an exchange (a `distinct()`
    * of the probes, say) runs that exchange as a job at the call; only the
    * shuffle and the answers wait for an action on the returned frame. An
    * input that is a scan, or an RDD-backed frame such as
    * [[graft.streaming.IndexIngest.currentShards]], runs no job at the call.
    */
  def queryIndex(shards: DataFrame, probes: DataFrame, params: BqfParams,
                 nBuckets: Int): DataFrame = {
    val spark = shards.sparkSession
    val probeRecords: RDD[(Long, AnyRef)] = fingerprintChunks(probes, params.hashBits, nBuckets)
      .map { case (bucket, fps) => ((bucket << 1) | 1L, fps) }
    val shardRecords: RDD[(Long, AnyRef)] = shards.select(col("bucket").cast(LongType), col("sketch"))
      .queryExecution.toRdd.map { row =>
        require(!row.isNullAt(0), "queryIndex: a shard row with a null bucket")
        (row.getLong(0) << 1, row.getBinary(1))
      }
    val answers = rangeShuffle(probeRecords.union(shardRecords), nBuckets, keyShift = 1).mapPartitions { records =>
      val out: InternalRow = new SpecificInternalRow(Seq(LongType, LongType))
      var bucket = Long.MinValue
      var shard: graft.core.BackpackFilter = null
      records.flatMap { case (key, value) =>
        val b = key >> 1
        if (b != bucket) { bucket = b; shard = null }
        if ((key & 1L) == 0L) {
          // Multiple rows for one bucket are ambiguous: an index store's
          // data files, read raw, hold SUPERSEDED versions whose merge
          // would double-count, while answering from an arbitrary row
          // would silently answer from a stale version. Refuse instead of
          // guessing: a store's live view is IndexIngest.currentShards.
          require(shard == null,
            s"queryIndex: multiple sketch rows for bucket $b -- these look like an index store's " +
              "data files read raw; query IndexIngest.currentShards(...) instead")
          shard = graft.core.BackpackFilter.deserialize(value.asInstanceOf[Array[Byte]])
          Iterator.empty
        } else {
          val f = shard
          value.asInstanceOf[Array[Long]].iterator.map { fp =>
            out.setLong(0, fp)
            out.setLong(1, if (f == null) 0L else f.abundance(fp))
            out
          }
        }
      }
    }
    FrameBridge.frame(spark, answers, AnswerSchema)
  }

  /** The (fp, abundance) rows of [[queryIndex]]. */
  private val AnswerSchema = StructType(Seq(
    StructField("fp", LongType, nullable = false), StructField("abundance", LongType, nullable = false)))

  /** Fold the `sketch` column of any shard rows into one serialized
    * sketch (null for no rows): collect the shard blobs and fold them on
    * the driver ([[foldBlobs]]). The job ends at the stage that produces
    * `shards` — no aggregation buffers, no extra exchange, no one-task
    * final stage — and the result is the same bytes however the rows were
    * sharded or partitioned. Null sketches contribute nothing.
    */
  def mergeShards(shards: DataFrame): Array[Byte] = {
    import shards.sparkSession.implicits._
    foldBlobs(shards.select("sketch").as[Array[Byte]].collect())
  }

  /** One [[graft.core.BackpackFilter.mergeAll]] of the blobs on the driver,
    * built in one part per available processor (the executors are idle by
    * then); null for no blob. The driver holds the blobs plus ~48 B per
    * distinct entry while the merge runs.
    */
  private def foldBlobs(blobs: Array[Array[Byte]]): Array[Byte] = {
    val filters = blobs.indices.flatMap { i =>
      val b = blobs(i)
      blobs(i) = null // each blob is garbage once deserialized
      Option(b).map(graft.core.BackpackFilter.deserialize)
    }
    if (filters.isEmpty) null
    else graft.core.BackpackFilter.mergeAll(filters, Runtime.getRuntime.availableProcessors).serialize()
  }

  /** Two-level skew-safe per-source build: hot `source` values fan out over
    * `salts` deterministic salt buckets before the per-source merge, so no
    * single task absorbs a hot key's entire row stream.
    */
  def buildPerSource(df: DataFrame, fpCol: Column, idCol: Column, sourceCol: Column,
                     params: BqfParams, salts: Int = 8): DataFrame = {
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    val merge = SketchAggregators.bqfMerge
    df.withColumn("__salt", pmod(xxhash64(idCol), lit(salts)))
      .groupBy(sourceCol.as("source"), col("__salt"))
      .agg(bqf(fpCol).as("partial"))
      .groupBy(col("source"))
      .agg(merge(col("partial")).as("sketch"))
  }
}
