package graft.plans

import graft.operators.{BqfParams, SketchAggregators}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed build plans for BQF sketches.
  *
  * Scale design (100 TB / 1000 executors): only serialized sketch blobs
  * and map-side fingerprint chunks cross shuffle boundaries. One sorted
  * plan ([[sortedBuild]]) builds every fingerprint-range sharded index, and
  * every one-blob build is that index folded by [[mergeShards]]: the shard
  * blobs are collected and merged by one
  * [[graft.core.BackpackFilter.mergeAll]] on the driver, a single sort of
  * the shard entries with no stage after the sorted build's reduce. The
  * keyed producers bucket rows by a deterministic xxhash64 of the row id
  * (checkpoint resume) or fan hot `source` values out over salts before
  * the per-source merge (two-level aggregation).
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
    * the 32-shard sorted index folded by [[mergeShards]]. An empty input
    * gives the empty q=7 sketch.
    */
  def buildGlobal(df: DataFrame, fpCol: Column, params: BqfParams): Array[Byte] =
    Option(mergeShards(buildIndexSorted(df, fpCol, params, 32)))
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
    val spark = df.sparkSession
    import spark.implicits._
    sortedBuild(df.select(fpCol.as("fps")).as[Array[Long]], params, nBuckets, counted = false)(
      docs => docs.map(fps => (fps, null)))
  }

  /** The one sorted build plan behind [[buildIndexSorted]] and
    * [[reshardMerge]]: each input task turns its rows into (fingerprints,
    * stored counts) entry arrays (`counted = false`: counts are all 1 and
    * stay null), the map-side chunker groups them by destination bucket
    * (high fingerprint bits) into array-chunk rows, one exchange moves the
    * chunks, and each reduce task gathers its buckets and builds every
    * shard with [[graft.core.BackpackFilter.fromEntries]].
    *
    * Routing: with p = min(nBuckets, defaultParallelism) reduce tasks,
    * bucket b goes to task b * p / nBuckets (integer division), so task t
    * owns the contiguous buckets [t * nBuckets / p, (t+1) * nBuckets / p):
    * balanced, none empty, one bucket-clustered output file each, and
    * exactly one bucket per task when the cluster has nBuckets cores or
    * more. A hash exchange of nBuckets ids into nBuckets partitions would
    * collide instead (at 32 buckets on 4 cores: 12 empty tasks, several
    * holding 2-3 shards, one file per non-empty task). Each task sorts its
    * chunk rows by bucket, so [[gatherChunks]] holds one shard at a time.
    *
    * Why chunks: a profile of the index build at 155M k-grams showed
    * fingerprint extraction itself costs ~2 s at 8 cores while shuffling
    * the fingerprints as individual rows cost ~21 s and re-reading them
    * through the typed row boundary another ~13 s — the row machinery, not
    * the bytes, dominates. One (bucket, chunk) row per bucket per flush is
    * ~tasks x buckets rows instead of one per k-gram; array encode/decode
    * is a memcpy. Same shuffle BYTES, ~10^4x fewer shuffle ROWS.
    */
  private def sortedBuild[T](in: org.apache.spark.sql.Dataset[T], params: BqfParams,
                             nBuckets: Int, counted: Boolean)(
      entries: Iterator[T] => Iterator[(Array[Long], Array[Long])]): DataFrame = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0, "nBuckets must be a power of 2")
    val spark = in.sparkSession
    import spark.implicits._
    val shift = params.hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)
    val p = math.min(nBuckets, spark.sparkContext.defaultParallelism)
    in.mapPartitions(it => chunkByBucket(entries(it), nBuckets, shift, counted))
      .toDF("bucket", "fps", "stored")
      .repartitionById(p, rangeRoute(col("bucket"), nBuckets, p))
      .sortWithinPartitions("bucket")
      .as[(Long, Array[Long], Array[Long])]
      .mapPartitions(it => gatherChunks(it).map { case (bucket, fps, stored) =>
        require(bucket >= 0, s"fingerprints above hashBits=${params.hashBits} have no bucket")
        (bucket, buildShard(fps, stored, params))
      })
      .toDF("bucket", "sketch")
  }

  /** The range rule of [[sortedBuild]], [[queryIndex]] and
    * [[graft.streaming.IndexIngest.compact]]: bucket b of `nBuckets` (a
    * power of two) goes to task b * p / nBuckets of `p`, so task t owns the
    * contiguous buckets [t * nBuckets / p, (t+1) * nBuckets / p). Buckets
    * outside [0, nBuckets) — the -1 of [[chunkByBucket]]'s strays — clamp
    * to the edge tasks.
    */
  private[graft] def rangeRoute(bucket: Column, nBuckets: Int, p: Int): Column =
    least(greatest(shiftright(bucket * p, java.lang.Integer.numberOfTrailingZeros(nBuckets)), lit(0L)),
      lit(p - 1L)).cast("int")

  /** Map-side bucketizer of [[sortedBuild]], [[queryIndex]] and
    * [[graft.streaming.IndexIngest.ingestBatch]]: groups each task's entries
    * by destination bucket into (bucket, fingerprints, stored counts) chunk
    * rows; the counts array is null unless `counted`. Fingerprints whose
    * bucket falls outside [0, nBuckets) (bits above hashBits) are strays:
    * they come out under bucket -1, which no shard has, and each caller
    * decides what a stray means (a query answers it 0, a build refuses it).
    *
    * Bounded buffering: builders flush to chunk rows every ~4M buffered
    * fingerprints (32 MB), so task heap is independent of input-partition
    * size (an unbounded version scales with the partition — a skewed 100 TB
    * split would OOM the task). The shuffle writer consumes this iterator
    * lazily, so flushed chunks leave the heap as they are emitted. Null
    * fingerprint arrays (a null text/tokens row upstream) contribute
    * nothing, matching the old explode path's semantics.
    */
  private[graft] def chunkByBucket(entries: Iterator[(Array[Long], Array[Long])], nBuckets: Int,
                            shift: Int, counted: Boolean): Iterator[(Long, Array[Long], Array[Long])] =
    new Iterator[(Long, Array[Long], Array[Long])] {
      private type Builder = scala.collection.mutable.ArrayBuilder.ofLong
      // slot nBuckets collects the strays
      private val fpB = new Array[Builder](nBuckets + 1)
      private val countB = if (counted) new Array[Builder](nBuckets + 1) else null
      private val queue = scala.collection.mutable.Queue.empty[(Long, Array[Long], Array[Long])]
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
            queue.enqueue((if (b == nBuckets) -1L else b.toLong, bb.result(),
              if (counted) countB(b).result() else null))
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
            val (fps, stored) = entries.next()
            if (fps != null) {
              var i = 0
              if (counted) {
                while (i < fps.length) {
                  val b = slot(fps(i))
                  builder(fpB, b).addOne(fps(i))
                  builder(countB, b).addOne(stored(i))
                  i += 1
                }
              } else {
                while (i < fps.length) {
                  val fp = fps(i)
                  builder(fpB, slot(fp)).addOne(fp)
                  i += 1
                }
              }
              nBuffered += fps.length
            }
          }
          flush()
        }
      override def hasNext: Boolean = { fill(); queue.nonEmpty }
      override def next(): (Long, Array[Long], Array[Long]) = { fill(); queue.dequeue() }
    }

  /** The fingerprints of column `fp` as (bucket, fps) chunk rows, one per
    * bucket per input task and [[chunkByBucket]] flush: the map side of
    * [[queryIndex]] and of [[graft.streaming.IndexIngest.ingestBatch]].
    */
  private[graft] def fpChunks(df: DataFrame, hashBits: Int, nBuckets: Int): DataFrame = {
    import df.sparkSession.implicits._
    val shift = hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)
    df.select(col("fp")).as[Long]
      .mapPartitions { it =>
        val blocks = it.grouped(1 << 16).map(g => (g.toArray, null: Array[Long]))
        chunkByBucket(blocks, nBuckets, shift, counted = false).map { case (bucket, fps, _) => (bucket, fps) }
      }
      .toDF("bucket", "fps")
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

  /** Concatenate per-bucket chunk rows ((bucket, fps, stored?) with stored
    * possibly null for the all-ones build), which must arrive sorted by
    * bucket, into one contiguous pair of arrays per bucket — plain
    * arraycopies, no per-entry work. Streams: a bucket is emitted as soon
    * as the next bucket's first row arrives, so only one shard is held.
    */
  private[graft] def gatherChunks(it: Iterator[(Long, Array[Long], Array[Long])])
      : Iterator[(Long, Array[Long], Array[Long])] =
    new Iterator[(Long, Array[Long], Array[Long])] {
      private val in = it.buffered
      private val cap = maxShardFps
      override def hasNext: Boolean = in.hasNext
      override def next(): (Long, Array[Long], Array[Long]) = {
        val bucket = in.head._1
        val parts = scala.collection.mutable.ArrayBuffer.empty[(Array[Long], Array[Long])]
        var n = 0L
        while (in.hasNext && in.head._1 == bucket) {
          val (_, f, s) = in.next()
          n += f.length
          if (n > cap) throw new IllegalStateException(
            s"shard $bucket exceeds $cap fingerprints — the corpus is under-sharded " +
            "for this executor memory; raise nBuckets (shard size = total " +
            "fingerprints / nBuckets must fit task memory at ~16 B each) or " +
            "-Dgraft.maxShardFps to raise the guard")
          parts += ((f, s))
        }
        if (in.hasNext && in.head._1 < bucket) throw new IllegalStateException(
          s"chunk rows out of bucket order (${in.head._1} after $bucket)")
        val fps = new Array[Long](n.toInt)
        val stored = if (parts.head._2 == null) null else new Array[Long](fps.length)
        var off = 0
        parts.foreach { case (f, s) =>
          System.arraycopy(f, 0, fps, off, f.length)
          if (stored != null) System.arraycopy(s, 0, stored, off, s.length)
          off += f.length
        }
        (bucket, fps, stored)
      }
    }

  private def buildShard(fps: Array[Long], stored: Array[Long], params: BqfParams): Array[Byte] =
    graft.core.BackpackFilter.fromEntries(
      7, params.countBits, params.hashBits, params.mode,
      params.kTokens, params.zTokens, params.seed, fps, stored, fps.length).serialize()

  /** Distributed merge / re-shard: every input task reads its shard
    * sketches' raw (fingerprint, storedCount) entries, and the same sorted
    * build as [[buildIndexSorted]] routes them to `nOut` fingerprint-range
    * buckets and bulk-rebuilds one sketch per output bucket. This is the
    * scale form of the merge: where [[mergeShards]] ends in one merge on
    * the driver, reshardMerge ends in `nOut` independent O(n)
    * sorted builds, so merge wall time scales with cores. Output bucket b
    * of nOut is exactly the merge of input shards covering that fingerprint
    * range (high-bit prefix nesting), regardless of how the inputs were
    * sharded.
    */
  def reshardMerge(shards: DataFrame, params: BqfParams, nOut: Int): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    sortedBuild(shards.select("sketch").as[Array[Byte]], params, nOut, counted = true)(
      _.map { bytes =>
        val f = graft.core.BackpackFilter.deserialize(bytes)
        val fps = new Array[Long](f.distinctCount.toInt)
        val stored = new Array[Long](fps.length)
        var i = 0
        // specialized visitor: zero boxing across the 10^8-entry stream
        f.foreachRaw { (fp, c) => fps(i) = fp; stored(i) = c; i += 1 }
        (fps, stored)
      })
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
    * The map side chunks the probes by bucket with [[chunkByBucket]] (the
    * high-bit bucketing the build used), and the chunk rows and the shard
    * rows meet in one exchange under [[sortedBuild]]'s range rule
    * ([[rangeRoute]], p = min(nBuckets, defaultParallelism) tasks). Each
    * reduce task sorts its rows by bucket, shard row first, and streams
    * bucket by bucket: it deserializes each shard once and answers every
    * probe chunk of that bucket against it. The shuffle moves 8-byte probe
    * fingerprints in array chunks plus each shard blob exactly once.
    *
    * Returns (fp, abundance), one row per probe row (repeated probes are
    * answered once each). A probe whose bucket has no shard — including a
    * fingerprint with bits above hashBits — answers 0 (nothing was ever
    * inserted there). `shards` must hold one (bucket, sketch) row per
    * bucket: a repeated bucket fails the query.
    */
  def queryIndex(shards: DataFrame, probes: DataFrame, params: BqfParams,
                 nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0, "nBuckets must be a power of 2")
    val spark = shards.sparkSession
    import spark.implicits._
    val p = math.min(nBuckets, spark.sparkContext.defaultParallelism)
    fpChunks(probes, params.hashBits, nBuckets).withColumn("sketch", lit(null).cast("binary"))
      .union(shards.select(col("bucket"), lit(null).cast("array<bigint>").as("fps"), col("sketch")))
      .repartitionById(p, rangeRoute(col("bucket"), nBuckets, p))
      .sortWithinPartitions(col("bucket"), col("fps").isNotNull)
      .as[(Long, Array[Long], Array[Byte])]
      .mapPartitions { rows =>
        var bucket = Long.MinValue
        var shard: graft.core.BackpackFilter = null
        rows.flatMap { case (b, fps, sketch) =>
          if (b != bucket) { bucket = b; shard = null }
          if (fps == null) {
            // Multiple rows for one bucket are ambiguous: a multi-version
            // ingest store (bucket, sketch, batch_id) holds SUPERSEDED
            // versions whose merge would double-count, while answering
            // from an arbitrary row would silently answer from a stale
            // version. Refuse instead of guessing — read ingest stores
            // through IndexIngest.currentShards (Cli query-index does this
            // automatically) or compact first.
            require(shard == null,
              s"queryIndex: multiple sketch rows for bucket $b -- this looks like a " +
                "multi-version ingest store; query IndexIngest.currentShards(...) or compact it first")
            shard = graft.core.BackpackFilter.deserialize(sketch)
            Iterator.empty
          } else {
            val f = shard
            if (f == null) fps.iterator.map(fp => (fp, 0L))
            else fps.iterator.map(fp => (fp, f.abundance(fp)))
          }
        }
      }
      .toDF("fp", "abundance")
  }

  /** Fold the `sketch` column of any shard rows into one serialized
    * sketch (null for no rows): collect the shard blobs and run one
    * [[graft.core.BackpackFilter.mergeAll]] on the driver, which sorts the
    * shard entries once. The job ends at the stage that produces `shards`
    * — no aggregation buffers, no extra exchange, no one-task final stage
    * — and the result is the same bytes however the rows were sharded or
    * partitioned. The driver holds the blobs plus ~48 B per distinct entry
    * while the merge runs. Null sketches contribute nothing.
    */
  def mergeShards(shards: DataFrame): Array[Byte] = {
    import shards.sparkSession.implicits._
    val blobs = shards.select("sketch").as[Array[Byte]].collect()
    val filters = blobs.indices.flatMap { i =>
      val b = blobs(i)
      blobs(i) = null // each blob is garbage once deserialized
      Option(b).map(graft.core.BackpackFilter.deserialize)
    }
    if (filters.isEmpty) null else graft.core.BackpackFilter.mergeAll(filters).serialize()
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

/** Resumable checkpointed build: shard sketches persist to a Parquet
  * checkpoint table carrying Iceberg-shaped lineage columns (partition id,
  * rows consumed, fingerprints consumed, merge depth, params tag, wall
  * time). No Iceberg runtime ships in this offline sandbox, so the store is
  * plain Parquet behind this interface; the commit unit is one batch job
  * (Spark's committer makes each append atomic), and buckets are
  * deterministic functions of row ids, so re-running a lost batch is
  * idempotent.
  */
object CheckpointedBuild {
  final val LineageColumns = Seq("bucket", "sketch", "rows_consumed",
    "fingerprints_consumed", "merge_depth", "params_tag", "committed_at_ms")

  private def paramsTag(p: BqfParams): String =
    s"q${p.qBits}c${p.countBits}h${p.hashBits}m${p.mode.tag}k${p.kTokens}z${p.zTokens}s${p.seed}"

  def committedBuckets(spark: SparkSession, dir: String): Set[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else spark.read.parquet(dir).select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  /** Build shard sketches for every bucket not yet committed, in batches of
    * `batchBuckets` (each batch = one atomic Parquet append). A killed run
    * resumes by skipping committed buckets.
    */
  def run(df: DataFrame, fpCol: Column, idCol: Column, params: BqfParams,
          nBuckets: Int, dir: String, batchBuckets: Int = 8,
          maxBatches: Int = Int.MaxValue): Unit = {
    val spark = df.sparkSession
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    val done = committedBuckets(spark, dir)
    val missing = (0L until nBuckets.toLong).filterNot(done)
    val tag = paramsTag(params)
    val withBucket = df
      .withColumn("__fps", fpCol)
      .withColumn("bucket", pmod(xxhash64(idCol), lit(nBuckets)))
    missing.grouped(batchBuckets).take(maxBatches).foreach { batch =>
      withBucket
        .filter(col("bucket").isin(batch: _*))
        .groupBy(col("bucket"))
        .agg(
          bqf(col("__fps")).as("sketch"),
          count(lit(1)).as("rows_consumed"),
          sum(size(col("__fps"))).as("fingerprints_consumed"))
        .withColumn("merge_depth", lit(0))
        .withColumn("params_tag", lit(tag))
        .withColumn("committed_at_ms", lit(System.currentTimeMillis()))
        .select(LineageColumns.map(col): _*)
        .write.mode("append").parquet(dir)
    }
  }

  /** Merge all committed shards into the final sketch. */
  def result(spark: SparkSession, dir: String): Array[Byte] =
    BqfPipeline.mergeShards(spark.read.parquet(dir))
}
