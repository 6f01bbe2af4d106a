package graft.streaming

import graft.core.{BackpackFilter, CountMode}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analogues of the reference's online counting filter.
  *
  * The reference's `filter` verb streams sequences through one in-memory
  * BQF with c=1 and emits each k-mer exactly on its second occurrence
  * (/root/reference/src/bqf_cf.cpp:119-205). Distributed + unbounded, the
  * same semantics become keyed state in Structured Streaming: fingerprints
  * are sharded, each shard's state IS a BackpackFilter(countBits=1), and
  * `addReturningSecond` drives the emission — the sketch bounds state size
  * at ~(slotBits/8 + meta) bytes per distinct fingerprint regardless of
  * stream length, with the documented 2^-r aliasing bound.
  */
object StreamingOps {

  implicit private val filterEnc: Encoder[BackpackFilter] = Encoders.kryo[BackpackFilter]
  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong
  implicit private val pairEnc: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Emit each fingerprint exactly when it is seen for the second time.
    *
    * @param fps     stream of (already-extracted) k-gram fingerprints
    * @param nShards fingerprints are partitioned into this many BQF states
    * @param qBits   initial quotient bits of each shard filter
    */
  def secondOccurrences(fps: Dataset[Long], nShards: Int, qBits: Int = 10,
                        hashBits: Int = 48): Dataset[Long] = {
    fps.groupByKey(fp => Math.floorMod(fp, nShards.toLong))
      .flatMapGroupsWithState[BackpackFilter, Long](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, batch: Iterator[Long], state: GroupState[BackpackFilter]) =>
          val filter = state.getOption.getOrElse(
            BackpackFilter(qBits, countBits = 1, hashBits = hashBits, mode = CountMode.Exact))
          val out = batch.filter(fp => filter.addReturningSecond(fp)).toVector
          state.update(filter)
          out.iterator
      }
  }

  /** Batch equivalent (same answer, order-insensitive): HAVING count > 1 —
    * the reference's own end-to-end test compares the filter output as a set
    * against KMC counts > 1 (/root/reference/unitary_tests/cqf_test.cpp:519-541).
    */
  def secondOccurrencesBatch(fps: Dataset[Long]): Dataset[Long] =
    fps.groupBy(col("value")).count().filter(col("count") >= 2)
      .select(col("value")).as[Long](longEnc)

  /** Streaming sessionization — the unbounded twin of the q15 batch
    * operator, expressed with Spark's NATIVE session windows: events gap
    * apart by more than `gap` start a new session per user; the watermark
    * lets state for closed sessions be evicted, so state size tracks OPEN
    * sessions only.
    *
    * Output-mode contract: in APPEND mode (the unbounded-production mode)
    * each session emits exactly once, when the watermark passes its end —
    * that is the "one row per closed session" semantics, and the eviction
    * that bounds state rides on the same watermark (StreamingSpec asserts
    * numRowsRemoved > 0 under a checkpoint). In COMPLETE mode Spark
    * re-emits the full result every batch and keeps all state, so the
    * eviction guarantee does not apply.
    * Emits (user_id, session start, session end, n_events).
    */
  def sessionize(events: org.apache.spark.sql.DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): org.apache.spark.sql.DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Continuous ingest of a fingerprint stream into a PERSISTED sharded BQF
    * index — the unbounded twin of [[graft.plans.BqfPipeline.buildIndexSorted]]:
    * each micro-batch chunks its fingerprints map-side by bucket
    * (fingerprint high bits, the same routing the batch index and its point
    * queries use), one exchange brings every touched bucket's chunks
    * together with its live shard, and each reduce task builds the bucket's
    * batch partial, merges it into the live shard and appends the new shard
    * version tagged with the batch id.
    *
    * Exactly-once: the streaming checkpoint replays an uncommitted batch
    * with the SAME batchId, and [[IndexIngest.ingestBatch]] skips a batchId
    * already present in the store — so a crash between store-append and
    * checkpoint-commit cannot double-count. Readers take the latest version
    * per bucket ([[IndexIngest.currentShards]]), which is always a complete
    * prefix of the stream.
    *
    * At 100 TB this is the continuous-corpus story: ingest never rewrites
    * more than the touched buckets, the store is append-only parquet (object
    * -store friendly), and query/enumerate route by the same bucket bits.
    */
  def indexIngest(fps: Dataset[Long], params: graft.operators.BqfParams,
                  nBuckets: Int, storeDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    fps.toDF("fp").writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        IndexIngest.ingestBatch(batch, batchId, params, nBuckets, storeDir)
      }
      .start()

  /** Per-key abundance state maintained incrementally: updates a running
    * (fingerprint -> count) with saturation, emitting (fp, newCount) deltas.
    */
  def runningAbundance(fps: Dataset[Long], maxCount: Long = 255L): Dataset[(Long, Long)] = {
    fps.groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: Long, batch: Iterator[Long], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val next = math.min(prev + batch.size, maxCount)
          state.update(next)
          Iterator.single((fp, next))
      }
  }
}

/** Store mechanics of [[StreamingOps.indexIngest]] — an append-only parquet
  * shard store with per-batch versioning. Layout: rows
  * (bucket, sketch, batch_id); the live index is the max-batch_id row per
  * bucket. Also usable standalone for incremental BATCH ingest (call
  * [[IndexIngest.ingestBatch]] with your own monotonic batch ids).
  */
object IndexIngest {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** A store "exists" only once it holds committed parquet data. Path
    * existence alone is not enough: a crash during the FIRST batch's write
    * can leave the directory present with no data files, and a raw
    * spark.read.parquet on it throws 'Unable to infer schema' on every
    * checkpoint replay — the ingest query could never self-recover.
    *
    * Before answering, heal a compact() that crashed mid-swap: the original
    * store sits complete at `<dir>.compact-old` with the store path absent
    * (or an empty shell). If only compact() ran this recovery, an
    * ingestBatch or currentShards arriving FIRST would see "no store",
    * silently start fresh, and — once one new batch appended — make the
    * pre-compact data unrecoverable (the aside-restore condition
    * `!storeExists && aside exists` could never fire again). Running it at
    * every store access closes that window.
    */
  private def storeExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a plain listStatus walk: fs.listFiles builds a LocatedFileStatus per
    // file, which reads its permissions — without native libhadoop, a
    // forked `ls -ld` per file on every store access
    def hasData(d: org.apache.hadoop.fs.Path): Boolean = fs.listStatus(d).exists { s =>
      val f = s.getPath.getName
      if (s.isDirectory) hasData(s.getPath)
      else f.endsWith(".parquet") && !f.startsWith("_") && !f.startsWith(".")
    }
    val aside = new org.apache.hadoop.fs.Path(dir + ".compact-old")
    if (fs.exists(p) && hasData(p)) true
    else if (fs.exists(aside)) {
      fs.delete(p, true) // at most an empty shell from the failed swap
      fs.rename(aside, p)
      fs.exists(p) && hasData(p)
    } else false
  }

  /** Every store read uses this fixed schema: no read pays a schema
    * inference job, and a file without `batch_id` (a
    * [[graft.plans.BqfPipeline.buildIndexSorted]] output, say) reads back
    * as null ids, which [[liveVersions]] refuses.
    */
  private val StoreSchema = new org.apache.spark.sql.types.StructType()
    .add("bucket", "bigint").add("sketch", "binary").add("batch_id", "bigint")

  private def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(StoreSchema).parquet(dir)

  /** The live view's metadata, in one single-stage job over the two small
    * columns (parquet column pruning keeps the sketch blobs out of it):
    * each bucket's live batch id (its max), and whether batch `replayOf` is
    * already committed. Each input task folds its rows to per-bucket max
    * ids and the driver folds the tasks' maps, so no exchange runs and the
    * collect is bounded by tasks x nBuckets pairs.
    */
  private def liveVersions(store: DataFrame, dir: String,
                           replayOf: Option[Long]): (Map[Long, Long], Boolean) = {
    import store.sparkSession.implicits._
    val parts = store.select(col("bucket"), col("batch_id")).as[(Long, Option[Long])]
      .mapPartitions { rows =>
        val live = scala.collection.mutable.LongMap.empty[Long]
        var unversioned, seen = false
        rows.foreach {
          case (bucket, Some(id)) =>
            if (live.get(bucket).forall(_ < id)) live(bucket) = id
            seen ||= replayOf.contains(id)
          case (_, None) => unversioned = true
        }
        Iterator.single((live.toArray, unversioned, seen))
      }
      .collect()
    require(!parts.exists(_._2),
      s"$dir holds shard rows without a batch_id, so it is not an ingest store; " +
        "read a batch-built index directly, without currentShards or compact")
    (parts.toSeq.flatMap(_._1).groupMapReduce(_._1)(_._2)(math.max), parts.exists(_._3))
  }

  /** Exactly the live (bucket, sketch, batch_id) row of each bucket in
    * `live`, with no exchange. Every ingest batch appends its own parquet
    * file(s) with a CONSTANT batch_id, so footer min==max stats let the
    * literal `batch_id isin` filter skip every superseded file: the blob
    * scan is O(live shards), not O(versions ever written). That filter
    * alone can keep old versions (buckets peak at different ids, and an
    * old version can share a surviving file's id); the exact (bucket,
    * batch_id) membership test over the captured map drops them row by row.
    */
  private def liveRows(store: DataFrame, live: Map[Long, Long]): DataFrame = {
    val isLive = udf((bucket: Long, id: Long) => live.get(bucket).contains(id))
    store.filter(col("batch_id").isin(live.values.toSeq.distinct.map(Long.box): _*))
      .filter(isLive(col("bucket"), col("batch_id")))
  }

  /** Latest shard version per bucket — the live (bucket, sketch) index,
    * one row per bucket, directly consumable by
    * [[graft.plans.BqfPipeline.queryIndex]] and
    * [[graft.plans.BqfPipeline.enumerateIndex]]. Runs the store metadata
    * job; the shard scan itself is lazy. Throws IllegalArgumentException
    * for a directory whose rows carry no batch_id.
    */
  def currentShards(spark: SparkSession, storeDir: String): DataFrame = {
    if (!storeExists(spark, storeDir))
      return spark.emptyDataFrame
        .withColumn("bucket", lit(0L)).withColumn("sketch", lit(Array.empty[Byte]))
        .limit(0)
    val store = readStore(spark, storeDir)
    liveRows(store, liveVersions(store, storeDir, None)._1)
      .select(col("bucket"), col("sketch"))
  }

  /** Rewrite the store to only the LATEST version of each bucket (batch_id
    * preserved, so the replay guard still sees every committed id it needs:
    * the max id; older ids were superseded and can never replay once the
    * streaming checkpoint has advanced past them). Append-only stores grow
    * one shard version per touched bucket per batch — run this periodically
    * or when the store's size bothers you. Maintenance op: readers racing a
    * compaction may transiently fail and should retry; the streaming query
    * itself must be stopped (same rule as any parquet rewrite). Throws
    * IllegalArgumentException for a directory whose rows carry no batch_id.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val store = new org.apache.hadoop.fs.Path(storeDir)
    val tmp = new org.apache.hadoop.fs.Path(storeDir + ".compact-tmp")
    val aside = new org.apache.hadoop.fs.Path(storeDir + ".compact-old")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a prior compact that died mid-swap left the original
    // store renamed aside (complete — the aside rename happens only after
    // the tmp write commits, and a crash can strike between the two
    // renames). storeExists itself restores the aside — here and at every
    // other store access (ingestBatch/currentShards), so no
    // caller can start a fresh store on top of a recoverable one; the tmp
    // from the crashed run is discarded below like any other stale tmp.
    if (!storeExists(spark, storeDir)) return
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // distributed end to end: "one row per bucket" bounds the ROW count,
    // not the bytes — live shards total GBs at scale (the committed 620 M-
    // k-gram build's shards are ~5 GB), so funnelling them through a
    // driver collect() is the one thing this maintenance op must not do.
    // The tmp write fully materializes before the swap (parquet jobs
    // commit before returning), so there is no read-after-delete lineage
    // hazard below.
    val rows = readStore(spark, storeDir)
    val live = liveVersions(rows, storeDir, None)._1
    // bucket-clustered output: the sorted build's range rule over the
    // store's bucket span sends contiguous bucket ranges to
    // min(span, cores) tasks, each writing one file sorted by bucket, so
    // each file's parquet footer min/max covers a disjoint bucket interval
    // and ingestBatch's touched-bucket isin skips whole files
    val span = Integer.highestOneBit(2 * live.keys.maxOption.fold(0)(_.toInt) + 1) // pow2 > max bucket
    val p = math.min(span, spark.sparkContext.defaultParallelism)
    liveRows(rows, live)
      .repartitionById(p, graft.plans.BqfPipeline.rangeRoute(col("bucket"), span, p))
      .sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(tmp.toString)
    // carry the routing sidecar (underscore files are invisible to the
    // parquet read above) across the swap
    graft.plans.IndexSidecar.read(spark, storeDir)
      .foreach(graft.plans.IndexSidecar.write(spark, tmp.toString, _))
    // swap via rename-aside, never delete-then-rename: the original store
    // stays intact on disk until the compacted tmp is in place, so no
    // crash point loses data (worst case: store absent for the instant
    // between the renames, with BOTH complete copies on disk — and the
    // recovery block above heals it on the next compact call).
    if (fs.exists(aside)) fs.delete(aside, true)
    fs.rename(store, aside)
    fs.rename(tmp, store)
    fs.delete(aside, true)
  }

  /** Merge one batch of fingerprints (column `fp`) into the store. Safe to
    * replay: a batchId already in the store is a no-op.
    *
    * After the store metadata job, two jobs around one exchange. The map
    * side chunks the batch by bucket with
    * [[graft.plans.BqfPipeline.chunkByBucket]] (no exchange) and caches
    * the chunks, whose buckets are collected as the touched set. The chunks
    * and the touched buckets' live shard versions then meet in one shuffle
    * by bucket, and each reduce task builds every bucket's batch partial
    * and merges it with that bucket's latest version ([[mergeTouched]]).
    */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  params: graft.operators.BqfParams, nBuckets: Int,
                  storeDir: String): Unit = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0, "nBuckets must be a power of 2")
    val spark = batch.sparkSession
    import spark.implicits._
    val store = if (storeExists(spark, storeDir)) readStore(spark, storeDir) else null
    // An existing sidecar is a routing CONTRACT, not just documentation: a
    // second ingest with a different nBuckets (or k/z/hash/seed) would
    // silently append rows routed by a different shift — currentShards then
    // mixes shard versions built under two routings and every query answers
    // wrong/zero counts with no error. Refuse up front, mirroring the
    // query-index sidecar conflict check. (Read after storeExists, which
    // restores a store a crashed compact left aside, sidecar included.)
    val sidecar = graft.plans.IndexSidecar(nBuckets, params)
    val stored = graft.plans.IndexSidecar.read(spark, storeDir)
    stored.foreach { s =>
      val conflicts = s.conflicts(sidecar)
      require(conflicts.isEmpty,
        s"ingestBatch routing conflicts with $storeDir's sidecar (${conflicts.mkString(", ")}); " +
          "a mismatched ingest would corrupt the store silently")
    }
    // ONE store read and ONE driver-side metadata job serve both the replay
    // guard and the live view of the touched buckets
    val (live, seen) =
      if (store == null) (Map.empty[Long, Long], false)
      else liveVersions(store, storeDir, Some(batchId))
    if (seen) return // replay: batchId already committed
    // map side, cached so the touched-bucket collect and the merge job read
    // the batch once
    val chunks = graft.plans.BqfPipeline.fpChunks(batch, params.hashBits, nBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // TOUCHED-BUCKET pruning: only the touched buckets' live shards take
      // part in the merge, so the live-side scan is restricted to them up
      // front. Without it each micro-batch reads the sketch blobs of the
      // WHOLE live store (O(store) I/O per batch); with it only the touched
      // buckets' blobs are scanned. Every ingest file holds one batch_id
      // and the compact output is bucket-clustered, so the literal isin
      // filters on both columns skip files by their footer min/max stats:
      // per-batch cost is O(batch + touched shards), independent of store
      // width. The collect is bounded by tasks x nBuckets rows.
      val touched = chunks.select("bucket").as[Long].collect().distinct
      require(!touched.contains(-1L),
        s"ingestBatch: fingerprints above hashBits=${params.hashBits} have no bucket of $storeDir")
      val touchedSet = touched.toSet
      val batchRows = chunks.select(col("bucket"), col("fps"), lit(null).cast("binary").as("sketch"))
      val rows =
        if (store == null) batchRows
        else batchRows.union(
          liveRows(store.filter(col("bucket").isin(touched.toSeq.map(Long.box): _*)),
            live.filter { case (bucket, _) => touchedSet(bucket) })
            .select(col("bucket"), lit(null).cast("array<bigint>").as("fps"), col("sketch")))
      // write unconditionally: an empty batch writes only parquet metadata,
      // and the replay guard above makes replays no-ops either way
      rows.repartition(col("bucket"))
        .as[(Long, Array[Long], Array[Byte])]
        .mapPartitions(mergeTouched(_, params))
        .toDF("bucket", "sketch")
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(storeDir)
    } finally chunks.unpersist(blocking = false)
    // same routing sidecar the CLI's build-index writes: it makes the
    // ingest store directly queryable by `graft.Cli query-index` (which
    // otherwise refuses to guess nBuckets) and guards against a future
    // ingest with mismatched routing.
    if (stored.isEmpty) graft.plans.IndexSidecar.write(spark, storeDir, sidecar)
  }

  /** One reduce task of [[ingestBatch]]. Its rows are batch chunks
    * (bucket, fps, null) and the live shard versions (bucket, null, sketch)
    * of the same buckets, at most one per bucket ([[liveRows]] is exact; a
    * second one means a corrupt store and fails the task). Every bucket
    * with batch fingerprints gets its new shard version; the few buffered
    * chunk rows are sorted by bucket for the streaming gather.
    */
  private def mergeTouched(rows: Iterator[(Long, Array[Long], Array[Byte])],
                           params: graft.operators.BqfParams): Iterator[(Long, Array[Byte])] = {
    val latest = scala.collection.mutable.LongMap.empty[Array[Byte]]
    val chunks = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Array[Long])]
    rows.foreach { case (bucket, fps, sketch) =>
      if (fps != null) chunks += ((bucket, fps, null))
      else if (latest.contains(bucket))
        throw new IllegalStateException(s"ingestBatch: bucket $bucket has more than one live shard row")
      else latest(bucket) = sketch
    }
    graft.plans.BqfPipeline.gatherChunks(chunks.sortInPlaceBy(_._1).iterator).map { case (bucket, fps, _) =>
      val partial = batchPartial(fps, params)
      val sketch = latest.get(bucket) match {
        case None => partial
        case Some(old) =>
          // big absorbs small: steady-state batches are deltas against a
          // much larger shard, and mergeInPlace folds the small side in
          // incrementally — O(batch) per bucket, not O(store)
          val live = BackpackFilter.deserialize(old)
          if (live.distinctCount >= partial.distinctCount) live.mergeInPlace(partial)
          else partial.mergeInPlace(live)
      }
      (bucket, sketch.serialize())
    }
  }

  /** One bucket's batch partial: each distinct fingerprint stores the
    * encoded count of its occurrences in this batch (order-of-magnitude
    * stores floor(log2) of the batch count, so batches combine by max of
    * their own counts). Sorts `fps` in place.
    */
  private def batchPartial(fps: Array[Long], params: graft.operators.BqfParams): BackpackFilter = {
    java.util.Arrays.sort(fps)
    val codec = params.fresh()
    val stored = new Array[Long](fps.length)
    var n = 0
    var i = 0
    while (i < fps.length) {
      var j = i + 1
      while (j < fps.length && fps(j) == fps(i)) j += 1
      fps(n) = fps(i)
      stored(n) = codec.encodeCount(j - i)
      n += 1
      i = j
    }
    BackpackFilter.fromEntries(7, params.countBits, params.hashBits, params.mode,
      params.kTokens, params.zTokens, params.seed, fps, stored, n)
  }
}
