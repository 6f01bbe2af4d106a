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
    * version tagged with the batch id. The batch's files count once its
    * entry in the store's commit log (`_graft_log/<batchId>.json`) commits.
    *
    * Exactly-once: the streaming checkpoint replays an uncommitted batch
    * with the SAME batchId, and [[IndexIngest.ingestBatch]] skips a batchId
    * the log already holds, with no Spark job — so a crash between the log
    * commit and the checkpoint commit cannot double-count, and a crash
    * before the log commit leaves files no reader opens. Readers take the
    * latest version per bucket from the log ([[IndexIngest.currentShards]]),
    * which is always a complete prefix of the stream.
    *
    * At 100 TB this is the continuous-corpus story: ingest never rewrites
    * more than the touched buckets, the store is append-only parquet plus
    * small log entries committed by a no-overwrite rename (object-store
    * friendly), and query/enumerate route by the same bucket bits.
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

/** Store mechanics of [[StreamingOps.indexIngest]]: a flat parquet directory
  * of shard rows (bucket, sketch, batch_id) and its commit log
  * ([[graft.plans.CommitLog]], `_graft_log/`). Each batch adds files that
  * hold its touched buckets' new shard versions and commits one log entry
  * naming them. Readers fold the log on the driver into bucket -> (live
  * batch_id, file) and scan exactly those files, so no access lists the
  * store or runs a metadata job, and a file no entry names (a crashed
  * attempt's leftover) is never read. The max-batch_id row per bucket of
  * the directory is the live one. Also usable standalone for incremental
  * BATCH ingest (call [[IndexIngest.ingestBatch]] with your own increasing
  * batch ids).
  */
object IndexIngest {
  import graft.plans.{CommitLog, IndexSidecar, LogEntry, LogState, LoggedFile, LoggedShard}
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}

  /** Each write attempt's files are staged here, then moved into the store. */
  private val StagingDir = "_graft_staging"

  /** Every store read uses this fixed schema: no read pays a schema
    * inference job.
    */
  private val StoreSchema = new org.apache.spark.sql.types.StructType()
    .add("bucket", "bigint").add("sketch", "binary").add("batch_id", "bigint")

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  private def fileSystem(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's folded log; None for a store not written yet. A directory
    * that holds data files but no log (a batch-built index, say) is refused.
    */
  private def log(spark: SparkSession, dir: String): Option[LogState] =
    CommitLog.read(spark, dir).orElse {
      val fs = fileSystem(spark, dir)
      val p = new Path(dir)
      require(!fs.exists(p) || fs.listStatus(p).forall(s => hidden(s.getPath.getName)),
        s"$dir holds shard rows but no ${CommitLog.DirName}, so no batch_id of it is committed and it is " +
          "not an ingest store; read a batch-built index directly, without currentShards or compact")
      None
    }

  /** Exactly the live (bucket, sketch, batch_id) row of each bucket in
    * `live`, with no exchange, read from the files that hold them and no
    * other. A live file can also hold superseded versions (batch 0 wrote
    * buckets A and B, batch 1 rewrote A), so the exact (bucket, batch_id)
    * membership test over the captured map drops those row by row.
    */
  private def liveRows(spark: SparkSession, dir: String,
                       live: Map[Long, (LoggedShard, LoggedFile)]): DataFrame = {
    val ids = live.map { case (bucket, (shard, _)) => bucket -> shard.batchId }
    val isLive = udf((bucket: Long, id: Long) => ids.get(bucket).contains(id))
    val files = live.values.map(f => new Path(dir, f._2.name).toString).toSeq.distinct
    if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), StoreSchema)
    else spark.read.schema(StoreSchema).parquet(files: _*).filter(isLive(col("bucket"), col("batch_id")))
  }

  /** Latest shard version per bucket — the live (bucket, sketch) index,
    * one row per bucket, directly consumable by
    * [[graft.plans.BqfPipeline.queryIndex]] and
    * [[graft.plans.BqfPipeline.enumerateIndex]]. Reads the commit log on
    * the driver; the shard scan itself is lazy. Throws
    * IllegalArgumentException for a directory with data but no commit log.
    */
  def currentShards(spark: SparkSession, storeDir: String): DataFrame =
    liveRows(spark, storeDir, log(spark, storeDir).fold(Map.empty[Long, (LoggedShard, LoggedFile)])(_.live))
      .select(col("bucket"), col("sketch"))

  /** Write `routed` (rows bucket, sketch, batch_id, split into `p` tasks by
    * `rangeRoute(bucket, span, p)`) to a fresh staging directory, move its
    * part files into the store and return them with the `shards` each
    * holds. repartitionById keeps exactly `p` partitions (AQE does not
    * coalesce them), and each task's part file carries its partition
    * number, so the routing names each file's buckets without reading it.
    */
  private def writeShards(spark: SparkSession, storeDir: String, routed: DataFrame, span: Int, p: Int,
                          shards: Iterable[LoggedShard]): Seq[LoggedFile] = {
    val staging = new Path(new Path(storeDir, StagingDir), java.util.UUID.randomUUID.toString)
    routed.write.option("maxRecordsPerFile", 0L).parquet(staging.toString)
    val fs = fileSystem(spark, storeDir)
    val byPart = shards.groupBy(s => graft.plans.BqfPipeline.rangeTask(s.bucket, span, p))
    val files = fs.listStatus(staging).toSeq.filter(_.getPath.getName.startsWith("part-")).map { st =>
      val name = st.getPath.getName
      if (!fs.rename(st.getPath, new Path(storeDir, name)))
        throw new java.io.IOException(s"could not move staged $name into $storeDir")
      LoggedFile(name, st.getLen, byPart.getOrElse(name.drop(5).takeWhile(_.isDigit).toInt, Nil).toSeq.sortBy(_.bucket))
    }
    fs.delete(staging, true)
    if (files.map(_.shards.size).sum != shards.size)
      throw new IllegalStateException(s"$storeDir: ${files.size} written files do not hold the ${shards.size} " +
        s"routed shards once each: ${files.map(_.name).mkString(", ")}")
    files
  }

  /** Delete what the newest checkpoint superseded: the data files only
    * earlier entries name, then those entries.
    */
  private def sweep(spark: SparkSession, storeDir: String, state: LogState): Unit = {
    val fs = fileSystem(spark, storeDir)
    state.superseded.flatMap(_.files.map(_.name)).distinct.filterNot(state.files)
      .foreach(n => fs.delete(new Path(storeDir, n), false))
    CommitLog.delete(spark, storeDir, state.superseded)
  }

  /** Rewrite the live shard versions into bucket-clustered files and commit
    * them as one checkpoint entry that supersedes every earlier entry; then
    * delete those entries, the files they named and every data file no
    * entry names (crashed attempts' leftovers) before returning. batch_id
    * is preserved, so the directory's max-batch_id row per bucket stays the
    * live one and the replay guard still knows every committed id. A crash
    * at any point leaves the pre- or the post-compaction view: the new
    * files count only once the checkpoint commits, and the old ones go only
    * after it. Maintenance op: the streaming query must be stopped while it
    * runs. Throws IllegalArgumentException for a directory with data but no
    * commit log.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val state = log(spark, storeDir).getOrElse(return)
    val after =
      if (state.pending.isEmpty) state // nothing above the newest checkpoint: only clean up
      else {
        val live = state.live
        // distributed end to end: "one row per bucket" bounds the ROW
        // count, not the bytes — live shards total GBs at scale, so
        // funnelling them through a driver collect() is the one thing this
        // maintenance op must not do. Bucket-clustered output: the sorted
        // build's range rule over the store's bucket span sends contiguous
        // bucket ranges to min(span, cores) tasks, each writing one file
        // sorted by bucket.
        val span = Integer.highestOneBit(2 * live.keys.maxOption.fold(0)(_.toInt) + 1) // pow2 > max bucket
        val p = math.min(span, spark.sparkContext.defaultParallelism)
        val files =
          if (live.isEmpty) Nil
          else writeShards(spark, storeDir, liveRows(spark, storeDir, live)
            .repartitionById(p, graft.plans.BqfPipeline.rangeRoute(col("bucket"), span, p))
            .sortWithinPartitions("bucket"), span, p, live.values.map(_._1))
        val checkpoint = LogEntry(state.lastId, checkpoint = true, files)
        CommitLog.commit(spark, storeDir, checkpoint)
        LogState(state.entries :+ checkpoint)
      }
    sweep(spark, storeDir, after)
    val fs = fileSystem(spark, storeDir)
    fs.listStatus(new Path(storeDir)).collect { case f if f.isFile => f.getPath.getName }
      .filterNot(n => hidden(n) || after.files(n)).foreach(n => fs.delete(new Path(storeDir, n), false))
    fs.delete(new Path(storeDir, StagingDir), true)
  }

  /** Merge one batch of fingerprints (column `fp`) into the store. Safe to
    * replay: a batchId the log already holds returns at once, with no job
    * and no write; a lower one that it does not hold is refused, because
    * the live view is each bucket's highest batch_id.
    *
    * Two jobs around one exchange. The map side chunks the batch by bucket
    * with [[graft.plans.BqfPipeline.chunkByBucket]] (no exchange) and
    * caches the chunks, whose buckets and sizes are collected as the
    * touched set. The chunks and the touched buckets' live shard versions
    * then meet in one shuffle by bucket range, and each reduce task builds
    * every bucket's batch partial and merges it with that bucket's latest
    * version ([[mergeTouched]]). The new files are staged, moved into the
    * store and committed as the batch's log entry, with each new shard's
    * lineage: fingerprint rows consumed and merge depth.
    */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  params: graft.operators.BqfParams, nBuckets: Int,
                  storeDir: String): Unit = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0, "nBuckets must be a power of 2")
    val spark = batch.sparkSession
    import spark.implicits._
    // An existing sidecar is a routing CONTRACT, not just documentation: a
    // second ingest with a different nBuckets (or k/z/hash/seed) would
    // silently append rows routed by a different shift — currentShards then
    // mixes shard versions built under two routings and every query answers
    // wrong/zero counts with no error. Refuse up front, mirroring the
    // query-index sidecar conflict check.
    val sidecar = IndexSidecar(nBuckets, params)
    val stored = IndexSidecar.read(spark, storeDir)
    stored.foreach { s =>
      val conflicts = s.conflicts(sidecar)
      require(conflicts.isEmpty,
        s"ingestBatch routing conflicts with $storeDir's sidecar (${conflicts.mkString(", ")}); " +
          "a mismatched ingest would corrupt the store silently")
    }
    val state = log(spark, storeDir).getOrElse { CommitLog.create(spark, storeDir); LogState(Nil) }
    if (state.committed(batchId)) return // replay: batchId already committed
    require(batchId > state.lastId,
      s"ingestBatch: batch $batchId arrives after batch ${state.lastId} of $storeDir; batch ids must increase")
    if (state.superseded.nonEmpty) sweep(spark, storeDir, state) // a compaction crashed before its clean-up
    // map side, cached so the touched-bucket collect and the merge job read
    // the batch once
    val chunks = graft.plans.BqfPipeline.fpChunks(batch, params.hashBits, nBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // TOUCHED-BUCKET pruning: only the touched buckets' live shards take
      // part in the merge, and the live-side scan opens only the files the
      // log names for them: per-batch cost is O(batch + touched shards),
      // independent of store width. The collect is bounded by tasks x
      // nBuckets rows.
      val touched = chunks.select(col("bucket"), size(col("fps")).cast("long")).as[(Long, Long)].collect()
        .groupMapReduce(_._1)(_._2)(_ + _)
      require(!touched.contains(-1L),
        s"ingestBatch: fingerprints above hashBits=${params.hashBits} have no bucket of $storeDir")
      val live = state.live.filter { case (bucket, _) => touched.contains(bucket) }
      val shards = touched.map { case (bucket, n) =>
        val prev = live.get(bucket).map(_._1)
        LoggedShard(bucket, batchId, prev.fold(0L)(_.rowsConsumed) + n, prev.fold(0)(_.mergeDepth) + 1)
      }
      val batchRows = chunks.select(col("bucket"), col("fps"), lit(null).cast("binary").as("sketch"))
      val rows =
        if (live.isEmpty) batchRows
        else batchRows.union(liveRows(spark, storeDir, live)
          .select(col("bucket"), lit(null).cast("array<bigint>").as("fps"), col("sketch")))
      // one merge task per ~64 MiB of input (AQE's default advisory
      // partition size), at most one per touched bucket or core
      val inputBytes = 8 * touched.values.sum + live.values.map { case (_, f) => f.bytes / f.shards.size }.sum
      val p = Seq(touched.size, spark.sparkContext.defaultParallelism, (inputBytes >> 26).toInt + 1).min
      val files =
        if (touched.isEmpty) Nil
        else writeShards(spark, storeDir, rows
          .repartitionById(p, graft.plans.BqfPipeline.rangeRoute(col("bucket"), nBuckets, p))
          .as[(Long, Array[Long], Array[Byte])]
          .mapPartitions(mergeTouched(_, params))
          .toDF("bucket", "sketch")
          .withColumn("batch_id", lit(batchId)), nBuckets, p, shards)
      CommitLog.commit(spark, storeDir, LogEntry(batchId, checkpoint = false, files))
    } finally chunks.unpersist(blocking = false)
    // same routing sidecar the CLI's build-index writes: it makes the
    // ingest store directly queryable by `graft.Cli query-index` (which
    // otherwise refuses to guess nBuckets) and guards against a future
    // ingest with mismatched routing.
    if (stored.isEmpty) IndexSidecar.write(spark, storeDir, sidecar)
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
