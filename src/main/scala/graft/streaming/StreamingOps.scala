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
    * queries use) and sends contiguous bucket ranges to merge tasks; each
    * task reads its touched buckets' live shard versions from the files the
    * store's commit log names, merges the batch into them and writes the new
    * versions, tagged with the batch id, to one file of its own. The batch's
    * files count once its entry in the commit log
    * (`_graft_log/<batchId>.json`) commits.
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
}


/** The sharded index store, written by [[IndexIngest.build]] (checkpoint 0,
  * the `build-index` verb) and [[StreamingOps.indexIngest]]: a flat parquet
  * directory of shard rows (bucket, sketch, batch_id) and its commit log
  * ([[graft.plans.CommitLog]], `_graft_log/`), the store's only metadata,
  * whose every entry records the store's routing. Each batch adds files
  * that hold its touched buckets' new shard versions and commits one log
  * entry naming them. Readers fold the log on the driver into bucket -> (live
  * batch_id, file) and read exactly those files, so no access lists the
  * store or runs a metadata job, and a file no entry names (a crashed or
  * refused attempt's leftover) is never read. The max-batch_id row per
  * bucket of the directory is the live one. Writes run one job each: their
  * tasks read the live versions they need and write their own files
  * ([[ShardFiles]]), and the driver commits what the tasks report. Also
  * usable standalone for incremental BATCH ingest (call
  * [[IndexIngest.ingestBatch]] with your own increasing batch ids).
  */
object IndexIngest {
  import graft.operators.BqfParams
  import graft.plans.{BqfPipeline, CommitLog, LogEntry, LogState, LoggedFile, LoggedShard, Routing}
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  private def fileSystem(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's folded log; None for a store not written yet. A directory
    * that holds data files but no log is refused: it is no index store, or
    * one written before the log recorded the routing, which is not read.
    */
  private def log(spark: SparkSession, dir: String): Option[LogState] =
    CommitLog.read(spark, dir).orElse {
      val fs = fileSystem(spark, dir)
      val p = new Path(dir)
      require(!fs.exists(p) || fs.listStatus(p).forall(s => hidden(s.getPath.getName)),
        s"$dir holds data files but no ${CommitLog.DirName}, so no batch_id of it is committed and it is " +
          "not an index store; a build-index store written before the log recorded its routing is not " +
          "read: rebuild it with build-index")
      None
    }

  /** The live view as one stage of ranged reads, shared by [[currentShards]]
    * and [[compact]]: the sorted build's range rule over the store's bucket
    * span gives min(span, cores) tasks contiguous bucket ranges, and each
    * task reads its range's live sketches through [[TaskStore.readLive]],
    * from the files the log names and no other, with no exchange (live
    * shards total GBs at scale, so neither a driver collect nor a shuffle
    * moves them). One element per task: (task, its buckets ascending,
    * their sketches).
    */
  private def liveRanges(spark: SparkSession, store: TaskStore)
      : org.apache.spark.rdd.RDD[(Int, Seq[Long], scala.collection.mutable.LongMap[Array[Byte]])] = {
    val span = Integer.highestOneBit(2 * store.live.keys.maxOption.fold(0)(_.toInt) + 1) // pow2 > max bucket
    val p = math.min(span, spark.sparkContext.defaultParallelism)
    val ranges = store.live.keys.toSeq.groupBy(BqfPipeline.rangeTask(_, span, p)).toSeq.sortBy(_._1)
    spark.sparkContext.parallelize(ranges, math.max(ranges.size, 1)).map { case (task, buckets) =>
      val sorted = buckets.sorted
      (task, sorted, store.readLive(sorted))
    }
  }

  /** Latest shard version per bucket — the live (bucket, sketch) index,
    * one row per bucket, directly consumable by
    * [[graft.plans.BqfPipeline.queryIndex]] and
    * [[graft.plans.BqfPipeline.enumerateIndex]]. Reads the commit log on
    * the driver; the read itself is one lazy stage of [[liveRanges]]. A
    * live file that is missing or unreadable, or that lacks a logged row,
    * fails the read with an error naming the file. Throws
    * IllegalArgumentException for a directory with data but no commit log.
    */
  def currentShards(spark: SparkSession, storeDir: String): DataFrame =
    org.apache.spark.sql.graftbridge.FrameBridge.frame(spark,
      liveRanges(spark, TaskStore(spark, storeDir, log(spark, storeDir).getOrElse(LogState(Nil))))
        .flatMap { case (_, buckets, sketches) => buckets.map(b => InternalRow(b, sketches(b))) },
      ShardSchema)

  /** The (bucket, sketch) rows of [[currentShards]]. */
  private val ShardSchema = StructType(Seq(
    StructField("bucket", LongType, nullable = false), StructField("sketch", BinaryType, nullable = true)))

  /** What a write task needs of the store: its directory, the Hadoop conf
    * (broadcast once per job), the session's parquet codec, and the folded
    * log as bucket -> (live batch_id, file name).
    */
  private final case class TaskStore(dir: String,
                                     conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
                                     codec: CompressionCodecName, live: Map[Long, (Long, String)]) {
    /** Write `shards` to a new data file of write task `task` for
      * `batchId`, named apart from every other attempt's by a UUID; its
      * name and length in bytes.
      */
    def write(batchId: Long, task: Int, shards: Iterator[ShardFiles.Shard]): (String, Long) = {
      val name = s"part-$batchId-$task-${java.util.UUID.randomUUID}${codec.getExtension}.parquet"
      (name, ShardFiles.write(new Path(dir, name), shards, conf.value.value, codec))
    }

    /** The live sketch of each of `buckets` that has one, read from the files
      * the log names for them and no other. A named file that is missing or
      * unreadable, or that lacks a logged row or holds it twice, fails the
      * task with an error naming the file.
      */
    def readLive(buckets: Iterable[Long]): scala.collection.mutable.LongMap[Array[Byte]] = {
      val out = scala.collection.mutable.LongMap.empty[Array[Byte]]
      buckets.flatMap(b => live.get(b).map(b -> _)).groupBy(_._2._2).foreach { case (name, wanted) =>
        val ids = wanted.map { case (b, (id, _)) => b -> id }.toMap
        val path = new Path(dir, name)
        val rows =
          try ShardFiles.read(path, conf.value.value)((b, id) => ids.get(b).contains(id))
          catch {
            case e: Exception =>
              throw new java.io.IOException(s"live file $path, named by ${CommitLog.DirName}, cannot be read: $e", e)
          }
        rows.foreach { r =>
          if (out.contains(r.bucket))
            throw new IllegalStateException(s"live file $path holds bucket ${r.bucket}'s live row more than once")
          out(r.bucket) = r.sketch
        }
        val lacking = ids.keys.filterNot(out.contains)
        if (lacking.nonEmpty)
          throw new IllegalStateException(s"live file $path lacks the logged rows of buckets ${lacking.toSeq.sorted.mkString(", ")}")
      }
      out
    }
  }

  private object TaskStore {
    def apply(spark: SparkSession, dir: String, state: LogState): TaskStore = {
      // no vectored reads: their I/O completes on other threads, out of
      // sight of the thread statistics that feed the task's input metrics
      val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
      conf.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat.HADOOP_VECTORED_IO_ENABLED, false)
      TaskStore(dir, spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(conf)),
        CompressionCodecName.valueOf(org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
          .getParquetCompressionCodecName(
            spark.conf.get("spark.sql.parquet.compression.codec").toLowerCase(java.util.Locale.ROOT))),
        state.live.map { case (bucket, (shard, file)) => bucket -> (shard.batchId, file.name) })
    }
  }

  /** What one write task of [[build]] or [[ingestBatch]] reports: the file
    * it wrote (null when it wrote none), the file's bytes, per shard its
    * bucket and the fingerprint rows merged into it, and the fingerprints it
    * received with no bucket (which no shard holds).
    */
  private[streaming] final case class Written(file: String, bytes: Long, buckets: Array[Long], rows: Array[Long],
                                              strays: Long)

  /** Write one task's new shard versions of `batchId`, each with the
    * fingerprint rows merged into it, to one file of the task's; its report.
    */
  private def writeTask(store: TaskStore, batchId: Long, shards: Iterator[(ShardFiles.Shard, Long)],
                        strays: Long): Written = {
    val buckets = Array.newBuilder[Long]
    val rows = Array.newBuilder[Long]
    val (name, bytes) = store.write(batchId, org.apache.spark.TaskContext.getPartitionId(),
      shards.map { case (s, n) => buckets += s.bucket; rows += n; s })
    Written(name, bytes, buckets.result(), rows.result(), strays)
  }

  /** Build a new store from the fingerprint arrays of `fpCol`: the sorted
    * build of [[graft.plans.BqfPipeline.buildIndexSorted]], whose reduce
    * tasks write its shards, the same bytes, each task to one file of its
    * own. The driver commits them as checkpoint 0, with each shard's
    * lineage (the fingerprint rows gathered, merge depth 1) and the
    * routing; [[ingestBatch]] then takes ids above 0. A fingerprint above
    * hashBits fails the build with an IllegalArgumentException and commits
    * nothing; the files its tasks wrote are no entry's, and the next
    * [[compact]] deletes them. A directory that holds a committed entry, or
    * data files but no log, is refused.
    */
  def build(df: DataFrame, fpCol: Column, params: BqfParams, nBuckets: Int, storeDir: String): Unit = {
    val spark = df.sparkSession
    require(log(spark, storeDir).forall(_.entries.isEmpty), s"$storeDir already holds an index store")
    CommitLog.create(spark, storeDir)
    commitWrite(spark, storeDir, LogState(Nil), 0L, checkpoint = true, Routing(nBuckets, params), "build") { store =>
      BqfPipeline.shardBlobs(BqfPipeline.indexChunks(df, fpCol, params, nBuckets), params, nBuckets)
        .mapPartitions { blobs =>
          val shards = blobs.map { case (bucket, sketch, n) => (ShardFiles.Shard(bucket, sketch, 0L), n) }
          if (shards.hasNext) Iterator.single(writeTask(store, 0L, shards, 0L)) else Iterator.empty
        }
    }
  }

  /** The one commit path of [[build]] and [[ingestBatch]]: run the write
    * tasks `tasks` over the store as `state` folds it, under [[writing]];
    * turn an input a task refused (an IllegalArgumentException) into the
    * caller's; refuse fingerprints with no bucket; and commit entry
    * `batchId` with each new shard version's lineage: fingerprint rows
    * consumed and merge depth, on top of the bucket's live version in
    * `state`, if any.
    */
  private def commitWrite(spark: SparkSession, storeDir: String, state: LogState, batchId: Long, checkpoint: Boolean,
                          routing: Routing, verb: String)(
      tasks: TaskStore => org.apache.spark.rdd.RDD[Written]): Unit = {
    val store = TaskStore(spark, storeDir, state)
    val written =
      try writing(spark)(tasks(store).collect())
      catch {
        case e: org.apache.spark.SparkException if e.getCause.isInstanceOf[IllegalArgumentException] =>
          throw new IllegalArgumentException(s"$verb: ${e.getCause.getMessage}", e)
      }
      finally store.conf.destroy()
    val strays = written.map(_.strays).sum
    require(strays == 0,
      s"$verb: $strays fingerprints above hashBits=${routing.hashBits} have no bucket of $storeDir")
    CommitLog.commit(spark, storeDir, LogEntry(batchId, checkpoint, routing, written.toSeq.map { w =>
      LoggedFile(w.file, w.bytes, w.buckets.zip(w.rows).map { case (bucket, n) =>
        val prev = state.live.get(bucket).map(_._1)
        LoggedShard(bucket, batchId, prev.fold(0L)(_.rowsConsumed) + n, prev.fold(0)(_.mergeDepth) + 1)
      }.toSeq)
    }))
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

  /** Run `write`, whose jobs write files into a store, under a job tag of
    * its own. If it fails, the tag's jobs are cancelled, and the failure is
    * rethrown only once the status tracker shows each tagged job ended with
    * no task of it still running: a failed write returns with no task left
    * writing into the store. A tag, not a job group: a streaming query owns
    * the job group of the batches it runs.
    */
  private def writing[T](spark: SparkSession)(write: => T): T = {
    val sc = spark.sparkContext
    val tag = s"graft-store-write-${java.util.UUID.randomUUID}"
    sc.addJobTag(tag)
    try write
    catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        val tracker = sc.statusTracker
        def busy: Boolean = tracker.getJobIdsForTag(tag).exists(id => tracker.getJobInfo(id).exists(job =>
          job.status == org.apache.spark.JobExecutionStatus.RUNNING ||
            job.stageIds.exists(s => tracker.getStageInfo(s).exists(_.numActiveTasks > 0))))
        while (busy) Thread.sleep(10)
        throw e
    } finally sc.removeJobTag(tag)
  }

  /** Rewrite the live shard versions into bucket-sorted files and commit
    * them as one checkpoint entry that supersedes every earlier entry; then
    * delete those entries, the files they named and every data file no
    * entry names (crashed or refused attempts' leftovers) before returning.
    *
    * One stage: each task of [[liveRanges]] writes its range's live
    * versions to one file sorted by bucket. batch_id and lineage are
    * preserved, so the directory's max-batch_id row per bucket stays the
    * live one and the replay guard still knows every committed id. A crash
    * at any point leaves the pre- or the post-compaction view: the new
    * files count only once the checkpoint commits, and the old ones go only
    * after it. A live file that is missing or unreadable fails the
    * compaction, naming it, before anything commits. Maintenance op: the
    * streaming query must be stopped while it runs. Throws
    * IllegalArgumentException for a directory with data but no commit log.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val state = log(spark, storeDir).getOrElse(return)
    val after =
      if (state.pending.isEmpty) state // nothing above the newest checkpoint: only clean up
      else {
        val store = TaskStore(spark, storeDir, state)
        val lastId = state.lastId
        val files =
          try writing(spark)(liveRanges(spark, store).map { case (task, buckets, sketches) =>
            val (name, bytes) =
              store.write(lastId, task, buckets.iterator.map(b => ShardFiles.Shard(b, sketches(b), store.live(b)._1)))
            (name, bytes, buckets)
          }.collect())
          finally store.conf.destroy()
        val checkpoint = LogEntry(lastId, checkpoint = true, state.routing.get,
          files.toSeq.map { case (name, bytes, buckets) => LoggedFile(name, bytes, buckets.map(state.live(_)._1)) })
        CommitLog.commit(spark, storeDir, checkpoint)
        LogState(state.entries :+ checkpoint)
      }
    sweep(spark, storeDir, after)
    val fs = fileSystem(spark, storeDir)
    fs.listStatus(new Path(storeDir)).collect { case f if f.isFile => f.getPath.getName }
      .filterNot(n => hidden(n) || after.files(n)).foreach(n => fs.delete(new Path(storeDir, n), false))
  }

  /** Merge one batch of fingerprints (column `fp`) into the store. A batch
    * under another routing than the log's entries record is refused with an
    * IllegalArgumentException naming the fields. Safe to replay: a batchId
    * the log already holds returns at once, with no job and no write; a
    * lower one that it does not hold is refused, because the live view is
    * each bucket's highest batch_id.
    *
    * One job of two stages and no SQL execution. The map side reads the
    * batch's internal rows and chunks them by bucket
    * ([[graft.plans.BqfPipeline.fingerprintChunks]]), and the sorted
    * build's range shuffle ([[graft.plans.BqfPipeline.rangeShuffle]]) sends
    * contiguous bucket ranges to min(nBuckets, cores) merge tasks, each of
    * which reads its chunk records sorted by bucket. Each merge task reads the live
    * versions of exactly the buckets it received, from the files the
    * folded log names (touched-bucket pruning: per-batch cost is
    * O(batch + touched shards), independent of store width), builds each
    * bucket's batch partial by the sorted build's rule (each occurrence
    * one entry of count 1, duplicates folded by the mode's combine),
    * merges it into the live version (`mergeInPlace`) and writes the new
    * versions to one file of its own, straight into the store. The driver
    * then commits the batch's log entry from the tasks' reports, with each
    * new shard's lineage: fingerprint rows consumed and merge depth. So the
    * live shards are the bytes [[build]] or
    * [[graft.plans.BqfPipeline.buildIndexSorted]] makes of the union of
    * the batches, however the stream was split into batches.
    *
    * A batch with fingerprints above hashBits (no bucket), or with a null
    * fingerprint, is refused with an IllegalArgumentException that says so
    * and commits nothing; the files its tasks wrote are no entry's, so no
    * reader opens them and the next [[compact]] deletes them. So does a
    * live file that is missing or unreadable, failing the job with an error
    * that names it; a failed batch returns once none of its tasks is still
    * writing ([[writing]]).
    */
  def ingestBatch(batch: DataFrame, batchId: Long, params: BqfParams, nBuckets: Int,
                  storeDir: String): Unit = {
    val spark = batch.sparkSession
    val routing = Routing(nBuckets, params)
    val state = log(spark, storeDir).getOrElse { CommitLog.create(spark, storeDir); LogState(Nil) }
    // The log's routing is the store's contract: a batch under another
    // nBuckets (or q/c/hash/k/z/seed) would commit shard versions routed by
    // another shift, and every query would answer wrong counts with no
    // error. Refuse it before the replay guard.
    val conflicts = state.routing.toSeq.flatMap(_.conflicts(routing))
    require(conflicts.isEmpty, s"ingestBatch routing conflicts with $storeDir's log " +
      s"(${conflicts.mkString(", ")}); a mismatched ingest would corrupt the store silently")
    if (state.committed(batchId)) return // replay: batchId already committed
    require(batchId > state.lastId,
      s"ingestBatch: batch $batchId arrives after batch ${state.lastId} of $storeDir; batch ids must increase")
    if (state.superseded.nonEmpty) sweep(spark, storeDir, state) // a compaction crashed before its clean-up
    commitWrite(spark, storeDir, state, batchId, checkpoint = false, routing, "ingestBatch") { store =>
      BqfPipeline.rangeShuffle(BqfPipeline.fingerprintChunks(batch, params.hashBits, nBuckets), nBuckets)
        .mapPartitions(mergeRange(store, batchId, params, _))
    }
  }

  /** One merge task of [[ingestBatch]]: the batch's chunk records of one
    * bucket range in, sorted by bucket (the shuffle's key ordering, which
    * the streaming gather checks), one written file's report out (none for
    * an empty range). The chunks are buffered, each touched bucket's live
    * version is read from the log's files, and every bucket with batch
    * fingerprints gets its new shard version. Fingerprints with no bucket
    * (chunk bucket -1) are counted, not written: the driver refuses the
    * batch.
    */
  private def mergeRange(store: TaskStore, batchId: Long, params: BqfParams,
                         rows: Iterator[(Long, Array[Long])]): Iterator[Written] = {
    val (strays, chunks) = rows.toVector.partition(_._1 < 0)
    val stray = strays.map(_._2.length.toLong).sum
    if (chunks.isEmpty)
      return if (stray == 0) Iterator.empty else Iterator.single(Written(null, 0L, Array.empty, Array.empty, stray))
    val latest = store.readLive(chunks.map(_._1).distinct)
    val shards = BqfPipeline.gatherChunks(chunks.iterator, counted = false) { (bucket, fps, _) =>
      val partial = BackpackFilter.fromEntries(7, params.countBits, params.hashBits, params.mode,
        params.kTokens, params.zTokens, params.seed, fps, null, fps.length)
      val sketch = latest.get(bucket).fold(partial)(BackpackFilter.deserialize(_).mergeInPlace(partial))
      (ShardFiles.Shard(bucket, sketch.serialize(), batchId), fps.length.toLong)
    }
    Iterator.single(writeTask(store, batchId, shards, stray))
  }
}

/** Resumable checkpointed build on an ingest store: rows go to `nBuckets`
  * id buckets by a deterministic xxhash64 of their id, and id bucket j is
  * ingested as batch j ([[IndexIngest.ingestBatch]]), in ascending order.
  * Each committed batch is one commit-log entry, which carries every new
  * shard version's lineage (fingerprint rows consumed, merge depth), so a
  * killed run resumes where the log ends: the replay guard skips each
  * committed id with no job. Every entry records the store's routing
  * (nBuckets and the sketch params), so a resume under others is refused.
  */
object CheckpointedBuild {
  import graft.plans.{BqfPipeline, CommitLog}
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** The id buckets whose batches the store's log has committed. */
  def committedBuckets(spark: SparkSession, dir: String): Set[Long] =
    CommitLog.read(spark, dir).fold(Set.empty[Long])(s => ((0L to s.through) ++ s.pending.map(_.batchId)).toSet)

  /** Ingest id bucket j as batch j into store `dir`, for each j below both
    * `nBuckets` (a power of two, also the store's bucket count) and
    * `maxBatches` (a run cut short there, as a killed one would be); ids
    * the log holds are skipped. A store written under another nBuckets or
    * other params is refused with an IllegalArgumentException.
    */
  def run(df: DataFrame, fpCol: Column, idCol: Column, params: graft.operators.BqfParams,
          nBuckets: Int, dir: String, maxBatches: Int = Int.MaxValue): Unit = {
    val fps = df.select(pmod(xxhash64(idCol), lit(nBuckets)).as("id_bucket"), explode(fpCol).as("fp"))
    (0 until math.min(nBuckets, maxBatches)).foreach { j =>
      IndexIngest.ingestBatch(fps.filter(col("id_bucket") === j).select("fp"), j.toLong, params, nBuckets, dir)
    }
  }

  /** Merge the store's live shards into the final sketch (null for none). */
  def result(spark: SparkSession, dir: String): Array[Byte] =
    BqfPipeline.mergeShards(IndexIngest.currentShards(spark, dir))
}
