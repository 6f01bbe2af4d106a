package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The data files of a store directory: every name without a `_` or `.` prefix. */
  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  /** The store data files the live view opens, as the file system saw them. */
  private def opened(store: String): Set[String] =
    inStore(store)(RecordingFileSystem.recording(spark.sparkContext.hadoopConfiguration)(
      IndexIngest.currentShards(spark, store).collect())._2)

  /** The names of the data files of `store` among `paths`. */
  private def inStore(store: String)(paths: Seq[String]): Set[String] =
    paths.map(new java.io.File(_)).filter(_.getParent == store).map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  /** The live index's (fingerprint -> count) entries. */
  private def counts(store: String): Map[Long, Long] = {
    import spark.implicits._
    graft.plans.BqfPipeline.enumerateIndex(IndexIngest.currentShards(spark, store)).as[(Long, Long)].collect().toMap
  }

  /** The multiset oracle. */
  private def exact(fps: Seq[Long]): Map[Long, Long] =
    fps.groupBy(identity).map { case (fp, occ) => fp -> occ.size.toLong }

  /** The routing the store's log records. */
  private def routing(store: String): Option[graft.plans.Routing] =
    graft.plans.CommitLog.read(spark, store).flatMap(_.routing)

  private def copyDir(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from), new java.io.File(to))

  test("streaming second-occurrence filter matches batch HAVING count>=2") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val result = StreamingOps.secondOccurrences(input.toDS(), nShards = 4, qBits = 7)
    val query = result.writeStream.format("memory").queryName("seconds")
      .outputMode("append").start()
    // deterministic stream with duplicates across batches
    val rng = new scala.util.Random(9)
    val all = Vector.fill(3000)(rng.nextInt(500).toLong + 1)
    all.grouped(1000).foreach { batch => input.addData(batch); query.processAllAvailable() }
    query.stop()

    val got = spark.sql("SELECT value FROM seconds").as[Long].collect().toVector
    // each fingerprint emitted at most once, exactly for those seen >= 2 times
    val expect = all.groupBy(identity).collect { case (v, occ) if occ.size >= 2 => v }.toSet
    assert(got.size == got.toSet.size, "fingerprint emitted more than once")
    assert(got.toSet == expect)
    // agrees with the batch formulation
    val batchAnswer = StreamingOps.secondOccurrencesBatch(spark.createDataset(all)).collect().toSet
    assert(got.toSet == batchAnswer)
  }

  test("streaming sessionization: native session windows match the batch gap rule") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = StreamingOps.sessionize(input.toDS().toDF("user_id", "ts"))
    val query = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // u1: events at 0,10,20 (one session), then 60,65 (second session);
    // u2: single event
    input.addData(Seq(("u1", ts(0)), ("u1", ts(10)), ("u1", ts(20)),
      ("u1", ts(60)), ("u1", ts(65)), ("u2", ts(5))))
    query.processAllAvailable()
    query.stop()
    val rows = spark.sql("SELECT user_id, n_events FROM sess ORDER BY user_id, n_events")
      .as[(String, Long)].collect().toVector
    assert(rows == Vector(("u1", 2L), ("u1", 3L), ("u2", 1L)))
  }

  test("sessionize append mode: closed sessions emit once, watermark evicts state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-ckpt").toString
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = StreamingOps.sessionize(input.toDS().toDF("user_id", "ts"),
      gap = "30 minutes", watermark = "1 hour")
    val query = sessions.writeStream.format("memory").queryName("sessAppend")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // batch 1: u1 session [0,50) (3 events), u2 session [5,35) (1 event)
    input.addData(Seq(("u1", ts(0)), ("u1", ts(10)), ("u1", ts(20)), ("u2", ts(5))))
    query.processAllAvailable()
    // nothing can emit yet: watermark is still behind both session ends
    assert(spark.sql("SELECT * FROM sessAppend").count() == 0)
    // batch 2 advances max event time to 120 -> watermark becomes 60 on the
    // NEXT batch; batch 3 (event at 125) runs with watermark 60 > both ends,
    // so [0,50) and [5,35) close, emit once, and their state is evicted
    input.addData(Seq(("u1", ts(120))))
    query.processAllAvailable()
    input.addData(Seq(("u1", ts(125))))
    query.processAllAvailable()
    val emitted = spark.sql("SELECT user_id, n_events FROM sessAppend")
      .as[(String, Long)].collect().toVector.sorted
    assert(emitted == Vector(("u1", 3L), ("u2", 1L)))
    // eviction evidence: the session-window state operator reported removals
    val removed = query.recentProgress.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, s"expected watermark state eviction, recentProgress removed=$removed")
    query.stop()
  }

  test("second-occurrence filter survives a checkpoint stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cf-ckpt").toString
    val input = MemoryStream[Long]
    val rng = new scala.util.Random(17)
    val all = Vector.fill(2000)(rng.nextInt(400).toLong + 1)
    val (phase1, phase2) = all.splitAt(1000)

    // memory sink can't recover from a checkpoint; foreachBatch can — each
    // phase appends its emitted fingerprints into its own sink set
    def run(data: Vector[Long]): Set[Long] = {
      val sink = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val result = StreamingOps.secondOccurrences(input.toDS(), nShards = 4, qBits = 7)
      val query = result.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], _: Long) =>
          batch.collect().foreach(sink.add)
        }
        .start()
      input.addData(data)
      query.processAllAvailable()
      query.stop()
      import scala.jdk.CollectionConverters._
      sink.asScala.toSet
    }
    // phase 1, stop; phase 2 resumes the SAME checkpoint (kryo'd BQF state
    // reloads from the state store) — the union must equal the batch twin
    val got1 = run(phase1)
    val got2 = run(phase2)
    val batchAnswer = StreamingOps.secondOccurrencesBatch(spark.createDataset(all)).collect().toSet
    assert((got1 ++ got2) == batchAnswer,
      s"restart emit-set mismatch: ${(got1 ++ got2).size} vs batch ${batchAnswer.size}")
    // no fingerprint emitted in both phases (state survived the restart)
    assert(got1.intersect(got2).isEmpty, "state lost across restart: duplicate emits")
  }

  test("streaming index ingest: persisted shards equal exact counts across restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 8
    val store = java.nio.file.Files.createTempDirectory("graft-ingest-store").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt").toString
    val rnd = new scala.util.Random(31)
    val all = Vector.fill(5000)(rnd.nextLong() & ((1L << 32) - 1))
    val (phase1, phase2) = all.splitAt(3000)

    val input = MemoryStream[Long]
    def run(data: Seq[Vector[Long]]): Unit = {
      val q = StreamingOps.indexIngest(input.toDS(), params, nBuckets, store, ckpt)
      data.foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
    }
    // phase 1 in two micro-batches, stop; phase 2 resumes the checkpoint
    run(phase1.grouped(1500).toSeq)
    run(phase2.grouped(1000).toSeq)

    // the live index must answer EXACT counts for the whole stream
    val got = graft.plans.BqfPipeline.enumerateIndex(
        IndexIngest.currentShards(spark, store))
      .as[(Long, Long)].collect().toMap
    val want = all.groupBy(identity).map { case (fp, occ) => fp -> occ.size.toLong }
    assert(got == want, s"index diverged: ${got.size} entries vs ${want.size}")

    // every entry of the log records the routing, so the store is directly
    // consumable by query-index
    val wantRouting = Some(graft.plans.Routing(nBuckets, params))
    assert(routing(store) == wantRouting, "ingest store's log lacks its routing")

    // the raw store is multi-version (one row per touched bucket per
    // batch): queryIndex must REFUSE it rather than answer from an
    // arbitrary shard version...
    val probes = all.distinct.toDF("fp")
    val raw = spark.read.parquet(store).select("bucket", "sketch")
    val ex = intercept[Throwable] {
      graft.plans.BqfPipeline.queryIndex(raw, probes, params, nBuckets).collect()
    }
    def causeChain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causeChain(t.getCause)
    assert(causeChain(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("multiple sketch rows")),
      s"expected multi-version refusal, got: $ex")
    // ...while the live view answers the exact stream counts
    val answered = graft.plans.BqfPipeline.queryIndex(
        IndexIngest.currentShards(spark, store), probes, params, nBuckets)
      .as[(Long, Long)].collect().toMap
    assert(answered == want, "bucket-routed queries over the live ingest view diverged")

    // replaying an already-committed batch is a no-op (exactly-once guard)
    val before = spark.read.parquet(store).count()
    IndexIngest.ingestBatch(phase1.take(100).toDF("fp"), batchId = 0L, params, nBuckets, store)
    assert(spark.read.parquet(store).count() == before, "replayed batch appended rows")

    // compaction keeps only the latest version per bucket; the live index
    // and the replay guard (max batch_id) are unchanged
    val liveBefore = IndexIngest.currentShards(spark, store)
      .as[(Long, Array[Byte])].collect().map { case (b, s) => b -> s.toVector }.toMap
    val pre = store + "-pre"
    copyDir(store, pre)
    IndexIngest.compact(spark, store)
    val after = spark.read.parquet(store)
    assert(after.count() < before, "compaction did not shrink the store")
    assert(after.count() == liveBefore.size, "one row per live bucket expected")
    val liveAfter = IndexIngest.currentShards(spark, store)
      .as[(Long, Array[Byte])].collect().map { case (b, s) => b -> s.toVector }.toMap
    assert(liveAfter == liveBefore, "live index changed under compaction")
    val gotAfter = graft.plans.BqfPipeline.enumerateIndex(
        IndexIngest.currentShards(spark, store))
      .as[(Long, Long)].collect().toMap
    assert(gotAfter == want)
    // the log's routing survives the compaction rewrite
    assert(routing(store) == wantRouting, "compact dropped the routing")

    // crash after compact's checkpoint commit, before its clean-up: the
    // checkpoint and its files plus every superseded entry and file, put
    // back from the pre-compaction copy. Readers see the post-compaction
    // view, and the next ingest removes the old entries and files.
    copyDir(pre, store)
    val oldFiles = dataFiles(pre)
    val checkpointFiles = graft.plans.CommitLog.read(spark, store).get.files
    assert(dataFiles(store) == oldFiles ++ checkpointFiles)
    assert(opened(store) == checkpointFiles, "readers opened a superseded file")
    assert(counts(store) == want)
    val extra = Vector.fill(500)(rnd.nextLong() & ((1L << 32) - 1))
    IndexIngest.ingestBatch(extra.toDF("fp"), batchId = 1000L, params, nBuckets, store)
    assert(dataFiles(store).intersect(oldFiles).isEmpty, "superseded files outlived the next ingest")
    val log = graft.plans.CommitLog.read(spark, store).get
    assert(log.entries.size == 2 && log.superseded.isEmpty, s"entries left: ${log.entries.map(_.fileName)}")
    assert(counts(store) == exact(all ++ extra))
    assert(routing(store) == wantRouting, "recovery dropped the routing")
  }

  test("ingestBatch refuses mismatched routing params; crash leftovers never enter the live view") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 8, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 8
    val tmp = java.nio.file.Files.createTempDirectory("graft-routing").toString
    val store = s"$tmp/store"
    val fps = (1L to 300L).map(i => graft.core.Fingerprint.splitmix64(i) & 0xffffffffL)
    IndexIngest.ingestBatch(fps.toDF("fp"), batchId = 0L, params, nBuckets, store)
    // the routing commits with the entry: the store holds nothing outside
    // its log and its data files (with their checksum files), so no crash
    // after the commit can leave the store without its routing
    val logged = graft.plans.CommitLog.read(spark, store).get.files
    val outside = new java.io.File(store).list().toSet -- logged -- logged.map(n => s".$n.crc") - "_graft_log"
    assert(outside.isEmpty, s"files outside the log and its data files: ${outside.mkString(", ")}")

    // a second ingest with different routing must REFUSE (silent append
    // under a different shift would corrupt every future query)
    val exN = intercept[IllegalArgumentException] {
      IndexIngest.ingestBatch(fps.toDF("fp"), batchId = 1L, params, nBuckets * 2, store)
    }
    assert(exN.getMessage.contains("nBuckets"), s"wrong message: ${exN.getMessage}")
    val exP = intercept[IllegalArgumentException] {
      IndexIngest.ingestBatch(fps.toDF("fp"), batchId = 1L,
        params.copy(kTokens = 9), nBuckets, store)
    }
    assert(exP.getMessage.contains("kTokens"), s"wrong message: ${exP.getMessage}")
    // matching params still ingest fine
    IndexIngest.ingestBatch(fps.take(50).toDF("fp"), batchId = 1L, params, nBuckets, store)

    val (b0, b1, b2, b3) = (fps, fps.take(50), fps.take(10), fps.take(5))
    def ingest(b: Seq[Long], id: Long, dir: String = store): Unit =
      IndexIngest.ingestBatch(b.toDF("fp"), id, params, nBuckets, dir)

    // a batch's files are in the store but its entry is not (a crash
    // before the commit): readers see exactly the pre-batch view, the same
    // id commits once, and the next compact deletes the orphan files
    val committed = dataFiles(store)
    ingest(b2, 2L)
    val orphans = dataFiles(store) -- committed
    assert(orphans.nonEmpty && new java.io.File(store, "_graft_log/2.json").delete())
    assert(counts(store) == exact(b0 ++ b1) && opened(store).intersect(orphans).isEmpty)
    ingest(b2, 2L)
    val recommitted = dataFiles(store)
    ingest(b2, 2L) // a replay writes nothing
    assert(dataFiles(store) == recommitted && counts(store) == exact(b0 ++ b1 ++ b2))

    // compact's files are in the store but its checkpoint is not: the
    // files of a compacted copy, without its log. Readers see the
    // pre-compact view.
    copyDir(store, s"$tmp/compacted")
    IndexIngest.compact(spark, s"$tmp/compacted")
    val strays = dataFiles(s"$tmp/compacted")
    strays.foreach(n => java.nio.file.Files.copy(java.nio.file.Paths.get(tmp, "compacted", n),
      java.nio.file.Paths.get(store, n)))
    assert(counts(store) == exact(b0 ++ b1 ++ b2) && opened(store).intersect(strays).isEmpty)
    IndexIngest.compact(spark, store)
    assert(dataFiles(store).intersect(orphans ++ strays).isEmpty, "compact kept unlogged files")
    assert(dataFiles(store) == opened(store))
    assert(counts(store) == exact(b0 ++ b1 ++ b2))

    // a second commit of the same id (a rival writer's entry for batch 3,
    // built in a copy) throws and leaves the first commit's view
    copyDir(store, s"$tmp/rival")
    ingest(fps.drop(100), 3L, s"$tmp/rival")
    ingest(b3, 3L)
    val rival = graft.plans.CommitLog.read(spark, s"$tmp/rival").get.pending.last
    rival.files.foreach(f => java.nio.file.Files.copy(java.nio.file.Paths.get(tmp, "rival", f.name),
      java.nio.file.Paths.get(store, f.name)))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](graft.plans.CommitLog.commit(spark, store, rival))
    assert(counts(store) == exact(b0 ++ b1 ++ b2 ++ b3))

    // an id below the newest committed one that the log does not hold
    // would hide under the live view (each bucket's highest batch_id)
    ingest(b3, 9L)
    val late = intercept[IllegalArgumentException](ingest(b3, 7L))
    assert(late.getMessage.contains("must increase"), late.getMessage)
    assert(counts(store) == exact(b0 ++ b1 ++ b2 ++ b3 ++ b3))
    // a log whose entries disagree on the routing is refused, naming them
    val entry9 = java.nio.file.Files.readString(java.nio.file.Paths.get(store, "_graft_log", "9.json"))
    val entry11 = java.nio.file.Paths.get(store, "_graft_log", "11.json")
    java.nio.file.Files.writeString(entry11,
      entry9.replace(""""batch_id":9,""", """"batch_id":11,""").replace(""""nBuckets":8""", """"nBuckets":16"""))
    val split = intercept[IllegalArgumentException](IndexIngest.currentShards(spark, store))
    assert(split.getMessage.contains("9.json") && split.getMessage.contains("11.json") &&
      split.getMessage.contains(""""nBuckets":16"""), split.getMessage)
    // an entry without a routing record (a store written before the log
    // recorded it) is refused, not migrated
    java.nio.file.Files.writeString(entry11,
      entry9.replace(""""batch_id":9,""", """"batch_id":11,""").replaceFirst(""""routing":\{[^}]*\},""", ""))
    val old = intercept[IllegalArgumentException](IndexIngest.currentShards(spark, store))
    assert(old.getMessage.contains("11.json lacks field routing"), old.getMessage)
    java.nio.file.Files.delete(entry11)
    // a malformed entry is refused, not skipped
    java.nio.file.Files.writeString(java.nio.file.Paths.get(store, "_graft_log", "10.json"), """{"batch_id":10}""")
    val bad = intercept[IllegalArgumentException](IndexIngest.currentShards(spark, store))
    assert(bad.getMessage.contains("10.json") && bad.getMessage.contains("files"), bad.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("broadcast-sketch query expressions work inside a streaming query") {
    // the batch query surface (codegen abundance expression over a
    // broadcast sketch) composes with Structured Streaming unchanged:
    // each micro-batch probes the same broadcast, no state involved
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val params = graft.operators.BqfParams(qBits = 10, countBits = 8, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val f = params.freshSized()
    val inserted = (1L to 500L).map(i => graft.core.Fingerprint.splitmix64(i) & 0xffffffffL)
    inserted.foreach(fp => f.add(fp))
    val bq = new graft.operators.BqfQuery(spark, f.serialize())
    val input = MemoryStream[Long]
    val probed = input.toDS().toDF("fp")
      .select(col("fp"), bq.abundanceOf(col("fp")).as("abund"))
    val query = probed.writeStream.format("memory").queryName("streamProbe")
      .outputMode("append").start()
    val absent = (1L to 100L).map(i => graft.core.Fingerprint.splitmix64(-i) & 0xffffffffL)
    input.addData(inserted.take(200) ++ absent)
    query.processAllAvailable()
    query.stop()
    val rows = spark.sql("SELECT fp, abund FROM streamProbe").as[(Long, Long)].collect().toMap
    assert(inserted.take(200).forall(fp => rows(fp) >= 1L), "inserted fp missing in stream probe")
    assert(absent.count(fp => rows.getOrElse(fp, 0L) > 0) <= 2, "absent fps should probe ~0")
  }

  test("ingestBatch touched-bucket pruning: disjoint range batches + mid-stream compact stay exact") {
    // the pruning-relevant input shape: each batch touches a strict SUBSET
    // of buckets (2 of 8), so the live-side read is filtered to the touched
    // buckets and untouched shards are never deserialized. Two rounds over
    // the same ranges with a compact between them exercise (a) pruned
    // merge against appended files, (b) pruned merge against the
    // bucket-clustered compacted store, (c) buckets re-touched after
    // compaction. Exactness vs the multiset oracle proves the filter
    // dropped nothing it needed.
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 8
    val shift = params.hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-skew").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(47)
    // duplicates included: counts > 1 must survive the pruned merges
    val all = Vector.fill(4000)(rnd.nextInt(1200).toLong + 1)
      .map(i => graft.core.Fingerprint.splitmix64(i) & ((1L << 32) - 1))
    val (r1, r2) = all.splitAt(2000)
    def slices(v: Vector[Long]): Seq[Vector[Long]] =
      (0 until 4).map(g => v.filter { fp =>
        val b = fp >>> shift; b >= g * 2 && b < (g + 1) * 2
      })
    slices(r1).zipWithIndex.foreach { case (s, i) =>
      IndexIngest.ingestBatch(s.toDF("fp"), batchId = i.toLong, params, nBuckets, store)
    }
    IndexIngest.compact(spark, store)
    slices(r2).zipWithIndex.foreach { case (s, i) =>
      IndexIngest.ingestBatch(s.toDF("fp"), batchId = (i + 4).toLong, params, nBuckets, store)
    }
    val got = graft.plans.BqfPipeline.enumerateIndex(
        IndexIngest.currentShards(spark, store))
      .as[(Long, Long)].collect().toMap
    val want = all.groupBy(identity).map { case (fp, occ) => fp -> occ.size.toLong }
    assert(got == want, s"pruned ingest diverged: ${got.size} entries vs ${want.size}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Run `f`; the executed plan of every query it ran. The listener bus is
    * asynchronous, so a marker query runs before `f` and another after it:
    * a query that ended before `f` began is delivered before the first, and
    * every plan of `f` before the second.
    */
  private def plansOf(f: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    val runs = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = runs.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = runs.put(qe)
    }
    /** The plans delivered before the marker query `marker`. */
    def until(marker: String): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      spark.range(1).toDF(marker).collect()
      val plans = Seq.newBuilder[org.apache.spark.sql.execution.SparkPlan]
      var qe = runs.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (qe != null && !qe.analyzed.output.exists(_.name == marker)) {
        plans += qe.executedPlan
        qe = runs.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(qe != null, s"the marker query $marker never reached the listener")
      plans.result()
    }
    spark.listenerManager.register(listener)
    try {
      until("graft_plan_start")
      f
      until("graft_plan_marker")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Run `f`; the names of the data files of `store` opened meanwhile, as the
    * file system saw them, with the plans of the queries `f` ran.
    */
  private def dataOpens(store: String)(f: => Unit): (Set[String], Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val (plans, paths) = RecordingFileSystem.recording(spark.sparkContext.hadoopConfiguration)(plansOf(f))
    (inStore(store)(paths), plans)
  }

  test("exact pruning: the live-side scan opens the log's live files of the touched buckets, and no other") {
    // The merge tasks read the live versions themselves, so the evidence is
    // taken at the file system: the store data files a batch opens are
    // exactly the files the log names for its touched buckets' live
    // versions, and the batch runs no SQL query (so no scan of any file)
    // and one job of two stages.
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 8
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-prune").toString
    val store = s"$tmp/idx"
    // 2 of 8 buckets per batch. Before the compact: fresh pairs (no live
    // file), then pairs whose live versions sit in two files. After it
    // (4 files of 2 buckets each): a pair inside one file, one across two.
    val pairs = Seq(Seq(0, 1), Seq(2, 3), Seq(4, 5), Seq(6, 7), Seq(1, 2), Seq(5, 6), Seq(0, 1), Seq(3, 4))
    var all = Vector.empty[Long]
    pairs.zipWithIndex.foreach { case (pair, i) =>
      if (i == 6) IndexIngest.compact(spark, store)
      val fps = pair.flatMap(b => (0 until 300).map(j =>
        (b.toLong << 29) | (graft.core.Fingerprint.splitmix64(i * 1000L + j % 250) & ((1L << 29) - 1))))
      val liveFiles = graft.plans.CommitLog.read(spark, store).toSeq
        .flatMap(_.live.collect { case (b, (_, f)) if pair.contains(b.toInt) => f.name }).toSet
      var jobs = Seq.empty[Int]
      val (opens, plans) = dataOpens(store) {
        jobs = graft.SparkTestSession.jobsOf(IndexIngest.ingestBatch(fps.toDF("fp"), i.toLong, params, nBuckets, store))._2
      }
      assert(opens == liveFiles, s"batch $i over buckets $pair opened $opens; the log names $liveFiles")
      assert(plans.isEmpty, s"batch $i ran ${plans.size} SQL queries")
      assert(jobs == Seq(2), s"batch $i submitted jobs (stages each): $jobs")
      all ++= fps
      val log = graft.plans.CommitLog.read(spark, store).get
      assert(opened(store) == log.live.values.map(_._2.name).toSet, s"currentShards after batch $i")
    }
    assert(counts(store) == exact(all))
    // each logged file holds exactly the shard rows its entry names
    for (f <- graft.plans.CommitLog.read(spark, store).get.live.values.map(_._2).toSeq.distinct) {
      val rows = spark.read.parquet(s"$store/${f.name}").select("bucket", "batch_id").as[(Long, Long)].collect()
      assert(rows.toSet == f.shards.map(s => (s.bucket, s.batchId)).toSet && rows.length == f.shards.size, f.name)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a refused batch leaves no trace: no entry, the pre-batch view, and compact deletes its files") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-refused").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(61)
    val Seq(b0, b1, b2) = Seq.fill(3)(Vector.fill(2000)(rnd.nextLong() & 0xffffffffL))
    IndexIngest.ingestBatch(b0.toDF("fp"), 0L, params, 8, store)
    IndexIngest.ingestBatch(b1.toDF("fp"), 1L, params, 8, store)
    val entries = graft.plans.CommitLog.read(spark, store).get.entries.toSet
    val before = dataFiles(store)
    // the stray sits among fingerprints of every bucket, so every merge
    // task writes its file before the driver sees the stray
    val e = intercept[IllegalArgumentException](
      IndexIngest.ingestBatch((b2 :+ (1L << 32)).toDF("fp"), 2L, params, 8, store))
    assert(e.getMessage.contains("hashBits"), e.getMessage)
    assert(graft.plans.CommitLog.read(spark, store).get.entries.toSet == entries, "the refused batch committed")
    val wrote = dataFiles(store) -- before
    assert(wrote.nonEmpty, "the refused batch's tasks wrote no file")
    assert(counts(store) == exact(b0 ++ b1) && opened(store).intersect(wrote).isEmpty)
    IndexIngest.compact(spark, store)
    assert(dataFiles(store).intersect(wrote).isEmpty, s"compact kept ${dataFiles(store).intersect(wrote)}")
    assert(dataFiles(store) == opened(store) && counts(store) == exact(b0 ++ b1))
    // the same id commits once the batch holds no stray
    IndexIngest.ingestBatch(b2.toDF("fp"), 2L, params, 8, store)
    assert(counts(store) == exact(b0 ++ b1 ++ b2))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("build refuses a fingerprint above hashBits and commits nothing; a clean retry commits checkpoint 0") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-build-refused").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(83)
    val docs = Vector.fill(20)(Vector.fill(100)(rnd.nextLong() & 0xffffffffL))
    // a user array<bigint> column; 1 << 32 has a bit above hashBits=32
    val e = intercept[IllegalArgumentException](
      IndexIngest.build((docs :+ Vector(1L << 32)).toDF("fps"), col("fps"), params, 8, store))
    assert(e.getMessage.contains("hashBits"), e.getMessage)
    assert(graft.plans.CommitLog.read(spark, store).forall(_.entries.isEmpty), "the refused build committed")
    val wrote = dataFiles(store)
    assert(wrote.nonEmpty, "the refused build's tasks wrote no file")
    IndexIngest.build(docs.toDF("fps"), col("fps"), params, 8, store)
    assert(graft.plans.CommitLog.read(spark, store).get.entries.map(en => (en.batchId, en.checkpoint)) == Seq((0L, true)))
    assert(counts(store) == exact(docs.flatten) && opened(store).intersect(wrote).isEmpty)
    IndexIngest.compact(spark, store)
    assert(dataFiles(store).intersect(wrote).isEmpty, s"compact kept ${dataFiles(store).intersect(wrote)}")
    assert(dataFiles(store) == opened(store) && counts(store) == exact(docs.flatten))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a null fingerprint is refused, not read as 0: ingestBatch commits nothing, queryIndex fails the probe") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-null-fp").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(71)
    val b0 = Vector.fill(1000)(rnd.nextLong() & 0xffffffffL)
    IndexIngest.ingestBatch(b0.toDF("fp"), 0L, params, 8, store)
    val entries = graft.plans.CommitLog.read(spark, store).get.entries.toSet
    // a nullable bigint column, as a parquet batch reads
    val withNull = (b0.map(Option(_)) :+ None :+ Some(0L)).toDF("fp")
    val e = intercept[IllegalArgumentException](IndexIngest.ingestBatch(withNull, 1L, params, 8, store))
    assert(e.getMessage.contains("null") && e.getMessage.contains("column fp"), e.getMessage)
    assert(graft.plans.CommitLog.read(spark, store).get.entries.toSet == entries, "the refused batch committed")
    assert(counts(store) == exact(b0))
    val q = intercept[org.apache.spark.SparkException](
      graft.plans.BqfPipeline.queryIndex(IndexIngest.currentShards(spark, store), withNull, params, 8).collect())
    def causes(t: Throwable): List[Throwable] = if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(q).exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains("column fp")),
      causes(q).map(_.getMessage).mkString(" <- "))
    // a column that holds no integers is refused at the call, not cast
    val typed = intercept[IllegalArgumentException](IndexIngest.ingestBatch(Seq("17").toDF("fp"), 1L, params, 8, store))
    assert(typed.getMessage.contains("fingerprint column fp is string"), typed.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a missing or truncated live file fails ingestBatch and compact, naming the file, and commits nothing") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bad-live").toString
    val rnd = new scala.util.Random(67)
    val Seq(b0, b1, b2) = Seq.fill(3)(Vector.fill(1000)(rnd.nextLong() & 0xffffffffL))
    def messages(t: Throwable): List[String] = if (t == null) Nil else String.valueOf(t.getMessage) :: messages(t.getCause)
    val conf = spark.sparkContext.hadoopConfiguration
    val damages = Seq[(String, java.io.File => Unit)](
      "missing" -> (f => assert(f.delete())),
      // without its checksum file too, so that only the parquet reader can
      // tell (as on a store with no client-side checksums)
      "truncated" -> { f =>
        val raf = new java.io.RandomAccessFile(f, "rw")
        try raf.setLength(f.length / 2) finally raf.close()
        new java.io.File(f.getParent, s".${f.getName}.crc").delete()
      },
      // a readable file that lacks one of the shard rows its entry names
      "lacking a logged row" -> { f =>
        val path = new org.apache.hadoop.fs.Path(f.getPath)
        val rows = ShardFiles.read(path, conf)((_, _) => true)
        assert(f.delete())
        new java.io.File(f.getParent, s".${f.getName}.crc").delete()
        ShardFiles.write(path, rows.tail.iterator, conf,
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      })
    for ((what, damage) <- damages; (op, run) <- Seq[(String, String => Unit)](
      "ingestBatch" -> (s => IndexIngest.ingestBatch(b2.toDF("fp"), 2L, params, 8, s)),
      "compact" -> (s => IndexIngest.compact(spark, s)),
      "currentShards -> queryIndex" -> (s => graft.plans.BqfPipeline.queryIndex(IndexIngest.currentShards(spark, s),
        b2.toDF("fp"), params, 8).collect()))) {
      val store = s"$tmp/${java.util.UUID.randomUUID}"
      IndexIngest.ingestBatch(b0.toDF("fp"), 0L, params, 8, store)
      IndexIngest.ingestBatch(b1.toDF("fp"), 1L, params, 8, store)
      val log = graft.plans.CommitLog.read(spark, store).get
      val victim = log.live.values.map(_._2.name).toSeq.sorted.head
      damage(new java.io.File(store, victim))
      val e = intercept[Exception](run(store))
      assert(messages(e).exists(_.contains(victim)), s"$what live file, $op: ${messages(e).mkString(" <- ")}")
      assert(graft.plans.CommitLog.read(spark, store).get.entries.toSet == log.entries.toSet, s"$what live file, $op committed")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a failed write returns only once none of its tasks is still writing into the store") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-failed-write").toString
    val rnd = new scala.util.Random(73)
    val Seq(b0, b1) = Seq.fill(2)(Vector.fill(1000)(rnd.nextLong() & 0xffffffffL))
    for ((op, run) <- Seq[(String, String => Unit)](
      "ingestBatch" -> (s => IndexIngest.ingestBatch(b1.toDF("fp"), 1L, params, 8, s)),
      "compact" -> (s => IndexIngest.compact(spark, s)))) {
      val store = s"$tmp/$op"
      IndexIngest.ingestBatch(b0.toDF("fp"), 0L, params, 8, store)
      val log = graft.plans.CommitLog.read(spark, store).get
      val victim = new java.io.File(store, log.live.values.map(_._2.name).toSeq.sorted.head)
      assert(victim.delete())
      // the task of the lowest bucket range fails at its read, which is held
      // until every other task has reached its file create; each create is
      // held in turn while the failure reaches the driver
      val (atReturn, _) = RecordingFileSystem.recording(spark.sparkContext.hadoopConfiguration,
        createDelayMs = 1000L, hold = Some(victim.getAbsolutePath -> 500L)) {
        intercept[Exception](run(store))
        dataFiles(store)
      }
      Thread.sleep(2000L)
      assert(dataFiles(store) == atReturn, s"$op wrote ${dataFiles(store) -- atReturn} after it failed")
      assert(atReturn.size > log.files.size - 1, s"$op: no task of the failed job wrote its file")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a store written by Spark's parquet writer ingests, compacts and answers exactly") {
    // every store written before ingest wrote its own files holds Spark's
    // files, whose columns are optional; the task-side reader takes them,
    // alone and beside the required-column files written since
    import org.apache.parquet.schema.Type.Repetition
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 8
    val shift = params.hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)
    val tmp = java.nio.file.Files.createTempDirectory("graft-old-store").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(71)
    val b0 = Vector.fill(3000)(rnd.nextInt(2000).toLong).map(graft.core.Fingerprint.splitmix64(_) & 0xffffffffL)
    // batch 1 touches half the buckets, so its files and Spark's are live together
    val Seq(b1, b2) = Seq.fill(2)(Vector.fill(1500)(rnd.nextInt(2000).toLong)
      .map(graft.core.Fingerprint.splitmix64(_) & 0xffffffffL).filter(fp => (fp >>> shift) < nBuckets / 2))
    graft.plans.BqfPipeline.buildIndexSorted(Seq(b0.toArray).toDF("fps"), col("fps"), params, nBuckets)
      .withColumn("batch_id", lit(0L)).repartition(2).write.parquet(store)
    def repetition(name: String): Repetition = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(store, name), spark.sparkContext.hadoopConfiguration))
      try {
        val schema = r.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("sketch")).getRepetition
      } finally r.close()
    }
    val sparkFiles = dataFiles(store).toSeq.sorted
    assert(sparkFiles.nonEmpty && sparkFiles.forall(repetition(_) == Repetition.OPTIONAL))
    val logged = sparkFiles.map { name =>
      val buckets = spark.read.parquet(s"$store/$name").select("bucket").as[Long].collect().sorted
      graft.plans.LoggedFile(name, new java.io.File(store, name).length, buckets.toSeq.map(b =>
        graft.plans.LoggedShard(b, 0L, b0.count(fp => (fp >>> shift) == b).toLong, 1)))
    }
    graft.plans.CommitLog.create(spark, store)
    graft.plans.CommitLog.commit(spark, store, graft.plans.LogEntry(0L, checkpoint = false,
      graft.plans.Routing(nBuckets, params), logged))
    assert(counts(store) == exact(b0))
    IndexIngest.ingestBatch(b1.toDF("fp"), 1L, params, nBuckets, store)
    val written = dataFiles(store) -- sparkFiles
    assert(written.nonEmpty && written.forall(repetition(_) == Repetition.REQUIRED))
    assert(opened(store).intersect(sparkFiles.toSet).nonEmpty, "no file of Spark's writer stayed live")
    assert(counts(store) == exact(b0 ++ b1))
    IndexIngest.compact(spark, store)
    assert(dataFiles(store).intersect(sparkFiles.toSet).isEmpty && counts(store) == exact(b0 ++ b1))
    IndexIngest.ingestBatch(b2.toDF("fp"), 2L, params, nBuckets, store)
    val all = b0 ++ b1 ++ b2
    val answered = graft.plans.BqfPipeline.queryIndex(IndexIngest.currentShards(spark, store),
      all.toDF("fp"), params, nBuckets).as[(Long, Long)].collect()
    assert(answered.length == all.length && answered.toMap == exact(all))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("live view: each bucket's latest version, exactly, through currentShards, queryIndex and compact") {
    // batch 0 touches buckets {A, B}, batch 1 touches {A}: the store holds
    // (A,0), (B,0) and (A,1), and the live view must never read the
    // superseded (A,0)
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 16, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 8
    val (a, b) = (2L, 5L)
    def fpsIn(bucket: Long, from: Long, n: Int) = (from until from + n).map(i => (bucket << 29) | (i * 7919L))
    val batch0 = fpsIn(a, 1, 40) ++ fpsIn(a, 1, 10) ++ fpsIn(b, 1, 30)
    val batch1 = fpsIn(a, 21, 40)
    val tmp = java.nio.file.Files.createTempDirectory("graft-live-view").toString
    val store = s"$tmp/idx"
    IndexIngest.ingestBatch(batch0.toDF("fp"), batchId = 0L, params, nBuckets, store)
    IndexIngest.ingestBatch(batch1.toDF("fp"), batchId = 1L, params, nBuckets, store)
    def rows(): Map[(Long, Long), Vector[Byte]] = spark.read.parquet(store)
      .select("bucket", "batch_id", "sketch").as[(Long, Long, Array[Byte])].collect()
      .map { case (bk, id, s) => (bk, id) -> s.toVector }.toMap
    val raw = rows()
    assert(raw.keySet == Set((a, 0L), (b, 0L), (a, 1L)))
    val live = IndexIngest.currentShards(spark, store).as[(Long, Array[Byte])].collect()
    assert(live.length == 2)
    assert(live.map { case (bk, s) => bk -> s.toVector }.toMap == Map(a -> raw((a, 1L)), b -> raw((b, 0L))))
    val all = batch0 ++ batch1
    val answered = graft.plans.BqfPipeline.queryIndex(IndexIngest.currentShards(spark, store),
      all.toDF("fp"), params, nBuckets).as[(Long, Long)].collect()
    val want = all.groupBy(identity).map { case (fp, occ) => fp -> occ.size.toLong }
    assert(answered.length == all.length && answered.toMap == want)
    IndexIngest.compact(spark, store)
    assert(rows() == Map((a, 1L) -> raw((a, 1L)), (b, 0L) -> raw((b, 0L))))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("compact writes bucket-clustered files: disjoint bucket ranges") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 8, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 16
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-ranges").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(5)
    (0 until 3).foreach { i =>
      IndexIngest.ingestBatch(Seq.fill(3000)(rnd.nextLong() & 0xffffffffL).toDF("fp"),
        batchId = i.toLong, params, nBuckets, store)
    }
    val before = IndexIngest.currentShards(spark, store).as[(Long, Array[Byte])].collect()
      .map { case (bk, s) => bk -> s.toVector }.toMap
    IndexIngest.compact(spark, store)
    val ranges = spark.read.parquet(store)
      .groupBy(input_file_name()).agg(min("bucket"), max("bucket"))
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).sorted
    // min(16 buckets, 4 cores) tasks, one file each
    assert(ranges.length == 4, s"compacted files: ${ranges.mkString(" ")}")
    assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi < lo },
      s"overlapping bucket ranges: ${ranges.mkString(" ")}")
    val after = IndexIngest.currentShards(spark, store).as[(Long, Array[Byte])].collect()
      .map { case (bk, s) => bk -> s.toVector }.toMap
    assert(after == before && after.size == nBuckets)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("misuse fails loudly: a store without batch_id, fingerprints above hashBits") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 8, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-misuse").toString
    // a store written before build-index wrote a log (buildIndexSorted's
    // rows through Spark's writer, no batch_id column, no _graft_log):
    // every live-view entry point refuses it
    val built = s"$tmp/built"
    val fps = (1L to 500L).map(i => graft.core.Fingerprint.splitmix64(i) & 0xffffffffL)
    graft.plans.BqfPipeline.buildIndexSorted(Seq(fps.toArray).toDF("fps"), col("fps"), params, 8)
      .write.parquet(built)
    for ((what, call) <- Seq[(String, () => Any)](
      "currentShards" -> (() => IndexIngest.currentShards(spark, built)),
      "compact" -> (() => IndexIngest.compact(spark, built)),
      "ingestBatch" -> (() => IndexIngest.ingestBatch(fps.toDF("fp"), 0L, params, 8, built)))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(built) && e.getMessage.contains("batch_id"), s"$what: ${e.getMessage}")
    }
    // a fingerprint above hashBits has no bucket: ingest refuses it
    val store = s"$tmp/idx"
    val e = intercept[IllegalArgumentException](
      IndexIngest.ingestBatch((fps :+ (1L << 32)).toDF("fp"), 0L, params, 8, store))
    assert(e.getMessage.contains("hashBits"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("order-of-magnitude ingest: raw occurrences store presence, however the stream is split into batches") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 4, hashBits = 32,
      mode = graft.core.CountMode.OrderOfMagnitude, kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 4
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-oom").toString
    val hot = graft.core.Fingerprint.splitmix64(7L) & 0xffffffffL
    val others = (100L to 160L).map(i => graft.core.Fingerprint.splitmix64(i) & 0xffffffffL)
    // 103 occurrences of hot, 3 of others.head, 1 of every other fingerprint
    val all = Seq.fill(103)(hot) ++ others ++ Seq.fill(2)(others.head)
    def ingest(store: String, batches: Seq[Seq[Long]]): Unit =
      batches.zipWithIndex.foreach { case (b, id) => IndexIngest.ingestBatch(b.toDF("fp"), id.toLong, params, nBuckets, store) }
    def shards(store: String): Map[Long, Seq[Byte]] = IndexIngest.currentShards(spark, store)
      .as[(Long, Array[Byte])].collect().map { case (b, s) => b -> s.toSeq }.toMap
    ingest(s"$tmp/one", Seq(all))
    // round robin: each batch holds about a third of every repeated fingerprint
    ingest(s"$tmp/three", (0 until 3).map(r => all.zipWithIndex.collect { case (fp, i) if i % 3 == r => fp }))
    // a duplicate insert keeps the stored exponent (the reference's OOM
    // rule), so the hot fingerprint answers 1 like every other
    assert(counts(s"$tmp/one") == (others :+ hot).map(_ -> 1L).toMap)
    assert(shards(s"$tmp/one") == shards(s"$tmp/three"), "the batch split changed the shards")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("windowed streaming aggregation with watermark over events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = input.toDS().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), lit(1))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val query = agg.writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    input.addData(Seq((ts(0), 1.0), (ts(1), 2.0), (ts(6), 3.0), (ts(12), 4.0)))
    query.processAllAvailable()
    query.stop()
    val rows = spark.sql("SELECT n, v FROM win ORDER BY n").collect()
    assert(rows.length == 3) // windows [0,5), [5,10), [10,15)
    assert(rows.map(_.getLong(0)).sum == 4)
  }
}
