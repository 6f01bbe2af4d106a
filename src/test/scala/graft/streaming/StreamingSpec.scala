package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

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

    // ingest writes the same routing sidecar as Cli build-index, so the
    // store is directly consumable by query-index
    assert(new java.io.File(store, "_graft_index.json").exists, "ingest store missing sidecar")

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
    // the routing sidecar survives the compaction rewrite
    assert(new java.io.File(store, "_graft_index.json").exists, "compact dropped the sidecar")

    // crash-mid-swap recovery: compact's swap is rename-aside (store ->
    // .compact-old, tmp -> store) — a crash between the two renames leaves
    // the store path ABSENT with the complete original at .compact-old.
    // Simulate exactly that state and assert the next compact heals it.
    val storeP = new org.apache.hadoop.fs.Path(store)
    val asideP = new org.apache.hadoop.fs.Path(store + ".compact-old")
    val fs = storeP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(storeP, asideP)
    assert(!fs.exists(storeP))
    IndexIngest.compact(spark, store)
    assert(fs.exists(storeP) && !fs.exists(asideP), "mid-swap crash not healed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store + ".compact-tmp")))
    val liveHealed = IndexIngest.currentShards(spark, store)
      .as[(Long, Array[Byte])].collect().map { case (b, s) => b -> s.toVector }.toMap
    assert(liveHealed == liveBefore, "live index changed across crash recovery")
    assert(new java.io.File(store, "_graft_index.json").exists, "recovery dropped the sidecar")
  }

  test("ingestBatch refuses mismatched routing params; aside-restore heals from any store access") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 8, hashBits = 32,
      kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 8
    val tmp = java.nio.file.Files.createTempDirectory("graft-sidecar").toString
    val store = s"$tmp/store"
    val fps = (1L to 300L).map(i => graft.core.Fingerprint.splitmix64(i) & 0xffffffffL)
    IndexIngest.ingestBatch(fps.toDF("fp"), batchId = 0L, params, nBuckets, store)

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

    // crash-mid-swap state (store absent, complete copy at .compact-old):
    // the FIRST access being currentShards — not compact — must still heal
    // it; before the fix a fresh ingest would silently shadow the aside
    // and strand the pre-compact data forever
    val live = IndexIngest.currentShards(spark, store)
      .as[(Long, Array[Byte])].collect().map { case (b, s) => b -> s.toVector }.toMap
    val storeP = new org.apache.hadoop.fs.Path(store)
    val asideP = new org.apache.hadoop.fs.Path(store + ".compact-old")
    val fs = storeP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(storeP, asideP)
    val healed = IndexIngest.currentShards(spark, store)
      .as[(Long, Array[Byte])].collect().map { case (b, s) => b -> s.toVector }.toMap
    assert(fs.exists(storeP) && !fs.exists(asideP), "currentShards did not restore the aside")
    assert(healed == live, "restored store diverged")
    // and via ingestBatch as the first access
    fs.rename(storeP, asideP)
    IndexIngest.ingestBatch(fps.take(10).toDF("fp"), batchId = 2L, params, nBuckets, store)
    assert(fs.exists(storeP) && !fs.exists(asideP), "ingestBatch did not restore the aside")
    // batches 0 and 1 must still be present (nothing was stranded)
    val ids = spark.read.parquet(store).select("batch_id").distinct()
      .as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L), s"lost batches across recovery: $ids")
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

  test("live view: each bucket's latest version, exactly, through currentShards, queryIndex and compact") {
    // batch 0 touches buckets {A, B}, batch 1 touches {A}: the literal
    // batch_id isin {0, 1} keeps (A,0), (B,0) and (A,1), and the exact
    // (bucket, batch_id) filter must drop the superseded (A,0)
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
    // a batch-built index has no batch_id column: read with the fixed store
    // schema its ids are null, and every live-view entry point refuses it
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

  test("order-of-magnitude ingest: a batch stores its encoded count, batches merge by max") {
    import spark.implicits._
    val params = graft.operators.BqfParams(qBits = 10, countBits = 4, hashBits = 32,
      mode = graft.core.CountMode.OrderOfMagnitude, kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 4
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-oom").toString
    val store = s"$tmp/idx"
    val hot = graft.core.Fingerprint.splitmix64(7L) & 0xffffffffL
    val others = (100L to 160L).map(i => graft.core.Fingerprint.splitmix64(i) & 0xffffffffL)
    def live: Map[Long, Long] = graft.plans.BqfPipeline.enumerateIndex(
        IndexIngest.currentShards(spark, store))
      .as[(Long, Long)].collect().toMap
    // batch 0: 100 occurrences answer 2^floor(log2 100) = 64, singletons 1
    IndexIngest.ingestBatch((Seq.fill(100)(hot) ++ others).toDF("fp"), batchId = 0L,
      params, nBuckets, store)
    assert(live == (others.map(_ -> 1L) :+ (hot -> 64L)).toMap)
    // batch 1: 3 more occurrences encode to 2 on their own; max(64, 2) = 64,
    // and a repeated singleton reaches 2 through its own batch's count
    IndexIngest.ingestBatch((Seq.fill(3)(hot) ++ Seq.fill(2)(others.head)).toDF("fp"), batchId = 1L,
      params, nBuckets, store)
    assert(live == (others.map(_ -> 1L) :+ (hot -> 64L) :+ (others.head -> 2L)).toMap)
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
