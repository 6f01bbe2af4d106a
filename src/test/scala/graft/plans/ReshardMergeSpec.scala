package graft.plans

import graft.SparkTestSession
import graft.core.BackpackFilter
import graft.functions.GraftFunctions._
import graft.operators.{BqfParams, SketchAggregators}
import graft.sources.TokensTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed re-shard merge must be a pure repartitioning of sketch
  * contents: every (fingerprint, abundance) entry survives verbatim, output
  * shards nest by fingerprint-range prefix, and collapsing to one shard is
  * value-identical to a local merge of the shards, as is the one-blob
  * fold [[BqfPipeline.mergeShards]]. The sorted build routes
  * contiguous bucket ranges to min(nBuckets, cores) tasks and gathers one
  * shard at a time; queryIndex routes its probe chunks by the same rule.
  */
class ReshardMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val params = BqfParams(qBits = 8, countBits = 8, hashBits = 48, kTokens = 8, zTokens = 2)

  private def enumMap(shards: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    BqfPipeline.enumerateIndex(shards).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("reshardMerge preserves every entry and matches the exact multiset") {
    val df = TokensTable.dataframe(spark, 300, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val i32 = BqfPipeline.buildIndexSorted(df, fps, params, 32).cache()
    val exact = enumMap(i32)
    val oracle = df.select(explode(fps).as("fp")).groupBy("fp").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == oracle, "sorted index build disagrees with exact counts")
    for (nOut <- Seq(8, 1)) {
      val merged = BqfPipeline.reshardMerge(i32, params, nOut)
      assert(enumMap(merged) == exact, s"nOut=$nOut")
      assert(merged.select(countDistinct(col("bucket"))).head().getLong(0) <= nOut)
    }
    i32.unpersist()
  }

  test("queryIndex == broadcast sketch on random probes (present, absent, resharded)") {
    import spark.implicits._
    val df = TokensTable.dataframe(spark, 300, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val nBuckets = 16
    val shards = BqfPipeline.buildIndexSorted(df, fps, params, nBuckets).cache()
    // probe set: every inserted fp plus never-inserted randoms (expect 0)
    val rnd = new scala.util.Random(7)
    val absent = Seq.fill(2000)(rnd.nextLong() & ((1L << params.hashBits) - 1))
    val probes = df.select(explode(fps).as("fp")).distinct()
      .unionByName(absent.toDF("fp")).distinct().cache()
    val viaIndex = BqfPipeline.queryIndex(shards, probes, params, nBuckets)
      .as[(Long, Long)].collect().toMap
    // broadcast twin: one merged blob answers the same probes
    val blob = BqfPipeline.mergeShards(shards)
    val f = BackpackFilter.deserialize(blob)
    val expected = probes.as[Long].collect().map(fp => fp -> f.abundance(fp)).toMap
    assert(viaIndex == expected, s"${viaIndex.size} answers vs ${expected.size}")
    // resharding the index must not change any answer
    val resharded = BqfPipeline.reshardMerge(shards, params, 4)
    val viaResharded = BqfPipeline.queryIndex(resharded, probes, params, 4)
      .as[(Long, Long)].collect().toMap
    assert(viaResharded == expected)
    shards.unpersist(); probes.unpersist()
  }

  test("reshardMerge to one shard == local mergeAll") {
    val df = TokensTable.dataframe(spark, 200, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val i16 = BqfPipeline.buildIndexSorted(df, fps, params, 16).cache()
    val one = BqfPipeline.reshardMerge(i16, params, 1).collect()
    assert(one.length == 1)
    val viaReshard = BackpackFilter.deserialize(one(0).getAs[Array[Byte]]("sketch")).enumerate()
    // the reference merge runs on the driver, with no Spark plan in it
    val local = BackpackFilter.mergeAll(i16.collect().toSeq.map(r =>
      BackpackFilter.deserialize(r.getAs[Array[Byte]]("sketch"))))
    assert(viaReshard == local.enumerate())
    i16.unpersist()
  }

  test("mergeShards == local mergeAll of range-disjoint and of overlapping UDAF shards; no rows give null") {
    // every doc twice, under a second id, so doc buckets share s-grams
    val once = TokensTable.dataframe(spark, 200, partitions = 4)
    val df = once.union(once.withColumn("doc_id", concat(col("doc_id"), lit("-copy"))))
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    def local(shards: org.apache.spark.sql.DataFrame): Array[Byte] =
      BackpackFilter.mergeAll(shards.select("sketch").collect().toSeq.map(r =>
        BackpackFilter.deserialize(r.getAs[Array[Byte]](0)))).serialize()
    // range-disjoint: the sorted index's shards split the fingerprint range
    val disjoint = BqfPipeline.buildIndexSorted(df, fps, params, 16).cache()
    // overlapping: doc-bucketed UDAF shards share every s-gram two docs share
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    val overlapping = df.groupBy(pmod(xxhash64(col("doc_id")), lit(8)).as("bucket"))
      .agg(bqf(fps).as("sketch")).cache()
    val shardFps = overlapping.select("sketch").collect().map(r =>
      BackpackFilter.deserialize(r.getAs[Array[Byte]](0)).distinctCount).sum
    assert(shardFps > BackpackFilter.deserialize(local(overlapping)).distinctCount, "UDAF shards do not overlap")
    for ((label, shards) <- Seq("range-disjoint" -> disjoint, "overlapping" -> overlapping))
      assert(java.util.Arrays.equals(BqfPipeline.mergeShards(shards), local(shards)), label)
    assert(java.util.Arrays.equals(BqfPipeline.mergeShards(disjoint), BqfPipeline.mergeShards(overlapping)))
    assert(BqfPipeline.mergeShards(disjoint.limit(0)) == null)
    disjoint.unpersist(); overlapping.unpersist()
  }

  test("sorted build routes contiguous bucket ranges to min(nBuckets, cores) tasks") {
    val df = TokensTable.dataframe(spark, 300, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    assert(spark.sparkContext.defaultParallelism == 4)
    val shards = BqfPipeline.buildIndexSorted(df, fps, params, 32).rdd
    assert(shards.getNumPartitions == 4)
    val byTask = shards
      .mapPartitionsWithIndex((t, rows) => Iterator(t -> rows.map(_.getLong(0)).toVector))
      .collect().sortBy(_._1).map(_._2)
    // task t owns buckets [8t, 8t + 8), ascending, and no bucket twice
    for ((buckets, t) <- byTask.zipWithIndex)
      assert(buckets == (8L * t until 8L * (t + 1)), s"task $t")
    for (n <- Seq(2, 1))
      assert(BqfPipeline.buildIndexSorted(df, fps, params, n).rdd.getNumPartitions == n, s"nBuckets=$n")
  }

  test("queryIndex: one answer row per probe row, zeros where no shard, min(nBuckets, cores) reduce tasks") {
    import spark.implicits._
    assert(spark.sparkContext.defaultParallelism == 4)
    val rnd = new scala.util.Random(11)
    val mask = (1L << params.hashBits) - 1
    for (nBuckets <- Seq(1, 2, 64)) {
      val shift = params.hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)
      // every other bucket holds fingerprints (with repeats), so at 2 and 64
      // buckets half the buckets have no shard; at 1 bucket every probe
      // meets the one shard
      val inserted = Seq.fill(3000)(rnd.nextLong() & mask)
        .filter(fp => nBuckets == 1 || (fp >>> shift) % 2 == 0)
      val docs = inserted.grouped(100).map(_.toArray).toSeq.toDF("fps")
      val shards = BqfPipeline.buildIndexSorted(docs, col("fps"), params, nBuckets).cache()
      val byBucket = shards.as[(Long, Array[Byte])].collect()
        .map { case (b, bytes) => b -> BackpackFilter.deserialize(bytes) }.toMap
      // repeated probes, never-inserted probes in every bucket, and strays
      // whose bits above hashBits give them no bucket at all
      val strays = Seq(1L << params.hashBits, -1L, Long.MinValue, mask + 12345)
      val probeFps = inserted.take(500) ++ inserted.take(200) ++
        Seq.fill(1000)(rnd.nextLong() & mask) ++ strays
      val probes = probeFps.toDF("fp").repartition(3)
      def expect(fp: Long): Long =
        if ((fp >>> shift) >= nBuckets) 0L
        else byBucket.get(fp >>> shift).fold(0L)(_.abundance(fp))
      val (answers, stages) = SparkTestSession.stagesOf(
        BqfPipeline.queryIndex(shards, probes, params, nBuckets).as[(Long, Long)].collect())
      assert(answers.toSeq.sorted == probeFps.map(fp => fp -> expect(fp)).sorted, s"nBuckets=$nBuckets")
      assert(strays.forall(fp => answers.filter(_._1 == fp).forall(_._2 == 0L)))
      assert(inserted.take(500).forall(fp => expect(fp) >= 1L))
      assert(stages.last.numTasks == math.min(nBuckets, 4),
        s"nBuckets=$nBuckets: reduce stage ran ${stages.last.numTasks} tasks")
      // task t answers only probes of its own contiguous bucket range
      val p = math.min(nBuckets, 4)
      val ranges = BqfPipeline.queryIndex(shards, probes, params, nBuckets).rdd
        .mapPartitionsWithIndex((t, rows) => rows.map(r => t -> (r.getLong(0) >>> shift)))
        .collect().filter(_._2 < nBuckets)
      assert(ranges.forall { case (t, b) => b * p / nBuckets == t }, s"nBuckets=$nBuckets routing")
      // no probes: no rows; no shards: every probe answers 0
      assert(BqfPipeline.queryIndex(shards, probes.limit(0), params, nBuckets).count() == 0)
      val none = BqfPipeline.queryIndex(shards.limit(0), probes, params, nBuckets).as[(Long, Long)].collect()
      assert(none.map(_._1).sorted.toSeq == probeFps.sorted && none.forall(_._2 == 0L))
      shards.unpersist()
    }
  }

  test("the gather's memory guard bounds one shard, not one task") {
    def chunks(sizes: (Long, Int)*) = sizes.iterator.map { case (b, n) =>
      (b, Array.tabulate(n)(i => (b << 40) | i.toLong), null: Array[Long])
    }
    val key = "graft.maxShardFps"
    val saved = System.getProperty(key)
    System.setProperty(key, "100")
    try {
      // 3 x 80 fingerprints: each shard under the cap, the task over it
      val shards = BqfPipeline.gatherChunks(chunks(0L -> 50, 0L -> 30, 1L -> 80, 2L -> 40, 2L -> 40)).toList
      assert(shards.map(s => (s._1, s._2.length)) == List(0L -> 80, 1L -> 80, 2L -> 80))
      assert(shards.head._2.toSeq == (0 until 50).map(_.toLong) ++ (0 until 30).map(_.toLong))
      val e = intercept[IllegalStateException](
        BqfPipeline.gatherChunks(chunks(0L -> 80, 1L -> 60, 1L -> 60)).toList)
      assert(e.getMessage.contains("raise nBuckets"))
    } finally {
      if (saved == null) System.clearProperty(key) else System.setProperty(key, saved)
    }
  }
}
