package graft.plans

import graft.SparkTestSession
import graft.core.{BackpackFilter, CountMode}
import graft.functions.GraftFunctions._
import graft.operators.{BqfParams, SketchAggregators}
import graft.sources.TokensTable
import graft.streaming.CheckpointedBuild
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every producer builds through `fromEntries`, so a sketch's bytes depend
  * only on its parameters and its entries: each producer must return the
  * bytes of one local `fromEntries` over the exploded fingerprints. Inputs
  * sit on both sides of 1,946 distinct s-grams (the 95% cap of q=11), so
  * the quotient rule is checked where a start quotient above the tight one
  * would still show. Each input runs in exact mode as it is, and in
  * order-of-magnitude mode with every document twice, so every s-gram
  * repeats inside each id bucket and batch a store writer cuts: raw
  * occurrences store presence whichever producer folds them.
  */
class BuildIdentitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val exact = BqfParams(qBits = 16, countBits = 16, hashBits = 48, kTokens = 8, zTokens = 2)
  private val modes: Seq[(BqfParams, DataFrame => DataFrame)] = Seq(
    exact -> identity, exact.copy(countBits = 5, mode = CountMode.OrderOfMagnitude) -> (df => df.union(df)))
  // the two modes share the fingerprint rule (s, hashBits, seed)
  private val fps = sgram_fingerprints(col("tokens"), exact.sTokens, exact.hashBits, exact.seed)

  private def reference(df: DataFrame, params: BqfParams): Array[Byte] = {
    val all = df.select(explode(fps)).as[Long].collect()
    BackpackFilter.fromEntries(7, params.countBits, params.hashBits, params.mode,
      params.kTokens, params.zTokens, params.seed, all, null, all.length).serialize()
  }

  @scala.annotation.nowarn("cat=deprecation") // pins buildSharded's forwarding
  private def producers(df: DataFrame, params: BqfParams): Seq[(String, Array[Byte])] = {
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    def sketchOf(rows: DataFrame): Array[Byte] = rows.select("sketch").as[Array[Byte]].head()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-identity").toString + "/shards"
    CheckpointedBuild.run(df, fps, col("doc_id"), params, 16, ckpt, maxBatches = 4)
    CheckpointedBuild.run(df, fps, col("doc_id"), params, 16, ckpt)
    val built = java.nio.file.Files.createTempDirectory("graft-identity").toString + "/built"
    graft.streaming.IndexIngest.build(df, fps, params, 16, built)
    Seq(
      "buildGlobal" -> BqfPipeline.buildGlobal(df, fps, params),
      "buildSharded 64" -> BqfPipeline.buildSharded(df, fps, col("doc_id"), params, 64),
      "buildSharded 16" -> BqfPipeline.buildSharded(df, fps, col("doc_id"), params, 16),
      "CheckpointedBuild resumed" -> CheckpointedBuild.result(spark, ckpt),
      "IndexIngest.build" -> BqfPipeline.mergeShards(graft.streaming.IndexIngest.currentShards(spark, built)),
      "mergeShards(buildIndexSorted)" -> BqfPipeline.mergeShards(BqfPipeline.buildIndexSorted(df, fps, params, 16)),
      "reshardMerge to 1" -> sketchOf(BqfPipeline.reshardMerge(BqfPipeline.buildIndexSorted(df, fps, params, 16), params, 1)),
      "UDAF over 2 partitions" -> df.repartition(2).agg(bqf(fps).as("sketch")).head().getAs[Array[Byte]](0),
      "UDAF over 8 partitions" -> df.repartition(8).agg(bqf(fps).as("sketch")).head().getAs[Array[Byte]](0),
      "buildPerSource, one source" -> sketchOf(BqfPipeline.buildPerSource(
        df.withColumn("source", lit("all")), fps, col("doc_id"), col("source"), params)))
  }

  private def distinctSgrams(df: DataFrame): Long = df.select(explode(fps)).distinct().count()

  for ((label, rows, below) <- Seq(("below", 8, true), ("above", 40, false)))
    test(s"every producer builds the same bytes ($label 1,946 distinct s-grams)") {
      val df = TokensTable.dataframe(spark, rows, partitions = 4)
      assert((distinctSgrams(df) < 1946) == below, "input on the wrong side of q=11's cap")
      for ((params, input) <- modes) {
        val want = reference(input(df), params)
        for ((name, got) <- producers(input(df), params))
          assert(java.util.Arrays.equals(got, want),
            s"${params.mode} $name: q=${BackpackFilter.deserialize(got).quotientBits} vs " +
              s"q=${BackpackFilter.deserialize(want).quotientBits}, bytes differ")
      }
    }

  test("ingestBatch over 3 batches leaves the shards buildIndexSorted builds from the union") {
    val nBuckets = 8
    val df = TokensTable.dataframe(spark, 60, partitions = 4)
    def byBucket(shards: DataFrame) = shards.select("bucket", "sketch").as[(Long, Array[Byte])]
      .collect().map { case (k, v) => k -> v.toSeq }.toMap
    for ((params, input) <- modes) {
      val exploded = input(df).select(substring(col("doc_id"), 4, 8).cast("long").as("i"), explode(fps).as("fp"))
      val store = java.nio.file.Files.createTempDirectory("graft-identity-ingest").toString + "/store"
      for (b <- 0 until 3)
        graft.streaming.IndexIngest.ingestBatch(
          exploded.filter(col("i") % 3 === b).select("fp"), b.toLong, params, nBuckets, store)
      val live = byBucket(graft.streaming.IndexIngest.currentShards(spark, store))
      val built = byBucket(BqfPipeline.buildIndexSorted(input(df), fps, params, nBuckets))
      assert(live.keySet == built.keySet)
      for (k <- built.keys) assert(live(k) == built(k), s"${params.mode} bucket $k differs")
    }
  }
}
