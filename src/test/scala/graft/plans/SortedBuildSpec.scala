package graft.plans

import graft.SparkTestSession
import graft.functions.GraftFunctions._
import graft.operators.BqfParams
import graft.sources.TokensTable
import graft.streaming.IndexIngest
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The sorted build, an ingest batch and the live probe are each one keyed
  * RDD shuffle: no typed row detour, whose adaptive plan submits its
  * exchange as a job of its own.
  */
class SortedBuildSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("buildGlobal on an in-memory input submits one job of two stages") {
    val params = BqfParams(qBits = 14, countBits = 16, hashBits = 48, kTokens = 8, zTokens = 2)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val df = TokensTable.dataframe(spark, 200, partitions = 4)
    val ((_, jobs), stages) = SparkTestSession.stagesOf(SparkTestSession.jobsOf(BqfPipeline.buildGlobal(df, fps, params)))
    assert(jobs == Seq(2), s"jobs submitted (stages each): $jobs")
    assert(stages.size == 2, s"stages completed: ${stages.map(_.numTasks)}")
  }

  test("ingestBatch submits one job of two stages; the live probe's sum two jobs, and none at the call") {
    import spark.implicits._
    val params = BqfParams(qBits = 10, countBits = 16, hashBits = 32, kTokens = 8, zTokens = 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-jobs").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(83)
    val Seq(b0, b1, probes) = Seq.fill(3)(Vector.fill(3000)(rnd.nextLong() & 0xffffffffL))
    // the first batch meets an empty store, the second reads live files
    for ((batch, id) <- Seq(b0, b1).zipWithIndex) {
      val (_, jobs) = SparkTestSession.jobsOf(IndexIngest.ingestBatch(batch.toDF("fp"), id.toLong, params, 8, store))
      assert(jobs == Seq(2), s"batch $id submitted jobs (stages each): $jobs")
    }
    // the probe input is a parquet scan, as perfbench's live probe reads it;
    // its schema read runs a job of its own, so it is made first
    (probes ++ b0.take(500)).toDF("fp").write.parquet(s"$tmp/probes")
    val scan = spark.read.parquet(s"$tmp/probes")
    val (answers, atCall) = SparkTestSession.jobsOf(
      BqfPipeline.queryIndex(IndexIngest.currentShards(spark, store), scan, params, 8))
    assert(atCall.isEmpty, s"queryIndex on a scan submitted jobs at the call: $atCall")
    val (total, summed) = SparkTestSession.jobsOf(answers.agg(sum("abundance")).head().getLong(0))
    assert(summed.size == 2, s"the sum over the live probe submitted jobs (stages each): $summed")
    val exact = (b0 ++ b1).groupBy(identity).map { case (fp, occ) => fp -> occ.size.toLong }
    assert(total == (probes ++ b0.take(500)).map(exact.getOrElse(_, 0L)).sum)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("queryIndex over distinct probes runs their exchange at the call; the answers read twice agree") {
    import spark.implicits._
    val params = BqfParams(qBits = 10, countBits = 16, hashBits = 32, kTokens = 8, zTokens = 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft-query-twice").toString
    val store = s"$tmp/idx"
    val rnd = new scala.util.Random(89)
    // 1500 values over every bucket, so counts above 1
    val batch = Vector.fill(4000)((rnd.nextInt(1500) * 2654435761L) & 0xffffffffL)
    IndexIngest.ingestBatch(batch.toDF("fp"), 0L, params, 8, store)
    val probes = (batch ++ Vector.fill(1000)(rnd.nextLong() & 0xffffffffL)).toDF("fp").distinct()
    // Cli's shape: under adaptive execution, toRdd of a plan with an
    // exchange runs that exchange when queryIndex plans its shuffle
    val (answers, atCall) = SparkTestSession.jobsOf(
      BqfPipeline.queryIndex(IndexIngest.currentShards(spark, store), probes, params, 8))
    assert(atCall.size == 1, s"queryIndex over distinct probes submitted jobs at the call: $atCall")
    val n = answers.count()
    val rows = answers.as[(Long, Long)].collect()
    val exact = batch.groupBy(identity).map { case (fp, occ) => fp -> occ.size.toLong }
    assert(n == rows.length && rows.map(_._1).toSet.size == rows.length)
    assert(rows.toMap == probes.as[Long].collect().map(fp => fp -> exact.getOrElse(fp, 0L)).toMap)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
