package graft.plans

import graft.SparkTestSession
import graft.functions.GraftFunctions._
import graft.operators.BqfParams
import graft.sources.TokensTable
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class StageMetricsSpec extends AnyFunSuite {
  test("listener records completed stages with shuffle volumes") {
    val spark = SparkTestSession.spark
    val m = StageMetrics.attach(spark)
    try {
      import spark.implicits._
      spark.range(0, 100000, 1, 4).map(i => (i % 7, i))
        .toDF("k", "v").groupBy("k").count().collect()
      // listener bus is async (private API); poll for it to drain
      val deadline = System.currentTimeMillis() + 30000
      while (m.all.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val stages = m.all
      assert(stages.nonEmpty)
      assert(stages.map(_.numTasks).sum > 0)
      assert(stages.exists(_.shuffleWriteBytes > 0), "no stage recorded shuffle writes")
      assert(m.jsonLines.forall(l => l.startsWith("{") && l.endsWith("}")))
      assert(m.snapshot(spark).count() == stages.size)
    } finally m.detach(spark)
  }

  test("buildSharded runs buildGlobal's stages, none after the sorted reduce") {
    val spark = SparkTestSession.spark
    assert(spark.sparkContext.defaultParallelism == 4)
    val params = BqfParams(qBits = 14, countBits = 16, hashBits = 48, kTokens = 8, zTokens = 2)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val df = TokensTable.dataframe(spark, 200, partitions = 4)
    val (_, gStages) = SparkTestSession.stagesOf(BqfPipeline.buildGlobal(df, fps, params))
    val (_, sStages) = SparkTestSession.stagesOf(
      BqfPipeline.buildSharded(df, fps, col("doc_id"), params, 64): @scala.annotation.nowarn("cat=deprecation"))
    assert(sStages.size == gStages.size,
      s"buildSharded ran ${sStages.size} stages, buildGlobal ${gStages.size}: ${sStages.map(_.numTasks)}")
    // the fold runs on the driver: the last stage is the sorted build's
    // reduce, min(32 buckets, 4 cores) tasks that read the chunk shuffle
    // and write no shuffle of their own
    for (stages <- Seq(gStages, sStages)) {
      val last = stages.last
      assert(last.numTasks == 4 && last.shuffleReadBytes > 0 && last.shuffleWriteBytes == 0,
        s"last stage: ${last.numTasks} tasks, read ${last.shuffleReadBytes} B, wrote ${last.shuffleWriteBytes} B")
    }
  }
}
