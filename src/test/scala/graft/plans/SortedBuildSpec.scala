package graft.plans

import graft.SparkTestSession
import graft.functions.GraftFunctions._
import graft.operators.BqfParams
import graft.sources.TokensTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The sorted build is one keyed RDD shuffle: no typed row detour, whose
  * adaptive plan submits its exchange as a job of its own.
  */
class SortedBuildSpec extends AnyFunSuite {
  test("buildGlobal on an in-memory input submits one job of two stages") {
    val spark = SparkTestSession.spark
    val params = BqfParams(qBits = 14, countBits = 16, hashBits = 48, kTokens = 8, zTokens = 2)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val df = TokensTable.dataframe(spark, 200, partitions = 4)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = jobs.add(job.stageInfos.size)
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, stages) = try SparkTestSession.stagesOf(BqfPipeline.buildGlobal(df, fps, params))
      finally spark.sparkContext.removeSparkListener(listener)
    // stagesOf's marker job reaches the listener after every job of the build
    import scala.jdk.CollectionConverters._
    val built = jobs.asScala.toSeq.dropRight(1)
    assert(built == Seq(2), s"jobs submitted (stages each): $built")
    assert(stages.size == 2, s"stages completed: ${stages.map(_.numTasks)}")
  }
}
