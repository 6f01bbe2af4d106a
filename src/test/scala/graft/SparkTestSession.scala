package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every Spark suite (scalatest runs suites in
  * one JVM; getOrCreate dedupes).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.kryoserializer.buffer.max", "512m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` and return its value with the stages it completed, in
    * stage-id order. The listener bus is asynchronous, so a marker job runs
    * after `body`: its stage is delivered after every stage of `body`.
    */
  def stagesOf[T](body: => T): (T, Seq[graft.plans.StageMetrics.Stage]) = {
    val sc = spark.sparkContext
    val m = graft.plans.StageMetrics.attach(spark)
    try {
      val out = body
      sc.setCallSite("graft-stage-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.currentTimeMillis() + 30000
      while (!m.all.exists(_.name == "graft-stage-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(m.all.exists(_.name == "graft-stage-marker"), "marker stage never reached the listener")
      (out, m.all.filter(_.name != "graft-stage-marker").sortBy(_.stageId))
    } finally m.detach(spark)
  }
}
