package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every Spark suite (scalatest runs suites in
  * one JVM; getOrCreate dedupes).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, "graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The call site of the marker job of [[stagesOf]] and [[jobsOf]]; each
    * drops the marker's stage or job, so the two nest.
    */
  private val Marker = "graft-stage-marker"

  /** Run the marker job, then wait until `seen` holds (the listener has
    * been handed the marker).
    */
  private def marker(seen: => Boolean): Unit = {
    val sc = spark.sparkContext
    sc.setCallSite(Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
    val deadline = System.currentTimeMillis() + 30000
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(seen, "the marker never reached the listener")
  }

  /** Run `body` and return its value with the stages it completed, in
    * stage-id order. The listener bus is asynchronous, so a marker job runs
    * after `body`: its stage is delivered after every stage of `body`.
    */
  def stagesOf[T](body: => T): (T, Seq[graft.plans.StageMetrics.Stage]) = {
    val m = graft.plans.StageMetrics.attach(spark)
    try {
      val out = body
      marker(m.all.exists(_.name == Marker))
      (out, m.all.filter(_.name != Marker).sortBy(_.stageId))
    } finally m.detach(spark)
  }

  /** Run `body` and return its value with the jobs it submitted, as each
    * job's stage count in job-id order. Ordered by a marker job, as
    * [[stagesOf]] is: its start is delivered after every job start of `body`.
    */
  def jobsOf[T](body: => T): (T, Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, (Int, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        jobs.put(job.jobId, (job.stageInfos.size, job.stageInfos.exists(_.name == Marker)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      marker(jobs.values.asScala.exists(_._2))
      (out, jobs.values.asScala.toSeq.filterNot(_._2).map(_._1))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
