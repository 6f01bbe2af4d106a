package graft

/** Stage-level profiling harness for catalog entries — the measurement tool
  * behind OPTIMIZATION_r08.md: runs one query N times in a warm session
  * (run 1 pays codegen + session-cache derivations, later runs show the
  * steady state) and dumps one StageMetrics JSON line per completed stage,
  * so per-stage wall/cpu/shuffle attribution is reproducible.
  *
  * usage: graft.ProfileQuery <queryName> [sfDir] [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.builder(SparkEntry.cpus, s"graft-profile-$name")
      // shuffle scratch on tmpfs, as in Bench: the stage times then show
      // the engine, not the virtio disk
      .config("spark.local.dir", BuildJob.shmLocalDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sm = graft.plans.StageMetrics.attach(spark)
    val fn = SparkEntry.queries(name)
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      println(s"RUN $i: rows=$n sec=${(System.nanoTime() - t0) / 1e9}")
    }
    sm.jsonLines.foreach(l => println(s"[stage] $l"))
    spark.stop()
  }
}
