package graft

/** Plan inspection utility: prints the formatted physical plan of one
  * catalog query (or `entry`) without executing it — the iterate-on-explain
  * loop for plan hygiene (broadcast sides, exchange reuse, pushed filters,
  * whole-stage codegen spans).
  *
  * usage: graft.Explain <queryName|entry> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "entry"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder(SparkEntry.cpus, s"graft-explain-$name").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = if (name == "entry") SparkEntry.entry(spark)
             else SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (args.contains("run")) {
      val t0 = System.nanoTime()
      val n = df.count()
      println(s"rows=$n sec=${(System.nanoTime() - t0) / 1e9}")
    }
    spark.stop()
  }
}
