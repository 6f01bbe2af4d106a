package perfbench

import java.nio.file.Paths

/** The build's class-loading training run: one tiny pass through every op
  * the workloads make, so the class-data-sharing archive dumped at exit
  * holds the classes a benchmark run loads. Its numbers are discarded.
  * Args: a scratch directory.
  */
object Warm {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(dir, Runtime.getRuntime.availableProcessors())
    val trace = new Trace(spark, true)
    def ctx(name: String) = new Ctx(spark, dir.resolve(name), trace, 1L, 2)
    Seq(new BuildWorkload(ctx("build"), 200) -> 1, new IngestWorkload(ctx("ingest"), 20) -> 4)
      .foreach { case (w, steps) => w.prepare(1); (1 to steps).foreach(_ => w.step()) }
    spark.stop()
  }
}
