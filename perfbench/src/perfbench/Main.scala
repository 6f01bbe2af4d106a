package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Entry point: `perfbench.Main --workload <build|ingest> --seed <n>
  * --seconds <s> --trace <0|1> --dir <run dir>`. One JVM, Spark
  * `local[nproc]`, one closed-loop client issuing one op at a time. Prints
  * a stamp line, a line of named results and, last, the result object.
  */
object Main {
  /** Input preparation runs this many times per run; `setup_s` takes
    * their median.
    */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts("--trace") == "1"
    val dir = Paths.get(opts("--dir")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()

    val cpu0 = Jvm.cpuTicks()
    val t0 = System.nanoTime()
    val spark = session(dir, nproc)
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, dir, new Trace(spark, traced), seed, nproc)
    val w: Workload = workload match {
      case "build" => new BuildWorkload(ctx)
      case "ingest" => new IngestWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(f: => Unit): Double = { val s0 = System.nanoTime(); f; (System.nanoTime() - s0) / 1e9 }
    val setupSecs = (1 to SetupReps).map(rep => timed(w.prepare(rep)))
    val warmUpSec = timed(w.warmUp())
    val heapAfterSetup = Jvm.liveHeapMb()
    ctx.log(f"set-up: session $sessionSec%.2f s, inputs ${setupSecs.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"warm-up $warmUpSec%.2f s")

    val gc0 = Jvm.gcMs()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var step = 0
    ctx.measuring = true
    while (System.nanoTime() < end || !w.enoughSamples) {
      // a traced run traces steps 0 and 3 of every four and leaves 1 and 2
      // untraced, which gives the tracing overhead from one run; the two
      // sets sit at the same mean position, so a trend in op times over the
      // loop (JIT warm-up, files since the last compaction) cancels
      ctx.trace.on = traced && (step % 4 == 0 || step % 4 == 3)
      w.step()
      step += 1
    }
    ctx.trace.on = traced
    ctx.measuring = false
    ctx.ops.filter(_.measured).groupBy(_.kind).foreach { case (k, os) =>
      ctx.log(s"loop $k: ${os.map(o => f"${o.seconds}%.3f").mkString(" ")}")
    }
    val loopGcMs = Jvm.gcMs() - gc0
    val heapPeak = math.max(heapAfterSetup, Jvm.liveHeapMb())

    val metrics = LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics += "setup_s" -> (sessionSec + Stats.median(setupSecs) + warmUpSec, "s")
      metrics += "ok_op_share" -> ((ctx.attempted - ctx.failed).toDouble / ctx.attempted, "frac")
      metrics += "driver_heap_live_mb" -> (heapPeak, "MB")
      w.endToEnd().foreach { case (k, v) => metrics += k -> v }
    } else {
      val layers = new Layers(ctx, w)
      layers.run()
      layers.metrics().foreach { case (k, v) => metrics += k -> v }
    }

    val stamped = stamp(spark, dir, nproc, Jvm.stealShare(cpu0, Jvm.cpuTicks()))
    if (traced) ctx.trace.write(dir.resolve("trace.jsonl"), stamped)
    println(s"""{"stamp":$stamped}""")
    println(Json.obj(Seq("workload" -> Json.str(workload), "named" -> Json.obj(w.named().map {
      case (k, v) => k -> Json.num(v) }), "inputs_s" -> setupSecs.map(Json.num).mkString("[", ",", "]"),
      "session_s" -> Json.num(sessionSec), "warm_up_s" -> Json.num(warmUpSec),
      "loop_gc_s" -> Json.num(loopGcMs / 1e3), "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"))))
    ctx.trace.detach()
    spark.stop()
    val result = Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.filter(!_._2._1.isNaN).map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit))) })))
    println(result)
  }

  def session(dir: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.kryoserializer.buffer.max", "512m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Where and how the numbers were made. */
  private def stamp(spark: SparkSession, dir: Path, nproc: Int, steal: Double): String = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    Json.obj(Seq(
      "git_sha" -> Json.str(sys.props.getOrElse("perfbench.gitSha", "unknown")),
      "source_sha256" -> Json.str(sys.props.getOrElse("perfbench.sourceSha", "unknown")),
      "nproc" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "gc_collectors" -> gcs.map(g => Json.str(g.getName)).mkString("[", ",", "]"),
      "gc_ms" -> Jvm.gcMs().toString,
      "spark_master" -> Json.str(spark.sparkContext.master),
      "spark_version" -> Json.str(spark.version),
      "store_location" -> Json.str(dir.toString),
      "store_flush" -> Json.str("Hadoop LocalFileSystem with .crc checksums, no fsync; OS page cache"),
      "cpu_steal_share" -> (if (steal.isNaN) "null" else Json.num(steal)),
      "baseline" -> Json.str("compare only with runs of this benchmark on the same host; " +
        "the BENCH_r0*.json numbers were made on a 32-CPU host and are not a baseline")))
  }
}

object Jvm {
  /** Cumulative (steal, total) CPU ticks of the host, where the OS reports them. */
  def cpuTicks(): Option[(Long, Long)] = try {
    val f = java.nio.file.Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    Some((if (f.length > 7) f(7) else 0L, f.sum))
  } catch { case _: Exception => None }

  /** Share of CPU time a hypervisor took from the virtual machine between two readings. */
  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => Double.NaN
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Old-generation bytes in use right after a full collection; a second
    * collection follows a pause that lets Spark's asynchronous unpersists
    * and cleaner finish.
    */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    Thread.sleep(500)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    used / 1e6
  }
}

/** One op: `work` counts the fingerprints it handled, where that matters. */
final case class OpRecord(kind: String, measured: Boolean, traced: Boolean, ok: Boolean,
                          seconds: Double, gcMs: Long, work: Long)

/** State shared by a workload, its ops and the layer suite. */
final class Ctx(val spark: SparkSession, val dir: Path, val trace: Trace, val seed: Long, val nproc: Int) {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  /** Every op run; `measured` marks those of the timed loop. */
  val ops = ArrayBuffer.empty[OpRecord]
  var measuring = false

  /** Loop ops of one kind, whatever their outcome. */
  def attempts(kind: String): Int = ops.count(o => o.measured && o.kind == kind)

  /** Wall seconds of the loop's ops of one kind that passed their check. */
  def times(kind: String, traced: Option[Boolean] = None): Seq[Double] =
    ops.iterator.filter(o => o.measured && o.ok && o.kind == kind && traced.forall(_ == o.traced))
      .map(_.seconds).toSeq

  val params: graft.operators.BqfParams = graft.operators.BqfParams(
    qBits = 16, countBits = Shape.CountBits, hashBits = Shape.HashBits,
    kTokens = Shape.K, zTokens = Shape.Z, seed = Shape.Seed)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Run a set-up step, logging its wall time. */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    log(f"  $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    a
  }

  def path(parts: String*): String = parts.foldLeft(dir)(_.resolve(_)).toString

  /** Run one op: time it, then check its output. A throw or a failed check
    * counts as a failed op; the run goes on.
    */
  def op[A](kind: String, work: Long = 0L)(run: => A)(check: A => Seq[String]): Option[A] = {
    val id = ops.length
    trace.beginOp(id)
    attempted += 1
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime()
    val out = try Right(trace.span(s"op.$kind")(run)) catch { case e: Exception => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val gc = Jvm.gcMs() - gc0
    trace.beginOp(-1)
    val problems = out match {
      case Left(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) => try check(a) catch { case e: Exception => Seq(s"check threw $e") }
    }
    ops += OpRecord(kind, measuring, trace.on, problems.isEmpty, sec, gc, work)
    if (problems.isEmpty) out.toOption
    else {
      failed += 1
      failures += s"$kind#$id: ${problems.mkString("; ")}"
      log(s"FAILED $kind#$id: ${problems.mkString("; ")}")
      None
    }
  }

  /** Bytes of a persisted store, checksum files excluded. */
  def storeBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) { val f = it.next(); if (!f.getPath.getName.endsWith(".crc")) total += f.getLen }
    total
  }

  /** (relative name, length) of every file under `dir`, sorted. */
  def listing(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, Files.size(p))).toSeq.sorted
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** One workload: what set-up builds, one step of the closed loop, and the
  * end-to-end metrics it reports.
  */
trait Workload {
  /** Generate inputs and oracle from scratch; rep 1..SetupReps. */
  def prepare(rep: Int): Unit
  /** The first loop steps, run as set-up while op times still fall. */
  def warmUp(): Unit
  /** One step of the measured loop (one or more ops). */
  def step(): Unit
  /** The loop runs past its time until this holds. */
  def enoughSamples: Boolean
  /** End-to-end metrics beyond those every workload reports. */
  def endToEnd(): Seq[(String, (Double, String))]
  /** Results under the names the workload's design uses, for the log. */
  def named(): Seq[(String, Double)]
  /** Data the layer suite measures single layers on. */
  def layerInputs(): LayerInputs
}
