package graft

import graft.functions.GraftFunctions._
import graft.operators.{BqfParams, BqfQuery}
import graft.plans.BqfPipeline
import graft.sources.TokensTable
import org.apache.spark.sql.functions._

/** Per-round benchmark: headline sketch-build/query throughput over the
  * deterministic tokens table, the full operator catalog at the bench scale
  * dir, a reference-scale false-positive audit, recall of the probabilistic
  * entries, streaming ingest, and N-vs-4N-core scaling evidence (local[N]
  * vs local[4N] stands in for the two cluster sizes — no real cluster in
  * this sandbox; see BASELINE.md). Prints ONE JSON line.
  *
  * Scaling has one estimator and one gate. Every efficiency is
  * [[medianPairEff]]: the median, over complete sweeps, of the same-sweep
  * ratio `(t(c1)/t(c2)) / (c2/c1)`, capped at 1.0 on stdout. Every scaling
  * fork runs behind [[fits]]: remaining budget > 1.5x the fork's
  * [[estimateWall]] capability estimate + a 60 s emission reserve.
  *
  * Every phase records its wall seconds AND the harness JVM's GC-time delta
  * (`phase_gc_ms` in the JSON), so a slow artifact is attributable from the
  * artifact alone: high GC delta = collector-bound (engine/heap problem),
  * low GC delta + slow wall = host steal (this microVM's documented 2-2.5x
  * window noise).
  *
  * Phase selection: SPARK_GRAFT_PHASES, comma list of
  * build,probe,seq,catalog,fp,recall,ingest,scaling (default: all).
  *
  * Output contract: stdout carries ONE compact JSON line (<= 1.5 KB — the
  * driver's tail capture truncated round 4's 3.4 KB line to unparseable);
  * the per-query map, per-phase GC, raw scaling sweeps and fp detail go to
  * a detail JSON file (SPARK_GRAFT_DETAIL_PATH, default BENCH/DETAIL.json
  * under the working directory) and to stderr, both BEFORE the stdout line.
  */
object Bench {
  /** One fork's result: the seconds it reports for its timed work, and the
    * wall clock from its start to its exit.
    */
  private[graft] final case class ForkTime(sec: Double, wallSec: Double)

  /** Run `main` in a fresh GC-pinned JVM and return its first `{"sec":`
    * stdout line with the fork's wall seconds.
    *
    * GC matters more than anything else for comparable scaling numbers on
    * this host: G1 young pauses reach 5-23 s on heaps > ~10 GB (slow
    * memory), which round 1 measured as local[8] *slower* than local[2].
    * ParallelGC + a fixed pre-touched heap + pretenured large arrays keep
    * pause time flat across core counts; pretouch happens before the timed
    * section (each main times only its own work).
    *
    * The fork is EXECUTOR-SIZED: `ActiveProcessorCount` and the GC thread
    * count scale with the measured core count, because that is what the
    * north rule's "same job at two cluster sizes" means — a cluster
    * executor pinned to N cores gets N cores for GC and JIT too. A fixed
    * 8-GC-thread / unrestricted-APC fork (rounds 1-4) lends SMALL levels
    * hidden extra parallelism, deflating every measured pair.
    */
  private def forkJvm(main: String, cpus: Int, heap: String, flags: Seq[String],
                      args: Seq[Any]): (String, Double) = {
    val t0 = System.nanoTime()
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ flags ++ Seq(
      s"-Xms$heap", s"-Xmx$heap",
      "-XX:+UseParallelGC", s"-XX:ParallelGCThreads=${math.min(8, math.max(2, cpus))}",
      s"-XX:ActiveProcessorCount=$cpus",
      "-XX:+AlwaysPreTouch", "-XX:PretenureSizeThreshold=1048576",
      "-cp", System.getProperty("java.class.path"), main) ++ args.map(_.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    proc.waitFor()
    val line = out.find(_.startsWith("""{"sec":"""))
      .getOrElse(throw new RuntimeException(s"$main produced no result; tail: ${out.takeRight(5).mkString(" | ")}"))
    (line, (System.nanoTime() - t0) / 1e9)
  }

  private def jsonNum(line: String, key: String): String =
    ("\"" + key + "\":([0-9.Ee+-]+)").r.findFirstMatchIn(line).get.group(1)

  /** One [[BuildJob]] fork: (its times, kgrams, the fork's GC ms). */
  private def buildFork(cpus: Int, rows: Long, nBuckets: Int, heap: String): (ForkTime, Long, Long) = {
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    // shuffle spill/files on tmpfs: this microVM's virtio disk sustains
    // ~360 MB/s, so at 4+ cores the ~750 MB shuffle write saturates it and
    // the map tasks stall off-CPU (run_ms >> cpu_ms in the stage metrics) —
    // measuring the disk, not the engine. A real cluster executor has
    // provisioned NVMe for exactly this; /dev/shm restores that contract
    // (bytes moved are identical).
    val (line, wall) = forkJvm("graft.BuildJob", cpus, heap,
      opens :+ s"-Dspark.local.dir=${BuildJob.shmLocalDir}", Seq(cpus, rows, nBuckets))
    (ForkTime(jsonNum(line, "sec").toDouble, wall), jsonNum(line, "kgrams").toLong, jsonNum(line, "gc_ms").toLong)
  }

  /** One [[graft.core.CoreScale]] fork (128 shards of 1.2M entries). */
  private def coreFork(threads: Int, heap: String): ForkTime = {
    val (line, wall) = forkJvm("graft.core.CoreScale", threads, heap, Nil, Seq(threads, 128, 1200000))
    ForkTime(jsonNum(line, "sec").toDouble, wall)
  }

  /** The core series' default levels: the powers of two up to `cpus`.
    * Higher levels would measure oversubscription, not the kernel.
    */
  private[graft] def coreLevelsFor(cpus: Int): Seq[Int] = Iterator.iterate(1)(_ * 2).takeWhile(_ <= cpus).toSeq

  /** Median over complete sweeps of the same-sweep ratio
    * `(t(c1)/t(c2)) / (c2/c1)`; sweeps missing either level are skipped.
    */
  private[graft] def medianPairEff(sweeps: Seq[Map[Int, Double]], c1: Int, c2: Int): Option[Double] = {
    val r = sweeps.filter(s => s.contains(c1) && s.contains(c2))
      .map(s => (s(c1) / s(c2)) / (c2.toDouble / c1)).sorted
    if (r.isEmpty) None
    else Some(if (r.size % 2 == 1) r(r.size / 2) else (r(r.size / 2 - 1) + r(r.size / 2)) / 2)
  }

  /** Capability estimate of one fork's wall: the best observed fork of
    * that (series, level), else the best inverse-linear extrapolation from
    * another level of the same series, else 0.
    */
  private[graft] def estimateWall(est: collection.Map[(String, Int), Double],
                                  series: String, c: Int): Double =
    est.getOrElse((series, c), {
      val ex = est.collect { case ((s, cc), w) if s == series => w * cc / c.toDouble }
      if (ex.isEmpty) 0.0 else ex.min
    })

  /** Record one fork in the estimates that [[estimateWall]] reads: its
    * wall clock, the best per (series, level). The seconds a fork reports
    * leave out its JVM start, heap pretouch, Spark session and shutdown: a
    * BuildJob fork at 100k rows on a 4-CPU host reported 3.3 s and took
    * 13.9 s.
    */
  private[graft] def observe(est: collection.mutable.Map[(String, Int), Double], series: String, c: Int,
                             t: ForkTime): Unit =
    est((series, c)) = math.min(est.getOrElse((series, c), Double.MaxValue), t.wallSec)

  /** The one budget gate: a fork runs only while the remaining budget
    * exceeds 1.5x its estimate plus the emission reserve.
    */
  private[graft] def fits(remainingSec: Double, estimate: Double, reserveSec: Double): Boolean =
    remainingSec > 1.5 * estimate + reserveSec

  /** Total GC milliseconds across this JVM's collectors. */
  private def gcMs(): Long = {
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var t = 0L
    while (it.hasNext) t += it.next().getCollectionTime
    t
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** 4-decimal JSON number — full Double.toString precision is line-budget
    * noise on the stdout artifact (raw values live in the detail file).
    */
  private def fmt4(d: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    if (s.contains('.')) {
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    } else s
  }

  def main(args: Array[String]): Unit = {
    // RUN DEADLINE: the bench finishes CLEANLY inside a wall budget. Before
    // each scaling fork, the budget gate checks the remaining time against
    // a warm-up-calibrated estimate of that fork and skips it instead of
    // being SIGKILLed mid-flight. Default 1620 s: r5's 2040 s run parsed
    // (the external ceiling exceeds it), so 27 min + emit leaves >6 min of
    // proven margin.
    val wallStart = System.nanoTime()
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1620").toDouble
    def remainingSec(): Double = budgetSec - (System.nanoTime() - wallStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.cpus
    val benchRows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "200000").toLong
    val nBuckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "128").toInt
    val phases = sys.env.getOrElse("SPARK_GRAFT_PHASES",
      "build,probe,seq,catalog,fp,recall,ingest,scaling").split(",").map(_.trim).toSet
    // forked measurement JVMs get their own fixed heap: -Xms=-Xmx+pretouch
    // keeps GC behavior identical across core counts, and a moderate size
    // keeps the (untimed) pretouch cheap — first-touch allocation on this
    // host is nonlinearly slow above ~8 GiB (4g=0.4 s, 8g=5 s, 12g=43-138 s
    // measured), so 8g is both the safe and the fast choice. Falls back to
    // SPARK_DRIVER_MEM (the pre-r2 knob name) under the same clamp.
    val heap = sys.env.get("SPARK_GRAFT_FORK_MEM").orElse {
      sys.env.get("SPARK_DRIVER_MEM").map { req =>
        val gb = "^([0-9]+)g$".r.findFirstMatchIn(req.trim.toLowerCase).map(_.group(1).toLong)
        gb match {
          case Some(g) => s"${math.min(math.max(g, 2L), 8L)}g"
          case None => req
        }
      }
    }.getOrElse("8g")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val phaseGc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // key-value fragments appended to the detail artifact (NOT the stdout line)
    val detailExtra = scala.collection.mutable.ArrayBuffer.empty[String]

    // All phase outputs live up here (not at their phase) so the artifact
    // emitter — and the abort shutdown hook — can read whatever completed.
    var kgrams = 0L
    var buildSec = 0.0
    var nProbes = 0L
    var probeSec = 0.0
    var catalogSec = 0.0
    var catalogN = 0
    var catalogFailed = 0
    var fpJson = ""
    var recallJson = ""
    var ingestJson = ""
    var scalingJson = ""

    /** Assemble + write the detail artifact and print the stdout headline
      * from whatever phases have completed. Runs once: either at normal
      * completion, or — with `"aborted":true` on the line — from a shutdown
      * hook when the harness kills the JVM mid-phase (e.g. an external
      * timeout during the scaling sweeps). A partial-but-parseable artifact
      * beats round 4's `parsed: null`.
      */
    val artifactEmitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def emitArtifact(aborted: Boolean): Unit = {
      if (!artifactEmitted.compareAndSet(false, true)) return
      val total = results.values.filter(_ >= 0).sum
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // self-diagnosing artifact: the harness JVM's actual heap + collector +
      // per-phase GC-time deltas ride in the JSON, so a GC-roulette anomaly
      // (round-2's 368 s catalog under 90g default-G1) is attributable from
      // the artifact alone
      val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
      val gcNames = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      val gc = {
        val it = gcNames.iterator(); val b = new StringBuilder
        while (it.hasNext) { if (b.nonEmpty) b += '+'; b ++= it.next().getName.replace(' ', '_') }
        b.toString
      }
      val gcJson = phaseGc.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val buildJson = if (phases("build") && buildSec > 0)
        s""","kgrams":$kgrams,"bqf_build_kgrams_per_sec":${(kgrams / buildSec).toLong}""" else ""
      val probeJson = if (phases("probe") && probeSec > 0)
        s""","point_probes":$nProbes,"point_queries_per_sec":${(nProbes / probeSec).toLong}""" else ""
      val catJson = if (phases("catalog") && catalogN > 0)
        s""","catalog_sec":${fmt4(catalogSec)},"catalog_n":$catalogN,"catalog_failed":$catalogFailed""" else ""

      // Artifact contract (round 4's one defect, VERDICT next-round #1): the
      // stdout line must survive the driver's ~2.2 KB tail capture, so it
      // carries ONLY the headline fields — budget <= 1.5 KB. The 35-entry
      // per-query map, per-phase GC deltas, full scaling levels, and every
      // raw sweep go to the detail artifact: a written JSON file (default
      // BENCH/DETAIL.json under the working directory, committed per round
      // as DETAIL_rN.json) AND stderr, both emitted BEFORE the stdout line
      // so a combined-stream tail capture always ends with the parseable
      // headline.
      val detailJson =
        s"""{"queries":$qs,"phase_gc_ms":$gcJson,"sf":"$sfDir","cpus":$cpus""" +
        (if (detailExtra.isEmpty) "" else detailExtra.mkString(",", ",", "")) + "}"
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_PATH", "BENCH/DETAIL.json")
      def writeDetail(): Unit = {
        try {
          val p = java.nio.file.Paths.get(detailPath)
          if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, (detailJson + "\n").getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        } catch { case e: Exception => System.err.println(s"[bench] detail write failed: $e") }
        System.err.println(s"[bench] detail: $detailJson")
      }

      val abortJson = if (aborted) ""","aborted":true""" else ""
      val line =
        s"""{"metric":"total","value":${fmt4(total)},"unit":"sec","sf":"$sfDir"""" +
        s""","cpus":$cpus,"bench_rows":$benchRows$buildJson$probeJson$catJson""" +
        s"""$fpJson$recallJson$ingestJson$scalingJson$abortJson""" +
        s""","harness_heap_mb":$heapMb,"harness_gc":"$gc"""" +
        s""","gc_ms":${phaseGc.values.sum},"detail":"$detailPath"}"""
      if (line.length > 1536)
        System.err.println(s"[bench] WARNING: stdout line ${line.length} B exceeds the 1.5 KB budget")
      // Emission order (r6 verdict #1a): under abort the SIGKILL can land
      // between any two writes, and r6's landed between the stderr detail
      // dump and the headline println — the most important byte went out
      // last and the artifact of record was `parsed: null`. So ABORT prints
      // the stdout headline FIRST, flush, then best-effort detail. The
      // NORMAL path keeps r5's proven order (detail first, headline as the
      // very last line) so a combined-stream tail capture still ends on the
      // parseable headline.
      if (aborted) {
        println(line); System.out.flush()
        writeDetail()
      } else {
        writeDetail()
        println(line); System.out.flush()
      }
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => emitArtifact(aborted = true)))

    // 1. headline: sharded BQF index build over the tokens table, in a fresh
    // forked JVM (the same job at every parallelism level: FIXED shard
    // count; isolation keeps heap/JIT state from skewing the comparison)
    // host timing noise is 2-4x between runs (time-shared microVM): take
    // the min over trials as the capability estimate
    if (phases("build")) {
      // 6 fresh-JVM trials (r5 verdict #4: the driver artifact printed below
      // the rehearsal band two rounds straight on 4 trials — a single
      // multi-minute steal episode swallows several consecutive ~7 s forks,
      // so min-of-6 samples more independent host windows)
      val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "6").toInt
      val headline = (1 to trials).map { i =>
        val r = buildFork(cpus, benchRows, nBuckets, heap)
        System.err.println(f"[bench] build trial $i: ${r._1.sec}%.2f s (forked-JVM gc ${r._3} ms)")
        r
      }
      val best = headline.minBy(_._1.sec)
      buildSec = best._1.sec
      kgrams = headline.head._2
      results += "build_tokens_bqf" -> buildSec
      // GC of the MIN-time trial: the capability estimate's own collector cost
      phaseGc += "build_tokens_bqf" -> best._3
    }

    val spark = GraftSession.builder(cpus, s"graft-bench-$cpus")
      // shuffle scratch on tmpfs — same rationale as the BuildJob fork: the
      // virtio disk's ~360 MB/s is the microVM's artifact, not the engine's
      .config("spark.local.dir", BuildJob.shmLocalDir)
      // no spark.driver.memory here: in an already-running local-mode JVM it
      // is inert (the heap is build.sbt's clamped -Xmx), and echoing a 90g
      // request into the conf only misleads readers of the Spark UI/logs
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // shared probe sketch for the probe/seq/fp phases
    val queryParams = BqfParams(qBits = 16, countBits = 8, hashBits = 48, kTokens = 8, zTokens = 2)
    lazy val queryDf = TokensTable.dataframe(spark, 20000, partitions = cpus)
    lazy val qfps = sgram_fingerprints(col("tokens"), queryParams.sTokens, queryParams.hashBits, queryParams.seed)
    lazy val bq = new BqfQuery(spark, BqfPipeline.buildGlobal(queryDf, qfps, queryParams))

    // 2. point-query throughput: 3M+ abundance probes through the broadcast
    // sketch. Min over trials, same policy as the build phase (trial 1 also
    // pays codegen/JIT warm-up); per-trial wall + GC delta on stderr.
    if (phases("probe")) {
      // 5 trials (was 3): the codegen'd probe path is still JIT-warming at
      // trial 3 (a rehearsal measured 1.06 -> 0.58 -> 0.29 s); trials cost
      // well under a second each once warm, and the min should sample the
      // plateau, not the warm-up slope
      val probeTrials = sys.env.getOrElse("SPARK_GRAFT_PROBE_TRIALS", "5").toInt
      bq // force the (untimed) sketch build before the first trial
      val g0 = gcMs()
      val trials = (1 to probeTrials).map { i =>
        val gt0 = gcMs()
        val (n, sec) = time {
          queryDf.select(explode(qfps).as("fp"))
            .select(bq.abundanceOf(col("fp")).as("a")).filter(col("a") > 0).count()
        }
        System.err.println(f"[bench] probe trial $i: $sec%.2f s (gc ${gcMs() - gt0} ms, ${(n / sec / 1e6)}%.2f M/s)")
        (n, sec)
      }
      nProbes = trials.head._1
      probeSec = trials.map(_._2).min
      results += "point_queries" -> probeSec
      phaseGc += "point_queries" -> (gcMs() - g0)
    }

    // 3. Fimpera sequence-stats throughput
    if (phases("seq")) {
      val g0 = gcMs()
      val (_, seqSec) = time {
        queryDf.select(bq.sequenceStatsOf(col("tokens")).as("st"))
          .filter(col("st.presenceRatio") > 0).count()
      }
      results += "sequence_stats" -> seqSec
      phaseGc += "sequence_stats" -> (gcMs() - g0)
    }

    // 4. operator catalog at the bench scale dir
    if (phases("catalog")) {
      val catalog = SparkEntry.queries.keys.toSeq.sorted
      val gCat0 = gcMs()
      catalog.foreach { name =>
        val fn = SparkEntry.queries(name)
        val g0 = gcMs()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        // a failed query is recorded as -1 (excluded from the total), not as
        // its elapsed-until-failure time
        val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        results += name -> sec
        catalogN += 1
        if (ok) catalogSec += sec else catalogFailed += 1
        // per-query progress on stderr as it completes: a killed run still
        // leaves every finished timing in the log (the final JSON line is
        // all-or-nothing)
        System.err.println(f"[bench] $name%-22s ${sec}%8.2f s (gc ${gcMs() - g0} ms)")
      }
      phaseGc += "catalog" -> (gcMs() - gCat0)
    }

    // 5. false-positive audit at reference scale (the reference's harness
    // probes 1e9 never-inserted k-mers, /root/reference/test/quicktests.cpp
    // :304-338). Probes are hashes of integers — a hash family independent
    // of the inserted k-gram fingerprints, so every reported hit is an
    // aliasing false positive. Two sketches:
    //  - the bench sketch (hashBits=48): the operating point; expected FP
    //    count is ~distinct/2^48 per probe (near zero at 1e8)
    //  - a hashBits=32 stress sketch: measurable FP rate, so the 2^-r
    //    aliasing model is testable with real statistics
    // The bound per sketch is exp + 6*sqrt(exp) + 10 (Poisson tail: the
    // probability of exceeding it is < 1e-8), where
    // exp = probes * distinct / 2^hashBits.
    if (phases("fp")) {
      val fpProbes = sys.env.getOrElse("SPARK_GRAFT_FP_PROBES", "100000000").toLong
      def audit(hashBits: Int, q: BqfQuery): (Long, Long, Long, Double) = {
        val mask = (1L << hashBits) - 1
        val distinct = q.filter.distinctCount
        val (falsePos, sec) = time {
          spark.range(0, fpProbes, 1, cpus)
            .select(q.containsOf(xxhash64(col("id")).bitwiseAND(mask)).as("hit"))
            .filter(col("hit")).count()
        }
        val exp = fpProbes.toDouble * distinct / math.pow(2.0, hashBits)
        val bound = (exp + 6 * math.sqrt(exp) + 10).ceil.toLong
        System.err.println(f"[bench] fp audit hashBits=$hashBits: $falsePos FPs / $fpProbes probes " +
          f"(exp $exp%.1f, bound $bound, $sec%.2f s, ${fpProbes / sec / 1e6}%.1f M probes/s)")
        (falsePos, bound, distinct, sec)
      }
      val g0 = gcMs()
      val (fp48, bound48, distinct48, sec48) = audit(48, bq)
      // stress sketch: same corpus, fingerprints masked to 32 bits
      val stressParams = queryParams.copy(hashBits = 32)
      val sfps = sgram_fingerprints(col("tokens"), stressParams.sTokens, stressParams.hashBits, stressParams.seed)
      val bq32 = new BqfQuery(spark, BqfPipeline.buildGlobal(queryDf, sfps, stressParams))
      val (fp32, bound32, distinct32, sec32) = audit(32, bq32)
      phaseGc += "fp_audit" -> (gcMs() - g0)
      results += "fp_audit" -> (sec48 + sec32)
      // compact on stdout (the driver's ~2.2 KB tail capture is the line
      // budget); per-sketch distinct counts + wall seconds ride in the
      // detail artifact
      fpJson = s""","fp_audit":{"probes":$fpProbes,""" +
        s""""h48":{"fp":$fp48,"bound":$bound48},"h32":{"fp":$fp32,"bound":$bound32}}"""
      // regression tripwire (r6 verdict #6): the audit is fully
      // deterministic (fixed probe hashes, fixed 20k-doc sketch corpus) and
      // has been byte-identical for 13 consecutive runs — any drift at the
      // default probe count means the fingerprint chain, the filter layout,
      // or the query path CHANGED. Warn loudly; flag rides in the headline.
      if (fpProbes == 100000000L && (fp48 != 2L || fp32 != 72313L)) {
        System.err.println(s"[bench] TRIPWIRE: fp audit drifted from committed constants " +
          s"(h48 $fp48 != 2 or h32 $fp32 != 72313) — fingerprint/layout/query change?")
        fpJson += s""","fp_drift":true"""
      }
      detailExtra ++= Seq(
        s""""fp_audit_detail":{"negative_probes":$fpProbes,""" +
        s""""h48":{"false_positives":$fp48,"fp_bound":$bound48,"distinct":$distinct48,"sec":$sec48},""" +
        s""""h32":{"false_positives":$fp32,"fp_bound":$bound32,"distinct":$distinct32,"sec":$sec32}}""")
    }

    // 5b. recall audit for the probabilistic catalog entries, folded into
    // the artifact (VERDICT r4 next-round #7): each approximate operator's
    // answers joined against its exact twin ON THE SAME input —
    // q06 MinHash-LSH pairs vs q05 exact Jaccard pairs, q18 hyperplane-LSH
    // top-3 vs q17 exact top-3, q24 IVF top-3 vs q17. Full methodology in
    // RecallAudit / BENCH/RECALL.md.
    if (phases("recall")) {
      import RecallAudit.ratio
      val g0 = gcMs()
      val (r, recallSec) = time {
        val c = RecallAudit.counts(spark, sfDir)
        (ratio(c.q06Hits, c.exactPairs), ratio(c.q18Hits, c.exactEdges), ratio(c.q24Hits, c.exactEdges))
      }
      results += "recall_audit" -> recallSec
      phaseGc += "recall_audit" -> (gcMs() - g0)
      recallJson = s""","recall":{"q06_vs_q05":${fmt4(r._1)},""" +
        s""""q18_vs_q17":${fmt4(r._2)},"q24_vs_q17":${fmt4(r._3)}}"""
      System.err.println(s"[bench] recall q06=${r._1} q18=${r._2} q24=${r._3} (${recallSec}s)")
    }

    // 5c. streaming-ingest throughput datapoint (VERDICT r4 next-round #6):
    // N micro-batches of fingerprints merged into a persisted sharded store
    // via IndexIngest.ingestBatch — the exact function
    // StreamingOps.indexIngest's foreachBatch invokes per micro-batch
    // (StreamingSpec proves the streaming wiring; this measures its
    // steady-state cost, store merge included) — compared against the
    // one-shot batch build of the same input.
    if (phases("ingest")) {
      import spark.implicits._
      val ingestDocs = sys.env.getOrElse("SPARK_GRAFT_INGEST_ROWS", "20000").toLong
      val ingestBatches = sys.env.getOrElse("SPARK_GRAFT_INGEST_BATCHES", "5").toInt
      val ip = BqfParams(qBits = 16, countBits = 8, hashBits = 48, kTokens = 8, zTokens = 2)
      val ingestBuckets = 32
      val tmpDir = java.nio.file.Files.createTempDirectory("graft-bench-ingest")
      val store = tmpDir.toString + "/store"
      val docsDf = TokensTable.dataframe(spark, ingestDocs, partitions = cpus)
      val ifps = sgram_fingerprints(col("tokens"), ip.sTokens, ip.hashBits, ip.seed)
      // cache the synthetic source: a real stream HANDS each micro-batch its
      // data — without this, every ingestBatch call would re-run the full
      // fingerprint explode over all docs and the "ingest" number would
      // charge N× input generation to the store-merge path being measured
      val allFps = docsDf.select(
        substring(col("doc_id"), 4, 8).cast("long").as("i"), explode(ifps).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nFps = allFps.count()
      val perBatch = (ingestDocs + ingestBatches - 1) / ingestBatches
      val g0 = gcMs()
      // per-batch walls: the steady-state claim (cost flat in store age, not
      // growing) should be visible in the committed artifact, not just in
      // ad-hoc probe logs
      val batchSecs = new Array[Double](ingestBatches)
      val (_, ingestSec) = time {
        (0 until ingestBatches).foreach { b =>
          val lo = b * perBatch; val hi = math.min((b + 1L) * perBatch, ingestDocs)
          val (_, s) = time {
            graft.streaming.IndexIngest.ingestBatch(
              allFps.filter(col("i") >= lo && col("i") < hi).select("fp"),
              batchId = b.toLong, ip, ingestBuckets, store)
          }
          batchSecs(b) = s
        }
      }
      // one-shot batch build of the identical input, same shard count,
      // charged from the SAME cached fingerprints the ingest loop reads —
      // rebuilding from docsDf would bill the baseline for the fingerprint
      // explode the ingest number excludes (asymmetric comparison)
      val (_, buildOnceSec) = time {
        BqfPipeline.buildIndexSorted(allFps, array(col("fp")), ip, ingestBuckets)
          .agg(sum(octet_length(col("sketch")))).head()
      }
      graft.streaming.IndexIngest.compact(spark, store)
      val storeBytes = {
        val p = new org.apache.hadoop.fs.Path(store)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true); var t = 0L
        while (it.hasNext) t += it.next().getLen
        t
      }
      results += "ingest" -> ingestSec
      phaseGc += "ingest" -> (gcMs() - g0)
      ingestJson = s""","ingest":{"fps":$nFps,"batches":$ingestBatches,""" +
        s""""sec":${fmt4(ingestSec)},"fps_per_sec":${(nFps / ingestSec).toLong},""" +
        s""""batch_build_fps_per_sec":${(nFps / buildOnceSec).toLong},""" +
        s""""first_batch_sec":${fmt4(batchSecs.head)},""" +
        s""""last_batch_sec":${fmt4(batchSecs.last)},""" +
        s""""store_mb_after_compact":${storeBytes / (1024 * 1024)}}"""
      detailExtra += s""""ingest_batch_secs":[${batchSecs.map(fmt4).mkString(",")}]"""
      System.err.println(f"[bench] ingest: $nFps fps / $ingestBatches batches in $ingestSec%.1f s " +
        f"(${nFps / ingestSec / 1e6}%.2f M/s vs one-shot ${nFps / buildOnceSec / 1e6}%.2f M/s)")

      // SKEWED-input datapoint (r5 verdict #5): the uniform loop above is
      // the worst case — random fingerprints touch EVERY bucket every
      // batch, so each micro-batch re-merges the whole store. Real corpora
      // (time-ordered crawls, per-source shards) concentrate each batch in
      // a subset of the keyspace. A paired experiment with IDENTICAL batch
      // count and sizes (only the bucket spread differs): CONTROL slices
      // the doc range (uniform fps — every batch touches all buckets);
      // SKEWED slices the fingerprint range (each batch touches 1/8 of
      // buckets). Store-side pruning shows directly in parquet bytes read
      // per batch (StageMetrics input bytes: the fp cache is memory-
      // resident, so file input here is almost entirely the store scan).
      val skewBatches = 8
      val shift = ip.hashBits - java.lang.Integer.numberOfTrailingZeros(ingestBuckets)
      val perSlice = ingestBuckets / skewBatches
      val perDoc8 = (ingestDocs + skewBatches - 1) / skewBatches
      val sm = graft.plans.StageMetrics.attach(spark)
      def inputBytes(): Long = sm.all.map(_.inputBytes).sum
      def ingestSeries(slice: Int => org.apache.spark.sql.DataFrame, storePath: String)
          : (Array[Double], Array[Long], Double) = {
        val secs = new Array[Double](skewBatches)
        val bytes = new Array[Long](skewBatches)
        (0 until skewBatches).foreach { b =>
          val b0 = inputBytes()
          val (_, s) = time {
            graft.streaming.IndexIngest.ingestBatch(
              slice(b), batchId = b.toLong, ip, ingestBuckets, storePath)
          }
          // listener events post async on the bus; a short drain keeps each
          // batch's byte delta from bleeding into the next (outside the
          // timed window — total is the sum of measured batch walls)
          Thread.sleep(150)
          secs(b) = s; bytes(b) = inputBytes() - b0
        }
        (secs, bytes, secs.sum)
      }
      val gS = gcMs()
      val (ctlSecs, ctlBytes, ctlSec) = ingestSeries(
        b => allFps.filter(col("i") >= b * perDoc8 &&
          col("i") < math.min((b + 1L) * perDoc8, ingestDocs)).select("fp"),
        tmpDir.toString + "/store-ctl")
      val (skewSecs, skewBytes, skewSec) = ingestSeries(
        b => allFps.filter(shiftrightunsigned(col("fp"), shift)
          .between(b * perSlice, (b + 1) * perSlice - 1)).select("fp"),
        tmpDir.toString + "/store-skew")
      sm.detach(spark)
      phaseGc += "ingest_skewed" -> (gcMs() - gS)
      results += "ingest_skewed" -> skewSec
      // STORE-read isolation: raw stage input bytes are dominated by a
      // constant per-batch term — the fp cache re-read (cached-block reads
      // count toward task inputMetrics) plus the merge-side partials cache —
      // identical in both series because batch sizes are identical. Batch 0
      // runs against an ABSENT store, so its bytes ARE that constant;
      // subtracting it per series leaves just the live-store scan, which is
      // the quantity the touched-bucket pruning bounds. Raw per-batch
      // arrays ride in the detail artifact for recomputation. (r6 rehearsal
      // 3, pre-subtraction: constant ~30.7 MB/batch swamped a 4.26 MB-vs-
      // 0.56 MB store-read difference — a 7.6x pruning win at 1/8 touched,
      // invisible in the raw sums.)
      def storeEst(bytes: Array[Long]): Long =
        bytes.drop(1).map(b => math.max(0L, b - bytes.head)).sum
      ingestJson += s""","ingest_skewed":{"fps":$nFps,"batches":$skewBatches,""" +
        s""""touched_bucket_frac":${fmt4(perSlice.toDouble / ingestBuckets)},""" +
        s""""sec":${fmt4(skewSec)},"fps_per_sec":${(nFps / skewSec).toLong},""" +
        s""""store_bytes_read":${storeEst(skewBytes)},""" +
        s""""control_sec":${fmt4(ctlSec)},"control_fps_per_sec":${(nFps / ctlSec).toLong},""" +
        s""""control_store_bytes_read":${storeEst(ctlBytes)}}"""
      detailExtra += s""""ingest_skewed_batch_secs":[${skewSecs.map(fmt4).mkString(",")}],""" +
        s""""ingest_skewed_batch_bytes":[${skewBytes.mkString(",")}],""" +
        s""""ingest_control_batch_secs":[${ctlSecs.map(fmt4).mkString(",")}],""" +
        s""""ingest_control_batch_bytes":[${ctlBytes.mkString(",")}]"""
      System.err.println(f"[bench] ingest skewed: $nFps fps / $skewBatches range-batches in $skewSec%.1f s " +
        f"(${nFps / skewSec / 1e6}%.2f M/s, ${perSlice.toDouble / ingestBuckets}%.3f of buckets per batch; " +
        f"store bytes skew ${storeEst(skewBytes) / 1e6}%.2f MB vs control ${storeEst(ctlBytes) / 1e6}%.2f MB)")
      allFps.unpersist(blocking = false)
      org.apache.commons.io.FileUtils.deleteDirectory(tmpDir.toFile)
    }

    // 6. scaling evidence (north rule: N -> 4N at >= 0.8). Two series, each
    // measurement a fresh GC-pinned, executor-sized JVM:
    //   (a) end-to-end: the full Spark job (same input, same FIXED shard
    //       count) at 1/2/4 local cores. e2e stops at 4: nproc=32 was SMT on
    //       ~16 cores and the time-shared microVM sustains ~8-10 — beyond
    //       that a thread curve measures the host, not the library.
    //   (b) core: the reduce-side kernel (independent shard builds:
    //       generate -> radix sort -> canonical construction) with plain
    //       threads at each power of two up to the session's cores
    //       (SPARK_GRAFT_CORE_CPUS overrides) — the library's own scaling, no Spark
    //       machinery; on a real cluster the per-executor picture.
    // Both series run through one sweep loop (sweepSeries) and report one
    // estimator, medianPairEff: each sweep measures every level back to
    // back in one host window and yields ONE paired observation of the
    // c1->c2 ratio; the median over sweeps is immune to a single-window
    // outlier in EITHER direction (this host drifts 2-2.5x mid-sweep: a
    // disturbed small-core endpoint inflates a ratio, a disturbed
    // large-core endpoint deflates it). Stdout efficiencies are capped at
    // 1.0; the detail artifact carries the uncapped values AND every raw
    // sweep, so any other estimator can be recomputed.
    if (phases("scaling")) {
      // 2.4M docs (~372M k-grams): sized so the PARALLEL work dominates the
      // per-job serial floor (session-warm scheduling + final agg + commit,
      // ~4-10 s on this host); at 600k rows level-1 was only ~39 s against
      // a ~6-9 s floor, Amdahl-capping 1->4 near 0.7.
      val scaleRows = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "2400000").toLong
      val e2eLevels = sys.env.getOrElse("SPARK_GRAFT_SCALE_CPUS", "1,2,4")
        .split(",").map(_.trim.toInt).distinct.sorted
      val coreLevels = sys.env.get("SPARK_GRAFT_CORE_CPUS").fold(coreLevelsFor(cpus).toArray)(
        _.split(",").map(_.trim.toInt)).distinct.sorted
      val coreTrials = sys.env.getOrElse("SPARK_GRAFT_CORE_TRIALS", "4").toInt
      val scaleTrials = sys.env.getOrElse("SPARK_GRAFT_SCALE_TRIALS", "5").toInt
      val levels = (e2eLevels ++ coreLevels).distinct.sorted

      // min-per-level feeds only the levels tables and kgrams_per_sec_N
      def minLevel(ss: Seq[Map[Int, Double]]): Map[Int, Double] =
        levels.flatMap { c =>
          val v = ss.flatMap(_.get(c)); if (v.isEmpty) None else Some(c -> v.min)
        }.toMap
      def quadPairsOf(ls: Array[Int]): Seq[(Int, Int)] =
        ls.filter(c => ls.contains(c * 4)).map(c => c -> c * 4).toSeq
      // stdout e2e pairs: the N->4N obligation (1->4) PLUS the adjacent
      // doubling pairs (1->2, 2->4)
      val coreQuads = quadPairsOf(coreLevels)
      val e2eQuads = quadPairsOf(e2eLevels)
      val e2ePairs = (e2eQuads ++ e2eLevels.sliding(2).collect { case Array(c1, c2) => c1 -> c2 })
        .distinct.sorted
      def pairsJson(ss: Seq[Map[Int, Double]], pairs: Seq[(Int, Int)], cap: Double) =
        pairs.map { case (c1, c2) =>
          "\"" + c1 + "->" + c2 + "\":" +
            medianPairEff(ss, c1, c2).map(e => fmt4(math.min(e, cap))).getOrElse("null")
        }.mkString("{", ",", "}")
      def lvlJson(m: Map[Int, Double]) =
        levels.flatMap(c => m.get(c).map(v => "\"" + c + "\":" + v)).mkString("{", ",", "}")
      def sweepsJson(ss: Seq[Map[Int, Double]]) = ss.map(lvlJson).mkString("[", ",", "]")

      // sweeps accumulate INCREMENTALLY: the scaling JSON (stdout object +
      // detail entry) re-renders after EVERY fork, so an abort or budget
      // stop mid-scaling still emits every completed measurement
      val e2eSweeps = scala.collection.mutable.ArrayBuffer.empty[Map[Int, Double]]
      val coreSweeps = scala.collection.mutable.ArrayBuffer.empty[Map[Int, Double]]
      var scaleKgrams = 0L
      var budgetStop = false // sticky: some fork was refused by the budget gate
      var scalingDetailIdx = -1
      def renderScaling(): Unit = {
        val e2e = minLevel(e2eSweeps.toSeq)
        val top = e2eLevels.max
        val kps =
          if (scaleKgrams > 0 && e2e.contains(top))
            s""","kgrams_per_sec_$top":${(scaleKgrams / e2e(top)).toLong}""" else ""
        val stopJson = if (budgetStop) ""","budget_stop":true""" else ""
        scalingJson = s""","scaling":{"rows":$scaleRows,"method":"median-sweep-pair","cap":1,""" +
          s""""efficiency":${pairsJson(e2eSweeps.toSeq, e2ePairs, 1.0)},""" +
          s""""core_efficiency":${pairsJson(coreSweeps.toSeq, coreQuads, 1.0)}$kps$stopJson}"""
        val det =
          s""""scaling_detail":{"rows":$scaleRows,"levels":${lvlJson(e2e)},""" +
          s""""kgrams_per_sec":${e2eLevels.flatMap(c => e2e.get(c).map(v => "\"" + c + "\":" + (scaleKgrams / v).toLong)).mkString("{", ",", "}")},""" +
          s""""efficiency_medianpair":${pairsJson(e2eSweeps.toSeq, e2ePairs, Double.MaxValue)},""" +
          s""""core_levels":${lvlJson(minLevel(coreSweeps.toSeq))},""" +
          s""""core_efficiency_medianpair":${pairsJson(coreSweeps.toSeq, coreQuads, Double.MaxValue)},""" +
          s""""core_sweeps":${sweepsJson(coreSweeps.toSeq)},"e2e_sweeps":${sweepsJson(e2eSweeps.toSeq)}}"""
        if (scalingDetailIdx < 0) { scalingDetailIdx = detailExtra.length; detailExtra += det }
        else detailExtra(scalingDetailIdx) = det
      }

      // Budget gate: per-(series, level) CAPABILITY estimates (the best
      // observed fork, else an inverse-linear extrapolation from another
      // level of the same series); a fork runs only while the remaining
      // budget covers 1.5x its estimate plus an emission reserve. A level
      // that does not fit is skipped (a partial sweep is fine: the
      // estimator skips sweeps missing an endpoint); the series stops when
      // its CHEAPEST level (the highest core count) no longer fits.
      val reserveSec = 60.0
      val estWall = scala.collection.mutable.Map.empty[(String, Int), Double]
      def sweepSeries(series: String, ls: Array[Int], trials: Int,
                      sweeps: scala.collection.mutable.ArrayBuffer[Map[Int, Double]],
                      fork: Int => ForkTime): Unit = {
        def gate(c: Int): Boolean = {
          val e = estimateWall(estWall, series, c)
          val ok = fits(remainingSec(), e, reserveSec)
          if (!ok) {
            budgetStop = true
            System.err.println(f"[bench] budget ${if (c == ls.max) "stop" else "skip"} before $series@$c: " +
              f"${remainingSec()}%.0f s left <= est $e%.0f s * 1.5 + $reserveSec%.0f s reserve")
          }
          ok
        }
        // Discarded warm-up at the cheapest level: sweep 0 was uniformly
        // 1.5-3x slow in every rehearsal (cold host: CPU frequency and
        // hypervisor credit spin-up, first pretouch), so as a calibration
        // observation it enters at half weight and no estimator sees it.
        if (!gate(ls.max)) return
        val warm = fork(ls.max)
        estWall((series, ls.max)) = warm.wallSec * 0.5
        System.err.println(f"[bench] scaling warm-up (discarded): $series@${ls.max} ${warm.sec}%.1f s " +
          f"(wall ${warm.wallSec}%.1f s)")
        // Levels run PAIR-FIRST, CHEAP ENDPOINT FIRST: the N->4N endpoints
        // (max level, then min level) before any middle level, so a budget
        // death mid-sweep strands the cheap fork, not the expensive one.
        val order = Array(ls.max, ls.min).distinct ++ ls.filterNot(c => c == ls.max || c == ls.min)
        var t = 1
        var stop = false
        while (t <= trials && !stop) {
          sweeps += Map.empty
          order.foreach { c =>
            if (!stop) {
              if (gate(c)) {
                val t = fork(c)
                observe(estWall, series, c, t)
                sweeps(sweeps.length - 1) += c -> t.sec
                renderScaling()
              } else if (c == ls.max) stop = true
            }
          }
          val done = sweeps.last
          if (done.isEmpty) sweeps.remove(sweeps.length - 1)
          else System.err.println(s"[bench] $series sweep $t/$trials: " +
            ls.flatMap(c => done.get(c).map(v => s"$c=${fmt4(v)}s")).mkString(" "))
          t += 1
        }
      }

      // e2e FIRST: it is the named north-rule obligation, core is
      // supplementary, so the pair draws on the freshest budget.
      sweepSeries("e2e", e2eLevels, scaleTrials, e2eSweeps, { c =>
        val (t, kg, _) = buildFork(c, scaleRows, nBuckets, heap)
        scaleKgrams = kg
        t
      })
      sweepSeries("core", coreLevels, coreTrials, coreSweeps, coreFork(_, heap))
      renderScaling()
    }

    emitArtifact(aborted = false)
    spark.stop()
  }
}
