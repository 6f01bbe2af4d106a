package perfbench

import graft.core.{BackpackFilter, CountMode}
import graft.operators.{BqfQuery, SketchAggregators}
import graft.streaming.IndexIngest
import org.apache.spark.sql.functions._
import scala.collection.mutable.LinkedHashMap

/** What the layer suite measures on: the workload's tokens table, of which
  * docs 0 until `nDocs` are in `sketch`, and all fingerprints of those docs.
  */
final case class LayerInputs(docs: String, nDocs: Int, entries: Array[Long], sketch: Array[Byte])

/** The traced run's per-layer numbers. After the workload's loop, each
  * public layer call the loop did not make runs on a slice of the
  * workload's data, and the single-thread core kernels and the broadcast
  * query operators run on its fingerprints and sketch, their answers
  * checked against an oracle of those fingerprints. Every metric is then
  * defined on every workload; where the loop made a call, its spans give
  * the number.
  */
final class Layers(ctx: Ctx, w: Workload) {
  import ctx.{spark, trace, params}
  import spark.implicits._
  private val Reps = 2
  private val SliceDocs = 1500
  private val SliceBuckets = 8
  private val SeqDocs = 2000
  private val ops = new Ops(ctx)
  private val out = LinkedHashMap.empty[String, (Double, String)]
  private val in = w.layerInputs()

  /** Median seconds of `Reps` checked calls of `f`, each its own op (so its
    * stages are attributed to it) inside span `name`; NaN if all failed.
    */
  private def measure[A](name: String, work: Int => Long = _ => 0L, op: String = null)(f: Int => A)(
      check: A => Seq[String] = (_: A) => Nil): Double = {
    val secs = (0 until Reps).flatMap { rep =>
      var sec = 0.0
      ctx.op(s"layer:${Option(op).getOrElse(name)}", work(rep)) {
        val t0 = System.nanoTime()
        val a = trace.span(name)(f(rep))
        sec = (System.nanoTime() - t0) / 1e9
        a
      }(check).map(_ => sec)
    }
    Stats.median(secs)
  }

  private val loopOps = ctx.ops.indices.filter(i => ctx.ops(i).measured && ctx.ops(i).traced).toSet

  /** Median span seconds of `name` in the loop, else of suite calls. */
  private def call(name: String, work: Int => Long = _ => 0L, op: String = null)(f: Int => Any): Double = {
    val s = trace.allSpans.filter(s => s.name == name && loopOps(s.op))
    if (s.nonEmpty) Stats.median(s.map(_.seconds)) else measure(name, work, op)(f)()
  }

  def run(): Unit = {
    val n = in.entries.length
    val oracle = Oracle(1, _ => Iterator(in.entries), in.entries)
    val expected = (n.toLong, oracle.probeSum(0), oracle.probeHits(0))
    val rnd = new java.util.Random(ctx.seed)
    val hits = in.entries.clone()
    for (i <- hits.indices.reverse) { val j = rnd.nextInt(i + 1); val t = hits(i); hits(i) = hits(j); hits(j) = t }
    val misses = Array.fill(n)(rnd.nextLong() & ((1L << params.hashBits) - 1)).filter(oracle.count(_) == 0)
    val docIds = (0 until math.min(in.nDocs, SeqDocs)).map(i => f"doc$i%08d").toSet
    val docs = spark.read.parquet(in.docs).filter(col("doc_id").isin(docIds.toSeq: _*))
      .select("doc_id", "tokens").as[(String, Array[Int])].collect()
    val expectedSeq = docs.map { case (id, t) => id -> oracle.sequenceStats(t) }.toMap
    def seqCheck(got: Map[String, (Long, Long, Double, Double)]) = Checks.sequenceStats(got, expectedSeq, docIds)

    // core: single thread, no Spark
    out += "core.from_entries_per_s" -> (n / measure("core.fromEntries")(_ => BackpackFilter.fromEntries(
      7, params.countBits, params.hashBits, CountMode.Exact, params.kTokens, params.zTokens, params.seed,
      in.entries, null, n))(f => Checks.equal("fromEntries distinct", oracle.distinct(0), f.distinctCount)), "1/s")
    out += "core.add_per_s" -> (n / measure("core.add") { _ =>
      val f = params.fresh()
      var i = 0
      while (i < n) { f.add(in.entries(i)); i += 1 }
      f
    }(f => Checks.equal("add distinct", oracle.distinct(0), f.distinctCount)), "1/s")
    val parts = in.entries.grouped((n + 7) / 8).map(p => BackpackFilter.fromEntries(7, params.countBits,
      params.hashBits, CountMode.Exact, params.kTokens, params.zTokens, params.seed, p, null, p.length)).toSeq
    out += "core.merge_all_entries_per_s" -> (n / measure("core.mergeAll")(_ => BackpackFilter.mergeAll(parts))(
      f => Checks.equal("mergeAll distinct", oracle.distinct(0), f.distinctCount)), "1/s")
    val sketch = BackpackFilter.deserialize(in.sketch)
    val blobMb = in.sketch.length / 1e6
    out += "core.serialize_mb_per_s" -> (blobMb / measure("core.serialize")(_ => sketch.serialize())(
      b => Checks.equal("serialize round trip", true, java.util.Arrays.equals(b, in.sketch))), "MB/s")
    out += "core.deserialize_mb_per_s" -> (blobMb / measure("core.deserialize")(_ =>
      BackpackFilter.deserialize(in.sketch))(f => Checks.equal("deserialize distinct", oracle.distinct(0), f.distinctCount)), "MB/s")
    def probeAll(fps: Array[Long]): Long = { var s = 0L; var i = 0; while (i < fps.length) { s += sketch.abundance(fps(i)); i += 1 }; s }
    out += "core.abundance_hit_per_s" -> (n / measure("core.abundance", op = "core.abundance.hit")(_ => probeAll(hits))(
      Checks.equal("hit answer sum", oracle.probeSum(0), _)), "1/s")
    out += "core.abundance_miss_per_s" -> (misses.length / measure("core.abundance", op = "core.abundance.miss")(_ =>
      probeAll(misses))(Checks.equal("miss answer sum", 0L, _)), "1/s")
    out += "core.sequence_stats_docs_per_s" -> (docs.length / measure("core.sequenceStats")(_ =>
      docs.map { case (id, t) => val s = sketch.sequenceStats(t); id -> (s.minimum, s.maximum, s.average, s.presenceRatio) }.toMap)(
      seqCheck), "1/s")

    // functions: a fingerprint-only pass over the docs in the sketch
    val inSketch = spark.read.parquet(in.docs).filter(substring(col("doc_id"), 4, 8).cast("long") < in.nDocs)
    out += "functions.sgram_fingerprints_kgrams_per_s" -> (n / measure("functions.sgram_fingerprints")(_ =>
      inSketch.select(sum(size(ops.fps))).head().getLong(0))(Checks.equal("fingerprints", n.toLong, _)), "1/s")

    // operators: broadcast set-up, probes over cached fingerprints, sequence
    // stats, UDAF partials
    val cached = spark.sparkContext.parallelize(in.entries.toSeq, 4 * ctx.nproc).toDF("fp").cache()
    cached.count()
    var bq: BqfQuery = null
    out += "operators.sketch_broadcast_s" -> (measure("operators.BqfQuery") { _ =>
      if (bq != null) bq.unpersist()
      bq = new BqfQuery(spark, in.sketch)
      spark.range(1).select(bq.abundanceOf(lit(0L))).head().getLong(0)
    }(Checks.equal("broadcast probe of 0", oracle.count(0L), _)), "s")
    out += "operators.abundance_fps_per_s" -> (n / measure("operators.abundanceOf")(_ =>
      ops.probeSums(cached.select(bq.abundanceOf(col("fp")).as("a")), "a"))(
      Checks.probes("broadcast probes", expected._1, expected._2, expected._3, _)), "1/s")
    out += "operators.sequence_stats_docs_per_s" -> (docs.length / measure("operators.sequenceStatsOf")(_ =>
      inSketch.filter(col("doc_id").isin(docIds.toSeq: _*))
        .select(col("doc_id"), bq.sequenceStatsOf(col("tokens")).as("st"))
        .select("doc_id", "st.minimum", "st.maximum", "st.average", "st.presenceRatio").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap)(
      seqCheck), "1/s")
    bq.unpersist()
    cached.unpersist()
    val slice = ctx.path("layers", "slice.parquet")
    inSketch.limit(SliceDocs).write.parquet(slice)
    val udaf = SketchAggregators.bqfOverFingerprintArrays(params)
    out += "operators.udaf_stage_run_s" -> (measure("operators.bqfOverFingerprintArrays")(_ =>
      spark.read.parquet(slice).groupBy(pmod(xxhash64(col("doc_id")), lit(SliceBuckets)))
        .agg(udaf(ops.fps)).write.format("noop").mode("overwrite").save())(), "s")

    // plans
    val store = ctx.path("layers", "index")
    out += "plans.build_index_s" -> (call("plans.buildIndexSorted")(_ => ops.buildIndex(slice, store, SliceBuckets)), "s")
    out += "plans.build_sharded_s" -> (call("plans.buildSharded")(_ => ops.buildSharded(slice, SliceBuckets)), "s")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(store))) ops.buildIndex(slice, store, SliceBuckets)
    out += "plans.query_index_s" -> (call("plans.queryIndex")(_ =>
      ops.queryIndex(spark.read.parquet(store), ops.explodedFps(slice), SliceBuckets)), "s")

    // streaming: a short ingest of the slice into a fresh store
    val fpsDir = ctx.path("layers", "fps")
    ops.explodedFps(slice).withColumn("batch", (rand(ctx.seed) * Reps).cast("int"))
      .write.partitionBy("batch").parquet(fpsDir)
    val batchFps = (0 until Reps).map(b => spark.read.parquet(s"$fpsDir/batch=$b").count())
    val ingestStore = ctx.path("layers", "store")
    def ingest(id: Int): Unit = IndexIngest.ingestBatch(
      spark.read.parquet(s"$fpsDir/batch=$id"), id, params, SliceBuckets, ingestStore)
    out += "streaming.ingest_batch_s" -> (call("streaming.ingestBatch", batchFps)(ingest), "s")
    // when the loop made the ingest calls, the other calls still need a store
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(ingestStore))) (0 until Reps).foreach(ingest)
    out += "streaming.current_shards_s" -> (call("streaming.currentShards")(_ =>
      IndexIngest.currentShards(spark, ingestStore)), "s")
    out += "streaming.compact_s" -> (call("streaming.compact")(_ => IndexIngest.compact(spark, ingestStore)), "s")
    val replays = ctx.times("replay", Some(true))
    out += "streaming.replay_noop_s" -> (if (replays.nonEmpty) Stats.median(replays)
      else measure("streaming.ingestBatch", op = "replay")(_ => ingest(0))(), "s")
  }

  def metrics(): Seq[(String, (Double, String))] = {
    val stages = trace.allStages
    val loopStages = stages.filter(s => loopOps(s.op))
    val nOps = loopOps.size.toDouble
    val wallMs = loopOps.iterator.map(ctx.ops(_).seconds * 1e3).sum
    val skew = loopStages.filter(_.taskRunMs.size >= ctx.nproc).map { s =>
      s.taskRunMs.max / math.max(1.0, Stats.median(s.taskRunMs.map(_.toDouble)))
    }
    // the last stage of each loop op: for the sketch build, the single-task
    // fold (means, not medians: stage times come in whole milliseconds)
    val finalStages = loopStages.groupBy(_.op).values.map(_.maxBy(_.stageId).wallMs / 1e3).toSeq
    out += "plans.final_stage_s" -> (finalStages.sum / finalStages.size, "s")
    out += "plans.shuffle_write_bytes" -> (loopStages.map(_.shuffleWrite).sum / nOps, "B")
    out += "plans.shuffle_read_bytes" -> (loopStages.map(_.shuffleRead).sum / nOps, "B")
    out += "plans.spill_bytes" -> (loopStages.map(_.spill).sum / nOps, "B")
    out += "plans.cpu_busy_frac" -> (loopStages.flatMap(_.taskRunMs).sum / (wallMs * ctx.nproc), "frac")
    out += "plans.task_max_over_median" -> (skew.sum / skew.size, "ratio")

    // store traffic per ingested fingerprint (write amplification), over the
    // traced ingest calls whose batch size is known: the loop's, else the suite's
    val ingestOps = trace.allSpans.filter(_.name == "streaming.ingestBatch").map(_.op).toSet
      .filter(i => ctx.ops(i).work > 0 && ctx.ops(i).traced)
    val ingestStages = stages.filter(s => ingestOps(s.op))
    val ingestFps = ingestOps.iterator.map(ctx.ops(_).work).sum.toDouble
    out += "streaming.store_bytes_read_per_fp" -> (ingestStages.map(_.input).sum / ingestFps, "B")
    out += "streaming.store_bytes_written_per_fp" -> (ingestStages.map(_.output).sum / ingestFps, "B")

    // over every traced op, suite included: loop ops alone can see no collection
    val traced = ctx.ops.filter(_.traced)
    out += "jvm.gc_s" -> (traced.map(_.gcMs).sum / 1e3 / traced.size, "s")
    // the loop's first op kind, traced steps against untraced ones
    val kind = ctx.ops.find(_.measured).get.kind
    out += "trace.overhead_frac" -> (Stats.median(ctx.times(kind, Some(true))) /
      Stats.median(ctx.times(kind, Some(false))) - 1, "frac")
    val self = trace.selfSeconds
    Seq("core", "functions", "operators", "plans", "streaming", "op").foreach { m =>
      out += s"self.${m}_s" -> (trace.allSpans.filter(_.name.startsWith(m + ".")).map(s => self(s.id)).sum, "s")
    }
    out.toSeq
  }
}
