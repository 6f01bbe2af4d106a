package perfbench

import graft.core.BackpackFilter
import graft.functions.GraftFunctions.sgram_fingerprints
import graft.plans.BqfPipeline
import graft.streaming.IndexIngest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._

/** Calls into the program shared by the workloads, each inside its span. */
final class Ops(ctx: Ctx) {
  import ctx.{spark, trace, params}
  import spark.implicits._

  def fps: Column = trace.span("functions.sgram_fingerprints") {
    sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
  }

  /** The FIXTURES §1 tokens table of docs 0 until n, written as parquet. */
  def writeDocs(path: String, n: Int, doc: Long => Doc): Unit =
    spark.range(0, n, 1, ctx.nproc).map(i => doc(i)).write.parquet(path)

  /** The oracle's fingerprints of docs 0 until n, computed in parallel. */
  def docFps(n: Int, tokens: Int => Array[Int]): Array[Array[Long]] =
    (0 until n).par.map(i => Shape.fps(tokens(i))).toArray

  /** The `build-index` verb's shape: sorted index build, persisted with its
    * routing sidecar.
    */
  def buildIndex(corpus: String, store: String, nBuckets: Int): Unit = {
    val f = fps
    trace.span("plans.buildIndexSorted") {
      BqfPipeline.buildIndexSorted(spark.read.parquet(corpus), f, params, nBuckets)
        .write.mode("overwrite").parquet(store)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(store, "_graft_index.json"),
      s"""{"nBuckets":$nBuckets,"qBits":${params.qBits},"countBits":${params.countBits},""" +
        s""""hashBits":${params.hashBits},"kTokens":${params.kTokens},"zTokens":${params.zTokens},"seed":${params.seed}}""")
  }

  /** The `build` verb's shape: UDAF partials per doc bucket, then treeMerge. */
  def buildSharded(corpus: String, nBuckets: Int): Array[Byte] = {
    val f = fps
    trace.span("plans.buildSharded") {
      BqfPipeline.buildSharded(spark.read.parquet(corpus), f, col("doc_id"), params, nBuckets)
    }
  }

  def readShards(shards: DataFrame): Seq[(Long, Array[Byte])] =
    shards.select("bucket", "sketch").as[(Long, Array[Byte])].collect().toSeq.sortBy(_._1)

  /** (probes answered, sum of answers, answers > 0) of an abundance column. */
  def probeSums(answers: DataFrame, answer: String): (Long, Long, Long) = {
    val r = answers.agg(count(lit(1)), coalesce(sum(col(answer)), lit(0L)),
      count(when(col(answer) > 0, 1))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def queryIndex(shards: DataFrame, probes: DataFrame, nBuckets: Int): (Long, Long, Long) =
    trace.span("plans.queryIndex") {
      probeSums(BqfPipeline.queryIndex(shards, probes, params, nBuckets), "abundance")
    }

  def explodedFps(docs: String): DataFrame = {
    val f = fps
    spark.read.parquet(docs).select(explode(f).as("fp"))
  }
}

object Sizes {
  /** Docs that repeat a hot row, per thousand, and the hot pool size: enough
    * repeats to push hot counters past the 5-bit counter's saturation.
    */
  val HotPermille = 20
  val NHot = 16
  /** Minimum ops of each kind in a run, whatever `--seconds` says; failed
    * ops count, so a broken program cannot keep the loop going.
    */
  val MinSamples = 5
}

/** Repeated full builds of one corpus through both public build paths. */
final class BuildWorkload(ctx: Ctx, NDocs: Int = 6000) extends Workload {
  import ctx.{spark, seed}
  val IndexBuckets = 32
  val ShardedBuckets = 64
  private val ops = new Ops(ctx)
  private var corpus, store: String = _
  private var oracle: Oracle = _
  private var allFps: Array[Long] = _
  private var storeBytes = 0L
  private var blob: Array[Byte] = _
  private val indexHash = new Checks.SameHash("index store")
  private val blobHash = new Checks.SameHash("sketch blob")

  def prepare(rep: Int): Unit = {
    val d = ctx.path(s"setup$rep")
    if (rep > 1) ctx.deleteTree(ctx.path(s"setup${rep - 1}"))
    corpus = s"$d/corpus.parquet"
    store = s"$d/index"
    val sd = seed // closures shipped to Spark capture locals only
    val row = (i: Long) => Gen.corpusRow(sd, i, Sizes.HotPermille, Sizes.NHot)
    ctx.phase("write docs")(ops.writeDocs(corpus, NDocs, i => Doc.of(sd, i, row(i))))
    val docFps = ctx.phase("oracle fps")(ops.docFps(NDocs, i => Gen.tokens(sd, row(i))))
    oracle = ctx.phase("oracle")(Oracle(1, _ => docFps.iterator, Array.emptyLongArray))
    allFps = docFps.flatten
  }

  /** Build times fall steeply for about five steps while the JIT compiles
    * the hot paths, then slowly.
    */
  def warmUp(): Unit = (1 to 5).foreach(_ => step())

  private def indexBuild(): Unit =
    ctx.op("index_build", allFps.length)(ops.buildIndex(corpus, store, IndexBuckets)) { _ =>
      val shards = ops.readShards(spark.read.parquet(store))
      storeBytes = ctx.storeBytes(store)
      Checks.store("index", Checks.contents(shards, IndexBuckets), oracle.distinct(0), oracle.satTotal(0)) ++
        indexHash(shards.flatMap { case (b, s) => Seq(BigInt(b).toByteArray, s) }: _*)
    }

  private def sketchBuild(): Unit =
    ctx.op("sketch_build", allFps.length)(ops.buildSharded(corpus, ShardedBuckets)) { b =>
      blob = b
      Checks.store("sketch", Checks.contents(Seq(0L -> b), 1), oracle.distinct(0), oracle.satTotal(0)) ++
        blobHash(b)
    }

  def step(): Unit = { indexBuild(); sketchBuild() }

  def enoughSamples: Boolean =
    ctx.attempts("index_build") >= Sizes.MinSamples && ctx.attempts("sketch_build") >= Sizes.MinSamples

  def endToEnd(): Seq[(String, (Double, String))] = {
    val ib = ctx.times("index_build"); val sb = ctx.times("sketch_build")
    Seq(
      "index_bytes_per_distinct" -> (storeBytes.toDouble / oracle.distinct(0), "B"),
      "fps_per_s" -> (2.0 * allFps.length / (Stats.median(ib) + Stats.median(sb)), "fp/s"),
      "primary_op_s" -> (Stats.median(ib), "s"),
      "secondary_op_s" -> (Stats.median(sb), "s"))
  }

  def named(): Seq[(String, Double)] = {
    val ib = ctx.times("index_build"); val sb = ctx.times("sketch_build")
    if (ib.isEmpty || sb.isEmpty) Nil
    else Seq("index_build_kgrams_per_s" -> allFps.length / Stats.median(ib),
      "sketch_build_kgrams_per_s" -> allFps.length / Stats.median(sb),
      "kgrams" -> allFps.length.toDouble, "distinct" -> oracle.distinct(0).toDouble,
      "index_build_n" -> ib.size.toDouble, "sketch_build_n" -> sb.size.toDouble)
  }

  def layerInputs(): LayerInputs = LayerInputs(corpus, NDocs, allFps, blob)
}

/** A stream of micro-batches merged into a persisted sharded store, with
  * live probes after every batch.
  */
final class IngestWorkload(ctx: Ctx, DocsPerBatch: Int = 500) extends Workload {
  import ctx.{spark, seed, params}
  import spark.implicits._
  /** Batches of one pass, which ingests batches 0 until `Batches` into a
    * fresh store. Set-up's warm-up makes the first `CompactEvery` of the
    * first pass and the loop the rest, so every run's loop ingests the same
    * batch ids into the same store; a loop that outlasts its pass runs whole
    * passes more.
    */
  val Batches = 9
  val Buckets = 32
  val CompactEvery = 3
  /** The batch replayed once per pass, right after it committed: the
    * loop's first.
    */
  val ReplayAt = 3
  val NProbeDocs = 400
  private val ops = new Ops(ctx)
  private var docs, fpsDir, probes: String = _
  private var oracle: Oracle = _
  private var docFps: Array[Array[Long]] = _
  private var nProbes = 0L
  private var pass = 0
  private var b = 0
  private var store: String = _
  /** Store bytes per distinct fingerprint right after the first pass's
    * first compaction, in set-up: the same point in every run.
    */
  private var bytesPerDistinct = Double.NaN

  def prepare(rep: Int): Unit = {
    val d = ctx.path(s"setup$rep")
    if (rep > 1) ctx.deleteTree(ctx.path(s"setup${rep - 1}"))
    docs = s"$d/docs.parquet"
    fpsDir = s"$d/fps"
    probes = s"$d/probes.parquet"
    val nDocs = Batches * DocsPerBatch
    val sd = seed; val dpb = DocsPerBatch // closures shipped to Spark capture locals only
    val row = (i: Long) => Gen.corpusRow(sd, i, Sizes.HotPermille, Sizes.NHot)
    // even probe docs copy an ingested doc, odd ones are novel
    val probeRow = (j: Long) =>
      if (j % 2 == 0) row(Math.floorMod(Gen.splitmix64(sd + 17 * j), nDocs.toLong)) else Gen.NovelBase + j
    val probeDocs = s"$d/probe_docs.parquet"
    ctx.phase("write docs and fingerprints") {
      ops.writeDocs(docs, nDocs, i => Doc.of(sd, i, row(i)))
      ops.writeDocs(probeDocs, NProbeDocs, j => Doc.of(sd, j, probeRow(j)))
      // fingerprints are computed once here: each micro-batch arrives as the
      // fingerprint DataFrame ingestBatch takes
      val f = ops.fps
      spark.read.parquet(docs)
        .select((substring(col("doc_id"), 4, 8).cast("long") / dpb).cast("int").as("batch"), explode(f).as("fp"))
        .write.partitionBy("batch").parquet(fpsDir)
      ops.explodedFps(probeDocs).write.parquet(probes)
    }
    docFps = ctx.phase("oracle fps")(ops.docFps(nDocs, i => Gen.tokens(sd, row(i))))
    val probeFps = (0 until NProbeDocs).flatMap(j => Shape.fps(Gen.tokens(sd, probeRow(j)))).toArray
    nProbes = probeFps.length
    oracle = ctx.phase("oracle")(
      Oracle(Batches, bi => docFps.iterator.slice(bi * DocsPerBatch, (bi + 1) * DocsPerBatch), probeFps))
    pass = 1; b = 0; store = ctx.path(s"setup$rep", "store-pass1")
  }

  /** The first batches of the first pass, up to and with its first
    * compaction. Batch times keep falling slowly after these, and every
    * run's loop sees the same part of that slope, as it makes the same ops
    * in the same order.
    */
  def warmUp(): Unit = (1 to CompactEvery).foreach(_ => step())

  private def batch(i: Int): DataFrame = spark.read.parquet(s"$fpsDir/batch=$i")

  private def batchFps(i: Int): Long = docFps.slice(i * DocsPerBatch, (i + 1) * DocsPerBatch).map(_.length.toLong).sum

  /** The store's live view, read without `currentShards`: every shard
    * version in one scan, the latest per bucket picked here.
    */
  private def liveView(what: String, upTo: Int): Seq[String] = {
    val shards = spark.read.parquet(store).select("bucket", "batch_id", "sketch")
      .as[(Long, Long, Array[Byte])].collect()
      .groupBy(_._1).values.map(_.maxBy(_._2)).map(r => r._1 -> r._3).toSeq
    Checks.store(what, Checks.contents(shards, Buckets), oracle.distinct(upTo), oracle.satTotal(upTo))
  }

  private def compact(): Unit =
    ctx.op("compact")(ctx.trace.span("streaming.compact")(IndexIngest.compact(spark, store))) { _ =>
      if (pass == 1 && b == CompactEvery) bytesPerDistinct = ctx.storeBytes(store).toDouble / oracle.distinct(b - 1)
      liveView(s"live view after compacting batches < $b", b - 1)
    }

  def step(): Unit = {
    if (b == Batches) {
      pass += 1; b = 0
      store = ctx.path(s"store-pass$pass")
    }
    val i = b
    ctx.op("ingest_batch", batchFps(i)) {
      ctx.trace.span("streaming.ingestBatch")(IndexIngest.ingestBatch(batch(i), i, params, Buckets, store))
    }(_ => liveView(s"live view after batch $i", i))
    b += 1
    if (i == ReplayAt) {
      val before = ctx.listing(store)
      ctx.op("replay")(ctx.trace.span("streaming.ingestBatch")(
        IndexIngest.ingestBatch(batch(i), i, params, Buckets, store))) { _ =>
        Checks.listingUnchanged(before, ctx.listing(store))
      }
    }
    if (b % CompactEvery == 0) compact()
    ctx.op("live_probe") {
      val shards = ctx.trace.span("streaming.currentShards")(IndexIngest.currentShards(spark, store))
      ops.queryIndex(shards, spark.read.parquet(probes), Buckets)
    }(Checks.probes(s"live probe after batch $i", nProbes, oracle.probeSum(i), oracle.probeHits(i), _))
  }

  /** At the end of a pass. */
  def enoughSamples: Boolean = b == Batches

  def endToEnd(): Seq[(String, (Double, String))] = {
    val ib = ctx.times("ingest_batch")
    val fps = ctx.ops.iterator.filter(o => o.measured && o.ok && o.kind == "ingest_batch").map(_.work).sum
    // fingerprints merged per second over the loop's batches, compactions included
    Seq(
      "index_bytes_per_distinct" -> (bytesPerDistinct, "B"),
      "fps_per_s" -> (fps / (ib.sum + ctx.times("compact").sum), "fp/s"),
      "primary_op_s" -> (Stats.median(ib), "s"),
      "secondary_op_s" -> (Stats.median(ctx.times("live_probe")), "s"))
  }

  def named(): Seq[(String, Double)] = {
    val ib = ctx.times("ingest_batch"); val lp = ctx.times("live_probe")
    if (ib.isEmpty || lp.isEmpty) Nil
    else {
      val (tail, pct) = Stats.tail(ib)
      Seq("ingest_batch_p50_s" -> Stats.median(ib), "ingest_batch_tail_s" -> tail,
        "ingest_batch_tail_pct" -> pct, "batches" -> ib.size.toDouble,
        "live_probe_fps_per_s" -> nProbes / Stats.median(lp),
        "batch_fps_mean" -> docFps.map(_.length.toLong).sum.toDouble / Batches)
    }
  }

  /** The live store of the current pass, merged, with the docs it holds. */
  def layerInputs(): LayerInputs = {
    val shards = ops.readShards(IndexIngest.currentShards(spark, store)).map(s => BackpackFilter.deserialize(s._2))
    LayerInputs(docs, b * DocsPerBatch, docFps.take(b * DocsPerBatch).flatten,
      BackpackFilter.mergeAll(shards).serialize())
  }
}
