package graft

import graft.core.BackpackFilter
import graft.functions.GraftFunctions._
import graft.operators.{BqfParams, BqfQuery, SketchAggregators}
import graft.plans.{BqfPipeline, CheckpointedBuild}
import graft.sources.TokensTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SparkE2ESpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val params = BqfParams(qBits = 14, countBits = 16, hashBits = 48,
    kTokens = 8, zTokens = 2, seed = 0L)

  /** Exact (fingerprint -> count) oracle via plain relational ops. */
  private def exactCounts(nRows: Int): Map[Long, Long] = {
    TokensTable.dataframe(spark, nRows, partitions = 4)
      .select(explode(sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)).as("fp"))
      .groupBy("fp").count()
      .as[(Long, Long)].collect().toMap
  }

  test("distributed build matches exact groupBy-count oracle") {
    val df = TokensTable.dataframe(spark, 500, partitions = 4)
    val bytes = BqfPipeline.buildGlobal(
      df, sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed), params)
    val sketch = BackpackFilter.deserialize(bytes)
    val oracle = exactCounts(500)
    assert(sketch.distinctCount == oracle.size)
    assert(sketch.enumerate() == oracle, "sketch contents != exact oracle")
  }

  test("build is independent of partitioning (2 vs 8 partitions)") {
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    def build(parts: Int) = BqfPipeline.buildGlobal(TokensTable.dataframe(spark, 400, partitions = parts), fps, params)
    def viaUdaf(parts: Int) = TokensTable.dataframe(spark, 400, partitions = parts)
      .agg(bqf(fps)).head().getAs[Array[Byte]](0)
    assert(build(2).sameElements(build(8)), "buildGlobal bytes depend on partitioning")
    assert(viaUdaf(2).sameElements(viaUdaf(8)), "UDAF bytes depend on partitioning")
    assert(viaUdaf(2).sameElements(build(2)), "UDAF bytes != buildGlobal bytes")

    // order-of-magnitude counted input with duplicate fingerprints: (fp, 2)
    // and (fp, 100) must answer 2^floor(log2 100) = 64 whether the two rows
    // meet in one partial or in two
    val oom = params.copy(mode = graft.core.CountMode.OrderOfMagnitude, countBits = 6)
    val counted = SketchAggregators.bqfOverCountedFingerprints(oom)
    val rows = Seq((7L, 2L), (7L, 100L)) ++
      (1L to 3000L).map(i => (graft.core.Fingerprint.splitmix64(i % 1000) & 0xffffffffffffL, i))
    def oomBuild(parts: Int) = rows.toDF("fp", "cnt").repartition(parts)
      .agg(counted(col("fp"), col("cnt"))).head().getAs[Array[Byte]](0)
    val one = rows.toDF("fp", "cnt").coalesce(1).agg(counted(col("fp"), col("cnt"))).head().getAs[Array[Byte]](0)
    assert(BackpackFilter.deserialize(one).abundance(7L) == 64L)
    assert(one.sameElements(oomBuild(2)) && one.sameElements(oomBuild(8)),
      "order-of-magnitude counted build depends on partitioning")
  }

  test("mergeShards of 64 UDAF shards == global build") {
    // id-bucketed shards overlap in fingerprint range, and 64 partitions
    // hand the one merge task more inputs than a 32-shard index does
    val df = TokensTable.dataframe(spark, 400, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    val shards = df.groupBy(pmod(xxhash64(col("doc_id")), lit(64)).as("bucket"))
      .agg(bqf(fps).as("sketch")).repartitionById(64, col("bucket").cast("int")).cache()
    assert(shards.count() == 64 && shards.rdd.getNumPartitions == 64)
    assert(BqfPipeline.mergeShards(shards).sameElements(BqfPipeline.buildGlobal(df, fps, params)),
      "merged UDAF shards != buildGlobal bytes")
    shards.unpersist()
  }

  test("per-source salted build: every source sketch matches its oracle") {
    val df = TokensTable.dataframe(spark, 600, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val perSource = BqfPipeline.buildPerSource(df, fps, col("doc_id"), col("source"), params, salts = 4)
      .as[(String, Array[Byte])].collect().toMap
    assert(perSource.keySet == Set("web", "books", "code", "wiki"))
    for ((src, bytes) <- perSource) {
      val oracle = df.filter(col("source") === src)
        .select(explode(fps).as("fp")).groupBy("fp").count()
        .as[(Long, Long)].collect().toMap
      assert(BackpackFilter.deserialize(bytes).enumerate() == oracle, s"source=$src")
    }
  }

  test("checkpointed build: kill after partial commits, resume, identical result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString + "/shards"
    val df = TokensTable.dataframe(spark, 300, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val nBuckets = 16
    // "killed" first run: only 2 batches (= 4 buckets) commit
    CheckpointedBuild.run(df, fps, col("doc_id"), params, nBuckets, dir, batchBuckets = 2, maxBatches = 2)
    val afterKill = CheckpointedBuild.committedBuckets(spark, dir)
    assert(afterKill.size == 4, s"expected 4 committed buckets, got ${afterKill.size}")
    // resume completes the rest, skipping committed buckets
    CheckpointedBuild.run(df, fps, col("doc_id"), params, nBuckets, dir, batchBuckets = 2)
    assert(CheckpointedBuild.committedBuckets(spark, dir).size == nBuckets)
    // lineage columns present
    val shardCols = spark.read.parquet(dir).columns.toSet
    assert(CheckpointedBuild.LineageColumns.toSet.subsetOf(shardCols))
    // final result identical to an uninterrupted global build
    val resumed = BackpackFilter.deserialize(CheckpointedBuild.result(spark, dir))
    val direct = BackpackFilter.deserialize(BqfPipeline.buildGlobal(df, fps, params))
    assert(resumed.enumerate() == direct.enumerate())
  }

  test("broadcast query UDFs: abundance, membership, sequence stats") {
    val df = TokensTable.dataframe(spark, 200, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val bytes = BqfPipeline.buildGlobal(df, fps, params)
    val q = new BqfQuery(spark, bytes)
    val oracle = exactCounts(200)

    // abundance over every distinct fingerprint
    val got = df.select(explode(fps).as("fp")).distinct()
      .withColumn("abund", q.abundanceUdf(col("fp")))
      .as[(Long, Long)].collect().toMap
    assert(got == oracle)

    // sequence stats: indexed docs have full presence
    val stats = df.withColumn("st", q.sequenceStatsUdf(col("tokens")))
      .select($"doc_id", $"st.minimum", $"st.presenceRatio")
      .as[(String, Long, Double)].collect()
    assert(stats.forall(_._3 == 1.0))
    assert(stats.forall(_._2 > 0))

    // enumerate as DataFrame
    assert(q.enumerateDF().count() == oracle.size)
    q.unpersist()
  }

  test("input validation enforces the per-row token-equality invariant") {
    val ok = TokensTable.validated(TokensTable.dataset(spark, 50))
    assert(ok.count() == 50)
    val tampered = TokensTable.dataset(spark, 50)
      .map(d => if (d.doc_id == "doc00000007") d.copy(tokens = d.tokens.updated(0, -1)) else d)
    val ex = intercept[org.apache.spark.SparkException] {
      TokensTable.validated(tampered).count()
    }
    assert(ex.getMessage != null)
  }

  test("companion sketches: HLL within error bound, CMS overestimates, Bloom no-FN") {
    val df = TokensTable.dataframe(spark, 400, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val exact = exactCounts(400)
    val n = exact.size.toDouble

    val hll = SketchAggregators.hllOverFingerprintArrays(p = 14)
    val est = df.agg(hll(fps)).head().getLong(0)
    assert(math.abs(est - n) / n < 0.05, s"HLL est $est vs exact $n")

    val cms = SketchAggregators.countMinOverFingerprintArrays(depth = 5, widthBits = 16)
    val cmsBytes = df.agg(cms(fps)).head().getAs[Array[Byte]](0)
    val cmsSketch = graft.sketch.CountMinSketch.deserialize(cmsBytes)
    val sample = exact.take(200)
    sample.foreach { case (fp, cnt) =>
      val e = cmsSketch.estimate(fp)
      assert(e >= cnt, s"CMS underestimated $fp")
      assert(e <= cnt + (3 * cmsSketch.totalAdded / cmsSketch.width), "CMS error above bound")
    }

    val bloomUdaf = SketchAggregators.bloomOverFingerprintArrays(mBits = 1L << 22, k = 10)
    val bloomBytes = df.agg(bloomUdaf(fps)).head().getAs[Array[Byte]](0)
    val bloom = graft.sketch.BloomSketch.deserialize(bloomBytes)
    exact.keys.foreach(fp => assert(bloom.mightContain(fp), "Bloom false negative"))
    val rng = new scala.util.Random(1)
    val absent = Iterator.continually(rng.nextLong()).filterNot(exact.contains).take(20000)
    val fpCount = absent.count(bloom.mightContain)
    assert(fpCount < 60, s"Bloom FP count $fpCount too high") // expect ~ (1-e^{-kn/m})^k tiny
  }

  test("q05 hot-set anti-join: no forced broadcast, identical answers without one (two sfs)") {
    // |hot shingles| grows with corpus size, so q05 must not pin its
    // exclusion set to a broadcast: with autoBroadcastJoinThreshold=-1
    // (broadcast disabled entirely — the forced-hint case would either
    // still broadcast or change shape) the answer must be identical, i.e.
    // the declared-exact baseline cannot silently OOM a broadcast at any
    // scale — it degrades to a shuffled anti-join instead
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      def rows() = Queries.q05NgramJaccard(spark, sf)
        .select("a_id", "b_id").as[(String, String)].collect().toSet
      val withBroadcast = rows()
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert(rows() == withBroadcast, s"q05 answers changed without broadcast at $sf")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q06 band-tuple join: identical candidate pairs without broadcast (two sfs)") {
    // r7 made the band key the raw 4-slot array (exact bucket identity,
    // oracle-reproducible). Arrays are legal shuffle/join keys in Spark,
    // but prove the non-broadcast degradation explicitly: with broadcasts
    // disabled the band self-join must pick a shuffled join on the array
    // key and return the identical pair set — the shape that runs when
    // the corpus outgrows a broadcastable band index
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      def rows() = Queries.q06MinhashLsh(spark, sf)
        .select("a_id", "b_id", "band_matches").as[(String, String, Long)].collect().toSet
      val withBroadcast = rows()
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert(rows() == withBroadcast, s"q06 answers changed without broadcast at $sf")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("plan shape: build uses ObjectHashAggregate partials; scan prunes columns") {
    val df = TokensTable.dataframe(spark, 50, partitions = 2)
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    val plan = df
      .agg(bqf(sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
  }
}
