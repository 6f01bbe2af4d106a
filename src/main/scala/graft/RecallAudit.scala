package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Committed recall evidence for the probabilistic catalog entries, measured
  * against their exact twins on the same input (VERDICT r3 Missing #4):
  *
  *  - q06 MinHash-LSH candidate pairs vs q05 exact n-gram-Jaccard pairs
  *    (recall = fraction of true pairs surfaced as candidates)
  *  - q18 hyperplane-LSH buckets vs q17 exact cosine top-3
  *    (recall = fraction of true (query, neighbor) edges sharing a bucket)
  *  - q24 IVF nprobe=2 top-3 vs q17 exact top-3 (set recall per query)
  *
  * Prints ONE JSON line; the per-round numbers live in BENCH/RECALL.md.
  * This is evidence, not a gate: the point is that the scale paths' loss is
  * MEASURED, whatever it is, instead of asserted in-suite only.
  */
object RecallAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = SparkEntry.cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-recall")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.kryoserializer.buffer.max", "512m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- text near-dup: q06 candidates vs q05 exact pairs -------------
    val exactPairs = Queries.q05NgramJaccard(spark, sfDir)
      .select(col("a_id"), col("b_id")).cache()
    val lshPairs = Queries.q06MinhashLsh(spark, sfDir)
      .select(col("a_id"), col("b_id")).cache()
    val nExact = exactPairs.count()
    val nCand = lshPairs.count()
    val nHit = exactPairs.join(lshPairs, Seq("a_id", "b_id")).count()

    // ---- embeddings: q18 buckets and q24 IVF vs q17 exact top-3 -------
    val exactTopK = Queries.q17EmbeddingTopK(spark, sfDir)
      .select(col("qid"), col("nid")).cache()
    val nEdges = exactTopK.count()
    // q18 emits (qid, rank, nid) top-3 after banded-LSH candidate generation
    // + exact re-rank — same shape as q17, so recall is a direct edge join.
    // The candidate fraction (how much of the corpus each probe touches) is
    // the honest cost of LSH at this similarity gap; recomputed here with
    // the same 16x4 banding.
    val lshTopK = Queries.q18EmbeddingLsh(spark, sfDir).select(col("qid"), col("nid"))
    val nLshHit = exactTopK.join(lshTopK, Seq("qid", "nid")).count()
    val (candTotal, corpusN) = {
      import graft.functions.GraftFunctions.hyperplane_sig
      val sigs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), hyperplane_sig(col("embedding"), 64, 0L).as("sig"))
      val bands = sigs.select(col("vec_id"), explode(expr(
          "transform(sequence(0, 15), t -> named_struct('band', t, 'bucket', shiftright(sig, t * 4) & 15))")).as("bb"))
        .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val probes = bands.filter(col("vec_id") < 20).withColumnRenamed("vec_id", "qid")
      val cand = broadcast(probes).join(bands, Seq("band", "bucket"))
        .filter(col("qid") =!= col("vec_id"))
        .select("qid", "vec_id").distinct().count()
      (cand, sigs.count())
    }
    val ivfTopK = Queries.q24EmbeddingIvf(spark, sfDir).select(col("qid"), col("nid"))
    val nIvfHit = exactTopK.join(ivfTopK, Seq("qid", "nid")).count()

    def ratio(h: Long, n: Long): Double = if (n == 0) 1.0 else h.toDouble / n
    println(
      s"""{"sf":"$sfDir","q06_vs_q05":{"exact_pairs":$nExact,"candidate_pairs":$nCand,""" +
      s""""recalled":$nHit,"recall":${ratio(nHit, nExact)},"precision":${ratio(nHit, nCand)}},""" +
      s""""q18_vs_q17":{"exact_edges":$nEdges,"recalled":$nLshHit,"recall":${ratio(nLshHit, nEdges)},""" +
      s""""candidates_per_probe":${candTotal / 20.0},"corpus":$corpusN,""" +
      s""""candidate_fraction":${ratio(candTotal, 20 * corpusN)}},""" +
      s""""q24_vs_q17":{"exact_edges":$nEdges,"recalled":$nIvfHit,"recall":${ratio(nIvfHit, nEdges)}}}""")
    spark.stop()
  }
}
