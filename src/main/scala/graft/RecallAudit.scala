package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  /** The answers every recall figure is computed from: q05's exact pairs
    * and q17's exact top-3 edges, and how many of each q06, q18 and q24
    * recall.
    */
  private[graft] case class Counts(
      exactPairs: Long, q06Hits: Long, exactEdges: Long, q18Hits: Long, q24Hits: Long)

  private[graft] def ratio(h: Long, n: Long): Double = if (n == 0) 1.0 else h.toDouble / n

  /** Join q06/q18/q24's answers against their exact twins on `sfDir`. */
  private[graft] def counts(spark: SparkSession, sfDir: String): Counts = {
    // ---- text near-dup: q06 candidates vs q05 exact pairs -------------
    val exactPairs = Queries.q05NgramJaccard(spark, sfDir)
      .select(col("a_id"), col("b_id")).cache()
    val nExact = exactPairs.count()
    val nHit = exactPairs.join(
      Queries.q06MinhashLsh(spark, sfDir).select(col("a_id"), col("b_id")),
      Seq("a_id", "b_id")).count()
    // ---- embeddings: q18 buckets and q24 IVF vs q17 exact top-3 -------
    // q18 emits (qid, rank, nid) top-3 after banded-LSH candidate generation
    // + exact re-rank — same shape as q17, so recall is a direct edge join.
    val exactTopK = Queries.q17EmbeddingTopK(spark, sfDir)
      .select(col("qid"), col("nid")).cache()
    val nEdges = exactTopK.count()
    def edgeHits(approx: DataFrame): Long =
      exactTopK.join(approx.select(col("qid"), col("nid")), Seq("qid", "nid")).count()
    val nLshHit = edgeHits(Queries.q18EmbeddingLsh(spark, sfDir))
    val nIvfHit = edgeHits(Queries.q24EmbeddingIvf(spark, sfDir))
    exactPairs.unpersist(); exactTopK.unpersist()
    Counts(nExact, nHit, nEdges, nLshHit, nIvfHit)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder(SparkEntry.cpus, "graft-recall").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val c = counts(spark, sfDir)
    val nCand = Queries.q06MinhashLsh(spark, sfDir).count()
    // The candidate fraction (how much of the corpus each probe touches) is
    // the honest cost of LSH at this similarity gap; recomputed here with
    // q18's 16x4 banding.
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

    println(
      s"""{"sf":"$sfDir","q06_vs_q05":{"exact_pairs":${c.exactPairs},"candidate_pairs":$nCand,""" +
      s""""recalled":${c.q06Hits},"recall":${ratio(c.q06Hits, c.exactPairs)},"precision":${ratio(c.q06Hits, nCand)}},""" +
      s""""q18_vs_q17":{"exact_edges":${c.exactEdges},"recalled":${c.q18Hits},"recall":${ratio(c.q18Hits, c.exactEdges)},""" +
      s""""candidates_per_probe":${candTotal / 20.0},"corpus":$corpusN,""" +
      s""""candidate_fraction":${ratio(candTotal, 20 * corpusN)}},""" +
      s""""q24_vs_q17":{"exact_edges":${c.exactEdges},"recalled":${c.q24Hits},"recall":${ratio(c.q24Hits, c.exactEdges)}}}""")
    spark.stop()
  }
}
