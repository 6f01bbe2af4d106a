package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog caches key on the input files, not on the dir name: a corpus
  * rewritten in place must be answered from its new files.
  */
class QueryCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeCorpus(dir: String, texts: Seq[String]): Unit =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** Occurrences of every 8-char shingle, counted on the driver. */
  private def exact(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.sliding(Queries.ShingleN).filter(_.length == Queries.ShingleN))
      .groupBy(identity).map { case (s, occ) => s -> occ.size.toLong }

  private def q01(dir: String): Map[String, Long] =
    Queries.q01BqfAbundance(spark, dir).as[(String, Long)].collect().toMap

  test("q01 answers for a corpus rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cache").toString
    val first = Seq("the quick brown fox jumps over the lazy dog", "the lazy dog sleeps")
    val second = Seq("pack my box with five dozen liquor jugs", "sphinx of black quartz, judge my vow")
    writeCorpus(dir, first)
    assert(q01(dir) == exact(first))
    writeCorpus(dir, second)
    assert(q01(dir) == exact(second), "q01 answered from the replaced corpus")
  }

  test("q20's tokens table is cached under the working directory") {
    val cwd = java.nio.file.Paths.get(System.getProperty("user.dir")).toAbsolutePath
    val path = java.nio.file.Paths.get(Queries.tokensOraclePath(2000))
    assert(path.isAbsolute && path.startsWith(cwd.resolve("target")), s"$path lies outside $cwd/target")
    assert(path.getFileName.toString == "tokens_oracle_2000.parquet")
  }
}
