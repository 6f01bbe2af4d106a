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

  // one rewrite-in-place case per dir-keyed cache: q01 reads the text
  // sketch blob, q25 the order-of-magnitude (oom) one, which decodes each
  // count to its highest power of two
  Seq[(String, String => Map[String, Long], Long => Long)](
    ("q01", dir => Queries.q01BqfAbundance(spark, dir).as[(String, Long)].collect().toMap, identity),
    ("q25", dir => Queries.q25OomAbundance(spark, dir).as[(String, Long)].collect().toMap,
      java.lang.Long.highestOneBit)
  ).foreach { case (name, answers, decode) =>
    test(s"$name answers for a corpus rewritten in place") {
      def want(texts: Seq[String]) = exact(texts).map { case (s, n) => s -> decode(n) }
      val dir = java.nio.file.Files.createTempDirectory("graft-cache").toString
      val first = Seq("the quick brown fox jumps over the lazy dog", "the lazy dog sleeps",
        "abcdefghij abcdefghij abcdefghij abcdefghij")
      val second = Seq("pack my box with five dozen liquor jugs", "sphinx of black quartz, judge my vow")
      writeCorpus(dir, first)
      assert(answers(dir) == want(first))
      writeCorpus(dir, second)
      assert(answers(dir) == want(second), s"$name answered from the replaced corpus")
    }
  }

  test("sessionCached: a maker that reads another key of its own bin returns both values") {
    // "Aa" and "BB" share a String hash, so the two keys share a
    // ConcurrentHashMap bin at every table size; computeIfAbsent would throw
    // "Recursive update" when A's maker caches B
    val fresh = spark.newSession()
    val (a, b) = ("trap|Aa", "trap|BB")
    assert(a.hashCode == b.hashCode)
    val got = Queries.sessionCached(fresh, a)(Queries.sessionCached(fresh, b)("b") + "a")
    assert(got == "ba")
    assert(Queries.sessionCached[String](fresh, a)(fail("A was not cached")) == "ba")
    assert(Queries.sessionCached[String](fresh, b)(fail("B was not cached")) == "b")
  }

  test("q20's tokens table is cached under the working directory") {
    val cwd = java.nio.file.Paths.get(System.getProperty("user.dir")).toAbsolutePath
    val path = java.nio.file.Paths.get(Queries.tokensOraclePath(2000))
    assert(path.isAbsolute && path.startsWith(cwd.resolve("target")), s"$path lies outside $cwd/target")
    assert(path.getFileName.toString == "tokens_oracle_2000.parquet")
  }
}
