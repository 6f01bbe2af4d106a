package graft

import graft.functions.GraftFunctions._
import graft.sources.TokensTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI verbs over a real parquet round-trip: build -> query ->
  * filter (both sinks) -> enumerate. The text sink must emit the DECODED
  * k-grams (ref bqf_cf.cpp:186-205 writes k-mer text, not hashes), so its
  * set is compared against a plain relational recompute of `count >= 2`
  * over the k-token windows themselves.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val dir = {
    sys.props("graft.cli.keepSession") = "1"
    val d = java.nio.file.Files.createTempDirectory("graft_cli").toString
    // duplicate the first 50 docs under fresh ids so the filter verb has
    // genuinely repeated k-grams to find (synthetic 8-grams rarely collide)
    val base = TokensTable.dataframe(spark, 300, partitions = 4)
    base.unionByName(base.limit(50).withColumn("doc_id", concat(lit("dup_"), col("doc_id"))))
      .write.parquet(s"$d/tokens.parquet")
    d
  }

  test("build -> query round-trips through the sketch file") {
    Cli.main(Array("build", "-i", s"$dir/tokens.parquet", "-o", s"$dir/sketch.bqf",
      "-q", "14", "-c", "8", "-k", "8", "-z", "2"))
    assert(new java.io.File(s"$dir/sketch.bqf").length() > 0)
    Cli.main(Array("query", "-b", s"$dir/sketch.bqf", "-i", s"$dir/tokens.parquet",
      "-o", s"$dir/results.parquet", "-k", "8", "-z", "2"))
    val res = spark.read.parquet(s"$dir/results.parquet")
    assert(res.count() == 350)
    // every doc's s-grams are in the sketch it was built from: presence == 1
    assert(res.filter(col("presence_ratio") < 1.0).count() == 0)
  }

  test("build writes buildGlobal's bytes in buildGlobal's stages") {
    val in = s"$dir/tokens.parquet"
    val out = s"$dir/identity.bqf"
    // Cli's flags below; hashBits 48 and seed 0 are its defaults
    val params = graft.operators.BqfParams(qBits = 14, countBits = 8, kTokens = 8, zTokens = 2)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val (want, globalStages) = SparkTestSession.stagesOf(
      graft.plans.BqfPipeline.buildGlobal(spark.read.parquet(in), fps, params))
    val (_, cliStages) = SparkTestSession.stagesOf(
      Cli.main(Array("build", "-i", in, "-o", out, "-q", "14", "-c", "8", "-k", "8", "-z", "2")))
    assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)).sameElements(want),
      "Cli build file != buildGlobal bytes")
    assert(cliStages.map(_.numTasks) == globalStages.map(_.numTasks),
      s"Cli build stages ${cliStages.map(_.numTasks)} vs buildGlobal ${globalStages.map(_.numTasks)}")
  }

  test("query text surface: plain + FASTA inputs emit reference-format stat lines") {
    // the reference's query verb is text-in/text-out: SequenceN lines with
    // (min, max, average, presence ratio) per input sequence
    // (abstract_bqf.cpp:169-191, main.cpp:105-173)
    if (!new java.io.File(s"$dir/sketch.bqf").exists())
      Cli.main(Array("build", "-i", s"$dir/tokens.parquet", "-o", s"$dir/sketch.bqf",
        "-q", "14", "-c", "8", "-k", "8", "-z", "2"))
    val f = graft.core.BackpackFilter.loadFromFile(s"$dir/sketch.bqf")
    // three present sequences (real doc token arrays) + one absent-alphabet
    // line (tokens far outside any built doc's windows)
    val docs = spark.read.parquet(s"$dir/tokens.parquet")
      .limit(3).select("tokens").as[Array[Int]].collect()
    val seqs = docs :+ Array.fill(20)(7) // constant-token 8-grams: never built
    def fmtRef(d: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
      if (s.contains('.')) {
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      } else s
    }
    val want = seqs.zipWithIndex.map { case (toks, i) =>
      val st = f.sequenceStats(toks)
      s"Sequence${i + 1} : (min:${st.minimum}, max:${st.maximum}, " +
        s"average:${fmtRef(st.average)}, presence ratio:${fmtRef(st.presenceRatio)})"
    }.toVector

    val plain = java.nio.file.Paths.get(dir, "queries.txt")
    java.nio.file.Files.write(plain, seqs.map(_.mkString(" ")).mkString("\n").getBytes)
    Cli.main(Array("query", "-b", s"$dir/sketch.bqf", "-i", plain.toString,
      "-o", s"$dir/qtext.out"))
    val gotPlain = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "qtext.out"))
    import scala.jdk.CollectionConverters._
    assert(gotPlain.asScala.toVector == want, s"plain text query mismatch:\n${gotPlain.asScala.mkString("\n")}\nvs\n${want.mkString("\n")}")
    // absent line must read presence ratio:0
    assert(gotPlain.asScala.last.endsWith("presence ratio:0)"))

    // FASTA dispatch: '>' headers skipped, same answers
    val fasta = java.nio.file.Paths.get(dir, "queries.fa")
    java.nio.file.Files.write(fasta, seqs.zipWithIndex
      .map { case (s, i) => s">seq$i\n${s.mkString(" ")}" }.mkString("\n").getBytes)
    Cli.main(Array("query", "-b", s"$dir/sketch.bqf", "-i", fasta.toString,
      "-o", s"$dir/qfa.out", "-f", "text"))
    val gotFa = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, "qfa.out"))
    assert(gotFa.asScala.toVector == want, "FASTA query mismatch")
  }

  test("query/enumerate over a REFERENCE-written sketch file (on-disk interop)") {
    import scala.jdk.CollectionConverters._
    // the golden .bqf was saved by the compiled reference binary
    // (src/test/resources/reference_interop/generator.cpp)
    val bqf = java.nio.file.Paths.get(dir, "golden_ref.bqf")
    java.nio.file.Files.copy(
      getClass.getResourceAsStream("/reference_interop/golden.bqf"), bqf,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val goldenQ = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/reference_interop/golden_queries.tsv"))
      .getLines().toVector.map(_.split("\t"))
    // DNA query file (plain: one sequence per line)
    val qfile = java.nio.file.Paths.get(dir, "dna_queries.txt")
    java.nio.file.Files.write(qfile, goldenQ.map(_(0)).mkString("\n").getBytes)
    Cli.main(Array("query", "-b", bqf.toString, "-i", qfile.toString,
      "-o", s"$dir/dna_q.out"))
    val got = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "dna_q.out")).asScala.toVector
    // the reference prints the same C++ default-float text the tsv holds
    val want = goldenQ.zipWithIndex.map { case (p, i) =>
      s"Sequence${i + 1} : (min:${p(1)}, max:${p(2)}, average:${p(3)}, " +
        s"presence ratio:${p(4)})"
    }
    assert(got == want, s"reference query text mismatch:\n${got.take(3).mkString("\n")}\nvs\n${want.take(3).mkString("\n")}")

    // enumerate over the same file matches the reference's own enumerate,
    // and the decoded smer column is the TRUE canonical s-mer (ADVICE r6):
    // it re-hashes through the operative query chain to its fingerprint, so
    // an index rebuilt from this dump answers the original's queries
    Cli.main(Array("enumerate", "-b", bqf.toString, "-o", s"$dir/ref_enum.parquet"))
    val en = spark.read.parquet(s"$dir/ref_enum.parquet")
      .select("fingerprint", "abundance", "smer")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val wantEnum = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/reference_interop/golden_enum.tsv"))
      .getLines().map { l => val Array(h, c) = l.split("\t"); (h.toLong, c.toLong) }.toMap
    assert(en.map(e => (e._1, e._2)).toMap == wantEnum)
    en.foreach { case (fp, _, smer) =>
      assert(graft.sources.DnaDomain.smerHash(smer, 8) == fp,
        s"decoded smer $smer does not re-hash to $fp")
    }
    // rebuild-from-dump answers the original's queries: insert the dumped
    // (smer, abundance) pairs into a fresh DNA-domain filter and re-run the
    // golden sequences through it — same text the reference printed
    val rebuilt = new graft.core.BackpackFilter(
      10, 5, 16, graft.core.CountMode.Exact, 12, 4, 0L)
    en.foreach { case (_, ab, smer) =>
      rebuilt.add(graft.sources.DnaDomain.smerHash(smer, 8), ab) }
    goldenQ.foreach { p =>
      val (m, x, _, _) = graft.sources.DnaDomain.querySequence(
        p(0), 12, 8, rebuilt.abundance)
      assert(m == p(1).toLong && x == p(2).toLong,
        s"rebuilt-from-dump query mismatch on ${p(0)}")
    }
  }

  test("export verb: reference round-trip byte-identical; exported file queryable") {
    import scala.jdk.CollectionConverters._
    val bqf = java.nio.file.Paths.get(dir, "golden_ref2.bqf")
    java.nio.file.Files.copy(
      getClass.getResourceAsStream("/reference_interop/golden.bqf"), bqf,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Cli.main(Array("export", "-b", bqf.toString, "-o", s"$dir/exported.bqf"))
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/exported.bqf")),
      java.nio.file.Files.readAllBytes(bqf)),
      "exported bytes differ from the reference-written original")
    // export -> import -> query equality: the exported file answers the
    // golden DNA queries with the same text the reference printed
    val goldenQ = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/reference_interop/golden_queries.tsv"))
      .getLines().toVector.map(_.split("\t"))
    val qfile = java.nio.file.Paths.get(dir, "dna_queries2.txt")
    java.nio.file.Files.write(qfile, goldenQ.map(_(0)).mkString("\n").getBytes)
    Cli.main(Array("query", "-b", s"$dir/exported.bqf", "-i", qfile.toString,
      "-o", s"$dir/dna_q2.out"))
    val got = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "dna_q2.out")).asScala.toVector
    val want = goldenQ.zipWithIndex.map { case (p, i) =>
      s"Sequence${i + 1} : (min:${p(1)}, max:${p(2)}, average:${p(3)}, " +
        s"presence ratio:${p(4)})"
    }
    assert(got == want, "export->import->query text mismatch")
    // token-domain sketches are refused (would mis-migrate silently)
    if (!new java.io.File(s"$dir/sketch.bqf").exists())
      Cli.main(Array("build", "-i", s"$dir/tokens.parquet", "-o", s"$dir/sketch.bqf",
        "-q", "14", "-c", "8", "-k", "8", "-z", "2"))
    val e = intercept[IllegalArgumentException] {
      Cli.main(Array("export", "-b", s"$dir/sketch.bqf", "-o", s"$dir/bad.bqf"))
    }
    assert(e.getMessage.contains("DNA-domain"))
  }

  test("filter -f text emits decoded k-grams with counts == SQL count>=2") {
    Cli.main(Array("filter", "-i", s"$dir/tokens.parquet", "-o", s"$dir/filtered_txt",
      "-k", "8", "-f", "text"))
    val got = spark.read.text(s"$dir/filtered_txt").as[String].collect()
      .map { line =>
        val Array(kg, c) = line.split("\t")
        (kg, c.toLong)
      }.toMap
    val expected = spark.read.parquet(s"$dir/tokens.parquet")
      .filter(size(col("tokens")) >= 8)
      .select(explode(expr(
        "transform(sequence(1, size(tokens) - 7), u -> array_join(slice(tokens, u, 8), ','))")).as("kg"))
      .groupBy("kg").count().filter(col("count") >= 2)
      .as[(String, Long)].collect().toMap
    assert(got == expected, s"text sink: ${got.size} k-grams vs expected ${expected.size}")
    assert(expected.nonEmpty, "degenerate fixture: no repeated k-grams")
  }

  test("filter -f stream writes decoded k-gram lines to stdout (ref stream mode)") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Cli.main(Array("filter", "-i", s"$dir/tokens.parquet", "-o", "/dev/null",
        "-k", "8", "-f", "stream"))
    }
    val got = buf.toString("UTF-8").split("\n").filter(_.contains("\t"))
      .map { line => val Array(kg, c) = line.split("\t"); (kg, c.toLong) }.toMap
    val expected = spark.read.parquet(s"$dir/tokens.parquet")
      .filter(size(col("tokens")) >= 8)
      .select(explode(expr(
        "transform(sequence(1, size(tokens) - 7), u -> array_join(slice(tokens, u, 8), ','))")).as("kg"))
      .groupBy("kg").count().filter(col("count") >= 2)
      .as[(String, Long)].collect().toMap
    assert(got == expected, s"stream sink: ${got.size} vs ${expected.size}")
  }

  test("filter parquet sink matches the fingerprint recompute") {
    Cli.main(Array("filter", "-i", s"$dir/tokens.parquet", "-o", s"$dir/filtered_pq", "-k", "8"))
    val got = spark.read.parquet(s"$dir/filtered_pq").as[(Long, Long)].collect().toMap
    val expected = spark.read.parquet(s"$dir/tokens.parquet")
      .select(explode(sgram_fingerprints(col("tokens"), 8, 48, 0L)).as("fp"))
      .groupBy("fp").count().filter(col("count") >= 2)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("build-index -> query-index answers exact s-gram counts, no broadcast") {
    Cli.main(Array("build-index", "-i", s"$dir/tokens.parquet", "-o", s"$dir/shards.parquet",
      "-n", "16", "-q", "12", "-c", "16", "-k", "8", "-z", "2"))
    val shards = spark.read.parquet(s"$dir/shards.parquet")
    assert(shards.count() > 0 && shards.columns.toSet == Set("bucket", "sketch", "batch_id"))
    assert(graft.plans.CommitLog.read(spark, s"$dir/shards.parquet").get.routing.contains(
      graft.plans.Routing(16, graft.operators.BqfParams(qBits = 12, countBits = 16, kTokens = 8, zTokens = 2))))
    Cli.main(Array("query-index", "-b", s"$dir/shards.parquet", "-i", s"$dir/tokens.parquet",
      "-o", s"$dir/idxq.parquet", "-n", "16", "-q", "12", "-c", "16", "-k", "8", "-z", "2"))
    val out = spark.read.parquet(s"$dir/idxq.parquet")
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("kgram_fp", "bigint"), ("abundance", "bigint")), out.schema.toString)
    val rows = out.as[(Long, Long)].collect()
    val got = rows.toMap
    val expected = spark.read.parquet(s"$dir/tokens.parquet")
      .select(explode(sgram_fingerprints(col("tokens"), 6, 48, 0L)).as("fp"))
      .groupBy("fp").count()
      .as[(Long, Long)].collect().toMap
    // one row per distinct s-gram, none repeated
    assert(rows.length == got.size && got == expected, s"index query: ${rows.length} rows, ${got.size} fps vs ${expected.size}")
    // conflicting routing params must ERROR, not silently answer zeros
    val e = intercept[IllegalArgumentException] {
      Cli.main(Array("query-index", "-b", s"$dir/shards.parquet", "-i", s"$dir/tokens.parquet",
        "-o", s"$dir/idxq2.parquet", "-n", "32", "-q", "12", "-c", "16", "-k", "8", "-z", "2"))
    }
    assert(e.getMessage.contains("conflicts"), s"got: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      Cli.main(Array("query-index", "-b", s"$dir/shards.parquet", "-i", s"$dir/tokens.parquet",
        "-o", s"$dir/idxq3.parquet", "-k", "9"))
    }
    assert(e2.getMessage.contains("conflict"), s"got: ${e2.getMessage}")
  }

  test("a build-index store is an ingest store: its live shards, compact, ingestBatch and query-index") {
    import graft.streaming.IndexIngest
    val params = graft.operators.BqfParams(qBits = 12, countBits = 16, kTokens = 8, zTokens = 2)
    val store = s"$dir/built_store"
    Cli.main(Array("build-index", "-i", s"$dir/tokens.parquet", "-o", store,
      "-n", "16", "-q", "12", "-c", "16", "-k", "8", "-z", "2"))
    val tokens = spark.read.parquet(s"$dir/tokens.parquet")
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    def rows(shards: org.apache.spark.sql.DataFrame): Map[Long, Seq[Byte]] =
      shards.select("bucket", "sketch").as[(Long, Array[Byte])].collect().map { case (b, s) => b -> s.toSeq }.toMap
    // checkpoint 0: buildIndexSorted's bytes, each shard's lineage its rows gathered at depth 1
    assert(rows(IndexIngest.currentShards(spark, store)) == rows(graft.plans.BqfPipeline.buildIndexSorted(tokens, fps, params, 16)))
    val log = graft.plans.CommitLog.read(spark, store).get
    assert(log.entries.map(_.fileName) == Seq("0.checkpoint.json"))
    assert(log.live.values.map(_._1.rowsConsumed).sum == tokens.select(explode(fps)).count())
    assert(log.live.values.forall { case (s, _) => s.batchId == 0L && s.mergeDepth == 1 })
    // query-index takes the routing from the log: no -n
    Cli.main(Array("query-index", "-b", store, "-i", s"$dir/tokens.parquet", "-o", s"$dir/built_q.parquet"))
    val sgramCounts = tokens.select(explode(fps).as("fp")).groupBy("fp").count().as[(Long, Long)].collect().toMap
    assert(spark.read.parquet(s"$dir/built_q.parquet").as[(Long, Long)].collect().toMap == sgramCounts)
    // compact has nothing to fold: it commits nothing and changes no file
    def listing(): Seq[(String, Long, Long)] = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(store), null, true).toArray(Array.empty[java.io.File])
      .map(f => (f.getPath, f.length, f.lastModified)).toSeq.sorted
    val before = listing()
    IndexIngest.compact(spark, store)
    assert(listing() == before && graft.plans.CommitLog.read(spark, store).get == log)
    // batch 1 merges into checkpoint 0's shards with exact counts
    val extra = sgramCounts.keys.take(200).toSeq ++ Seq.tabulate(300)(i => graft.core.Fingerprint.splitmix64(i) >>> 16)
    IndexIngest.ingestBatch(extra.toDF("fp"), 1L, params, 16, store)
    val want = extra.foldLeft(sgramCounts)((m, fp) => m.updated(fp, m.getOrElse(fp, 0L) + 1))
    assert(graft.plans.BqfPipeline.enumerateIndex(IndexIngest.currentShards(spark, store)).as[(Long, Long)].collect().toMap == want)
  }

  test("query-index and ingestBatch reject a log entry with a missing or an unknown routing field") {
    val params = graft.operators.BqfParams(qBits = 12, countBits = 16, hashBits = 48, kTokens = 8, zTokens = 2)
    Cli.main(Array("build-index", "-i", s"$dir/tokens.parquet", "-o", s"$dir/routing_idx",
      "-n", "8", "-q", "12", "-c", "16", "-k", "8", "-z", "2"))
    val ingestStore = s"$dir/routing_ingest"
    graft.streaming.IndexIngest.ingestBatch(Seq(1L, 2L, 3L).toDF("fp"), 0L, params, 8, ingestStore)
    // each store's one entry: build-index's checkpoint 0, the ingest's batch 0
    val entries = Seq(s"$dir/routing_idx" -> "0.checkpoint.json", ingestStore -> "0.json")
      .map { case (store, name) => java.nio.file.Paths.get(store, "_graft_log", name) }
    val good = entries.map(java.nio.file.Files.readString)
    assert(good.forall(_.contains(""""routing":""" + graft.plans.Routing(8, params).json)), good.mkString("\n"))
    val bad = Seq[(String, String => String)](
      "missing" -> (_.replace(""","seed":0""", "")),
      "unknown" -> (_.replace(""""seed":0}""", """"seed":0,"extra":1}""")))
    for ((label, edit) <- bad) {
      for ((path, text) <- entries.zip(good)) java.nio.file.Files.writeString(path, edit(text))
      val eq = intercept[IllegalArgumentException] {
        Cli.main(Array("query-index", "-b", s"$dir/routing_idx", "-i", s"$dir/tokens.parquet",
          "-o", s"$dir/routing_q_$label", "-n", "8", "-k", "8", "-z", "2"))
      }
      assert(eq.getMessage.contains(label), s"query-index, $label field: ${eq.getMessage}")
      val ei = intercept[IllegalArgumentException] {
        graft.streaming.IndexIngest.ingestBatch(Seq(4L).toDF("fp"), 1L, params, 8, ingestStore)
      }
      assert(ei.getMessage.contains(label), s"ingestBatch, $label field: ${ei.getMessage}")
    }
  }

  test("enumerate streams the sketch entries out relationally") {
    val out = spark.read.parquet {
      Cli.main(Array("enumerate", "-b", s"$dir/sketch.bqf", "-o", s"$dir/enum.parquet"))
      s"$dir/enum.parquet"
    }
    val n = out.count()
    val distinct = graft.core.BackpackFilter.loadFromFile(s"$dir/sketch.bqf").distinctCount
    assert(n == distinct)
  }
}
