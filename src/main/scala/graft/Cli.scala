package graft

import graft.core.{BackpackFilter, SequenceStats}
import graft.functions.GraftFunctions._
import graft.operators.{BqfParams, BqfQuery}
import graft.plans.BqfPipeline
import org.apache.spark.sql.functions._

/** Spark-native analogue of the reference CLI's three verbs
  * (/root/reference/src/main.cpp:10-15):
  *
  *   build       -i <tokens parquet> -o <sketch file> [-q Q -c C -k K -z Z]
  *   query       -b <sketch file> -i <tokens parquet> -o <results parquet>
  *   filter      -i <tokens parquet> -o <out path> [-k K] [-f parquet|text|stream]
  *   enumerate   -b <sketch file> -o <out parquet>
  *   export      -b <sketch file (own or reference fmt)> -o <reference .bqf>
  *   build-index -i <tokens parquet> -o <store dir> [-n BUCKETS ...]
  *   query-index -b <store dir> -i <tokens parquet> -o <out parquet> [-n/-k/-z/-h to cross-check]
  *
  * `build` folds every s-gram fingerprint of the input's `tokens` column
  * into a distributed BQF and persists it; `query` loads + broadcasts the
  * sketch and writes per-row Fimpera statistics; `filter` emits each k-gram
  * fingerprint seen at least twice (the counting-filter verb; `-f text`
  * mirrors the reference's text sink next to the default parquet one,
  * /root/reference/src/bqf_cf.hpp:6-8 — the streaming emit mode lives in
  * [[graft.streaming.StreamingOps]]); `enumerate` streams the sketch's
  * (fingerprint, abundance) entries out relationally.
  */
object Cli {
  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("-") => k -> v }.toMap

  /** C++ default ostream float formatting: 6 significant digits, trailing
    * zeros stripped — in fixed AND scientific notation (C++ prints 1e-05
    * where %.6g alone gives 1.00000e-05).
    */
  private def fmtRefFloat(d: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
    def stripZeros(m: String): String =
      if (!m.contains('.')) m
      else {
        val t = m.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      }
    val e = s.indexWhere(c => c == 'e' || c == 'E')
    if (e >= 0) stripZeros(s.substring(0, e)) + s.substring(e)
    else stripZeros(s)
  }

  /** The bytes of sketch file `path`, checked once by deserializing them:
    * the query verbs broadcast these bytes as they are.
    */
  private def sketchFile(path: String): Array[Byte] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    BackpackFilter.deserialize(bytes)
    bytes
  }

  /** The sequences of a query text file: one per non-empty line, or FASTA
    * ('>'-header dispatch on the first line), whose header lines are
    * skipped (the reference assumes strictly alternating header/sequence
    * records; any '>' line is a header here).
    */
  private def querySequences(path: String): Vector[String] = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toVector.filter(_.nonEmpty)
    if (lines.headOption.exists(_.startsWith(">"))) lines.filterNot(_.startsWith(">")) else lines
  }

  /** Write the reference's query text surface: one `SequenceN : (min:…,
    * max:…, average:…, presence ratio:…)` line per (min, max, average,
    * presence ratio), numbered 1..n in input order (abstract_bqf.cpp:169-191,
    * operator<< additional_methods.cpp:312-314). The reference's
    * post-increment emits "Sequence1" twice (abstract_bqf.cpp:176-186), a
    * cosmetic defect not replicated (SURVEY §7.4 deviations).
    */
  private def writeQueryText(path: String, stats: Seq[(Long, Long, Double, Double)]): Unit = {
    val out = stats.zipWithIndex.map { case ((mn, mx, avg, ratio), i) =>
      s"Sequence${i + 1} : (min:$mn, max:$mx, average:${fmtRefFloat(avg)}, presence ratio:${fmtRefFloat(ratio)})"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      out.mkString("", "\n", if (out.nonEmpty) "\n" else "").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Cli build|query|filter|enumerate|export|build-index|query-index -i IN [-b SKETCH] [-o OUT] [-q Q -c C -k K -z Z] [-n BUCKETS] [-f parquet|text]")
      sys.exit(2)
    }
    val verb = args.head
    val opts = parseArgs(args.tail)
    val spark = GraftSession.builder(SparkEntry.cpus, s"graft-$verb")
      // a deployment setting: SPARK_MASTER points the verbs at a cluster
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${SparkEntry.cpus}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val params = BqfParams(
      qBits = opts.getOrElse("-q", "16").toInt,
      countBits = opts.getOrElse("-c", "8").toInt,
      hashBits = opts.getOrElse("-h", "48").toInt,
      kTokens = opts.getOrElse("-k", "8").toInt,
      zTokens = opts.getOrElse("-z", "2").toInt)

    verb match {
      case "build" =>
        val df = spark.read.parquet(opts("-i"))
        val t0 = System.nanoTime()
        val bytes = BqfPipeline.buildGlobal(df,
          sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed), params)
        java.nio.file.Files.write(java.nio.file.Paths.get(opts("-o")), bytes)
        println(s"Construction time = ${(System.nanoTime() - t0) / 1000000}ms " +
          s"(${BackpackFilter.deserialize(bytes).distinctCount} distinct s-grams)")

      case "query" =>
        val t0 = System.nanoTime()
        val in = opts("-i")
        // verb-for-verb migration: a sketch file written by the REFERENCE
        // binary (8xu64 header + table words, abstract_bqf.cpp:512-529) is
        // auto-detected, imported into the DNA hash domain, and answers the
        // reference's own text query surface (DNA sequences in, the same
        // `SequenceN : (min:.., ..)` lines out) — examples/ecoli.cpp:13-34
        // is the usage this covers
        if (graft.sources.ReferenceFormat.isReferenceFile(opts("-b"))) {
          val rf = graft.sources.ReferenceFormat.load(opts("-b"))
          val bf = rf.toBackpackFilter
          writeQueryText(opts("-o"), querySequences(in).map { seq =>
            val (mn, mx, avg, ratio) = graft.sources.DnaDomain.querySequence(
              seq.trim, rf.header.kmerSize, rf.header.smerSize, bf.abundance)
            (mn, mx, avg.toDouble, ratio.toDouble)
          })
          println(s"Load + queries time = ${(System.nanoTime() - t0) / 1000000}ms " +
            s"(reference-format index: ${rf.header.elementsInside} smers)")
        } else {
          val q = new BqfQuery(spark, sketchFile(opts("-b")))
          // the reference's query verb is TEXT-in/TEXT-out (abstract_bqf.cpp:169-191,
          // main.cpp:105-173); -f text selects that surface here, and a
          // non-parquet regular-file input implies it
          val isText = opts.get("-f").contains("text") ||
            (!in.endsWith(".parquet") && java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(in)))
          if (isText) {
            import spark.implicits._
            // Sequences are whitespace- or comma-separated integer token ids
            // — this library's alphabet. Probes run distributed through the
            // codegen sequence-stats expression; the ordered text write is
            // driver-side, matching the reference's single-output-file
            // contract (query files are the probe set — small by
            // construction)
            val seqs = querySequences(in).zipWithIndex.map { case (s, i) =>
              (i + 1L, s.trim.split("[\\s,]+").map(_.toInt))
            }
            val rows = spark.createDataset(seqs).toDF("seq_no", "tokens")
              .withColumn("st", q.sequenceStatsOf(col("tokens")))
              .select(col("seq_no"), col("st.minimum"), col("st.maximum"),
                col("st.average"), col("st.presenceRatio"))
              .collect().sortBy(_.getLong(0))
            writeQueryText(opts("-o"), rows.toSeq.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
          } else {
            spark.read.parquet(in)
              .withColumn("st", q.sequenceStatsOf(col("tokens")))
              .select(col("doc_id"), col("st.minimum").as("minimum"),
                col("st.maximum").as("maximum"), col("st.average").as("average"),
                col("st.presenceRatio").as("presence_ratio"))
              .write.mode("overwrite").parquet(opts("-o"))
          }
          println(s"Load + queries time = ${(System.nanoTime() - t0) / 1000000}ms")
        }

      case "filter" =>
        val df = spark.read.parquet(opts("-i"))
        // The reference's text and stream sinks write the DECODED k-mer, not
        // its hash (bqf_cf.cpp:186-205 via hash_to_kmer — its xorshift hash
        // is reversible; XXH64 is not, but the CLI has the pre-hash k-grams
        // in hand). Both emit `tok,tok,...\tcount` lines: grouping by the
        // k-gram itself is the human-readable sink — the scale sink groups
        // by 8-byte fingerprints.
        val k = params.kTokens
        def kgramLines = df.filter(size(col("tokens")) >= k)
          .select(explode(expr(
            s"transform(sequence(1, size(tokens) - ${k - 1}), u -> slice(tokens, u, $k))")).as("kgram"))
          .groupBy("kgram").count()
          .filter(col("count") >= 2)
          .select(format_string("%s\t%d", array_join(col("kgram"), ","), col("count")).as("line"))
        opts.getOrElse("-f", "parquet") match {
          case "text" => kgramLines.write.mode("overwrite").text(opts("-o"))
          case "stream" =>
            // the reference's third sink writes to STDOUT (bqf_cf.hpp:6-8
            // output_mode_t stream), streamed through toLocalIterator so
            // driver memory stays bounded by one partition
            val it = kgramLines.toLocalIterator()
            while (it.hasNext) println(it.next().getString(0))
          case _ => // set semantics are order-insensitive, like the reference's E2E check
            df.select(explode(sgram_fingerprints(col("tokens"), params.kTokens, params.hashBits, params.seed)).as("kgram_fp"))
              .groupBy("kgram_fp").count()
              .filter(col("count") >= 2)
              .write.mode("overwrite").parquet(opts("-o"))
        }

      case "enumerate" =>
        // reference-format files enumerate too (migration surface): entries
        // come out in the reference hash domain, plus the decoded CANONICAL
        // smer — the invertible decode (smerHash(smer) == fingerprint), so
        // rebuilding an index from this dump reproduces the original's
        // answers. (ADVICE r6: the earlier hash_to_kmer decode used the
        // insert-side codec, whose strings do NOT re-hash to their
        // fingerprints — a rebuild from that dump answered zero to all.)
        if (graft.sources.ReferenceFormat.isReferenceFile(opts("-b"))) {
          import spark.implicits._
          val rf = graft.sources.ReferenceFormat.load(opts("-b"))
          val s = rf.header.smerSize
          rf.entries().toSeq.toDF("fingerprint", "abundance")
            .withColumn("smer", udf((fp: Long) =>
              graft.sources.DnaDomain.decodeSmerCanonical(fp, s)).apply(col("fingerprint")))
            .write.mode("overwrite").parquet(opts("-o"))
        } else {
          val q = new BqfQuery(spark, sketchFile(opts("-b")))
          q.enumerateDF().write.mode("overwrite").parquet(opts("-o"))
        }

      case "export" =>
        // two-way migration, write side: -b is either a reference-format
        // file (normalize round-trip) or an own-format DNA-domain sketch;
        // -o receives a reference-format .bqf the C++ tooling's
        // load_from_disk reads directly
        val bf =
          if (graft.sources.ReferenceFormat.isReferenceFile(opts("-b")))
            graft.sources.ReferenceFormat.load(opts("-b")).toBackpackFilter
          else BackpackFilter.loadFromFile(opts("-b"))
        graft.sources.ReferenceFormat.save(bf, opts("-o"))
        println(s"Exported ${bf.distinctCount} smers to reference format (q=${bf.quotientBits})")

      case "build-index" =>
        // the sharded index, the form that scales past broadcast size, as
        // checkpoint 0 of an index store whose log records the routing;
        // query it with `query-index`, extend it with IndexIngest.ingestBatch.
        // An existing -o is replaced.
        val nBuckets = opts.getOrElse("-n", "64").toInt
        val df = spark.read.parquet(opts("-i"))
        val t0 = System.nanoTime()
        val out = new org.apache.hadoop.fs.Path(opts("-o"))
        out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
        graft.streaming.IndexIngest.build(df,
          sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed),
          params, nBuckets, opts("-o"))
        println(s"Index construction time = ${(System.nanoTime() - t0) / 1000000}ms ($nBuckets shards)")

      case "query-index" =>
        // point abundance of every distinct s-gram of the input, answered
        // by bucket-routed probes against the store's live shards (no
        // broadcast). The routing comes from the store's log; -n/-k/-z/-h
        // only cross-check it, since a wrong routing answers wrong counts
        // silently.
        val store = opts("-b")
        val shards = graft.streaming.IndexIngest.currentShards(spark, store)
        val r = graft.plans.CommitLog.read(spark, store).flatMap(_.routing).getOrElse(
          throw new IllegalArgumentException(s"query-index: $store has no committed index; build it with build-index"))
        val conflicts = Seq("-n" -> r.nBuckets, "-k" -> r.kTokens, "-z" -> r.zTokens, "-h" -> r.hashBits)
          .collect { case (o, v) if opts.get(o).exists(_.toInt != v) => s"$o: store=$v call=${opts(o)}" }
        require(conflicts.isEmpty, s"query-index routing conflicts with $store's log (${conflicts.mkString(", ")})")
        val p = params.copy(hashBits = r.hashBits, kTokens = r.kTokens, zTokens = r.zTokens, seed = r.seed)
        val probes = spark.read.parquet(opts("-i"))
          .select(explode(sgram_fingerprints(col("tokens"), p.sTokens, p.hashBits, p.seed)).as("fp"))
          .distinct()
        BqfPipeline.queryIndex(shards, probes, p, r.nBuckets)
          .withColumnRenamed("fp", "kgram_fp")
          .write.mode("overwrite").parquet(opts("-o"))

      case other =>
        System.err.println(s"unknown verb: $other")
        sys.exit(2)
    }
    // in-process callers (tests) share the session via getOrCreate and set
    // this property so one verb invocation doesn't tear the session down
    if (!sys.props.contains("graft.cli.keepSession")) spark.stop()
  }
}
