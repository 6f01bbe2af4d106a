package graft

import graft.core.{BackpackFilter, SequenceStats}
import graft.functions.GraftFunctions._
import graft.operators.{BqfParams, BqfQuery}
import graft.plans.BqfPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Spark-native analogue of the reference CLI's three verbs
  * (/root/reference/src/main.cpp:10-15):
  *
  *   build       -i <tokens parquet> -o <sketch file> [-q Q -c C -k K -z Z]
  *   query       -b <sketch file> -i <tokens parquet> -o <results parquet>
  *   filter      -i <tokens parquet> -o <out path> [-k K] [-f parquet|text|stream]
  *   enumerate   -b <sketch file> -o <out parquet>
  *   export      -b <sketch file (own or reference fmt)> -o <reference .bqf>
  *   build-index -i <tokens parquet> -o <shards parquet> [-n BUCKETS ...]
  *   query-index -b <shards parquet> -i <tokens parquet> -o <out parquet>
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

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Cli build|query|filter|enumerate|export|build-index|query-index -i IN [-b SKETCH] [-o OUT] [-q Q -c C -k K -z Z] [-n BUCKETS] [-f parquet|text]")
      sys.exit(2)
    }
    val verb = args.head
    val opts = parseArgs(args.tail)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${SparkEntry.cpus}]"))
      .appName(s"graft-$verb")
      .config("spark.sql.shuffle.partitions", SparkEntry.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.kryoserializer.buffer.max", "512m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
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
        BackpackFilter.saveToFile(BackpackFilter.deserialize(bytes), opts("-o"))
        println(s"Construction time = ${(System.nanoTime() - t0) / 1000000}ms " +
          s"(${BackpackFilter.deserialize(bytes).distinctCount} distinct s-grams)")

      case "query" =>
        val t0 = System.nanoTime()
        // verb-for-verb migration: a sketch file written by the REFERENCE
        // binary (8xu64 header + table words, abstract_bqf.cpp:512-529) is
        // auto-detected, imported into the DNA hash domain, and answers the
        // reference's own text query surface (DNA sequences in, the same
        // `SequenceN : (min:.., ..)` lines out) — examples/ecoli.cpp:13-34
        // is the usage this covers
        if (graft.sources.ReferenceFormat.isReferenceFile(opts("-b"))) {
          val rf = graft.sources.ReferenceFormat.load(opts("-b"))
          val bf = rf.toBackpackFilter
          import scala.jdk.CollectionConverters._
          val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(opts("-i")))
            .asScala.toVector.filter(_.nonEmpty)
          val seqs = (if (lines.headOption.exists(_.startsWith(">")))
            lines.filterNot(_.startsWith(">")) else lines)
          val out = seqs.zipWithIndex.map { case (seq, i) =>
            val (mn, mx, avg, ratio) = graft.sources.DnaDomain.querySequence(
              seq.trim, rf.header.kmerSize, rf.header.smerSize, bf.abundance)
            s"Sequence${i + 1} : (min:$mn, max:$mx, average:${fmtRefFloat(avg)}, " +
              s"presence ratio:${fmtRefFloat(ratio)})"
          }
          java.nio.file.Files.write(java.nio.file.Paths.get(opts("-o")),
            out.mkString("", "\n", if (out.nonEmpty) "\n" else "").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          println(s"Load + queries time = ${(System.nanoTime() - t0) / 1000000}ms " +
            s"(reference-format index: ${rf.header.elementsInside} smers)")
          if (!sys.props.contains("graft.cli.keepSession")) spark.stop()
          return
        }
        val sketch = BackpackFilter.loadFromFile(opts("-b"))
        val q = new BqfQuery(spark, sketch.serialize())
        val in = opts("-i")
        // the reference's query verb is TEXT-in/TEXT-out: a plain file (one
        // sequence per line) or FASTA ('>'-header dispatch on the first
        // line), emitting `SequenceN : (min:…, max:…, average:…, presence
        // ratio:…)` lines (abstract_bqf.cpp:169-191, main.cpp:105-173,
        // operator<< additional_methods.cpp:312-314). -f text selects that
        // surface here; a non-parquet regular-file input implies it.
        val isText = opts.get("-f").contains("text") ||
          (!in.endsWith(".parquet") && java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(in)))
        if (isText) {
          import scala.jdk.CollectionConverters._
          import spark.implicits._
          val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(in))
            .asScala.toVector.filter(_.nonEmpty)
          // FASTA branch = header lines skipped (the reference assumes
          // strictly alternating header/sequence records; any '>' line is a
          // header here). Sequences are whitespace- or comma-separated
          // integer token ids — this library's alphabet. Numbering is 1..n
          // in input order; the reference's post-increment emits
          // "Sequence1" twice (abstract_bqf.cpp:176-186), a cosmetic defect
          // not replicated (SURVEY §7.4 deviations).
          val seqs = (if (lines.headOption.exists(_.startsWith(">")))
            lines.filterNot(_.startsWith(">")) else lines)
            .zipWithIndex.map { case (s, i) => (i + 1L, s.trim.split("[\\s,]+").map(_.toInt)) }
          // probes run distributed through the codegen sequence-stats
          // expression; the ordered text write is driver-side, matching the
          // reference's single-output-file contract (query files are the
          // probe set — small by construction)
          val rows = spark.createDataset(seqs).toDF("seq_no", "tokens")
            .withColumn("st", q.sequenceStatsOf(col("tokens")))
            .select(col("seq_no"), col("st.minimum"), col("st.maximum"),
              col("st.average"), col("st.presenceRatio"))
            .collect().sortBy(_.getLong(0))
          val out = rows.map(r => s"Sequence${r.getLong(0)} : (min:${r.getLong(1)}, " +
            s"max:${r.getLong(2)}, average:${fmtRefFloat(r.getDouble(3))}, " +
            s"presence ratio:${fmtRefFloat(r.getDouble(4))})")
          java.nio.file.Files.write(java.nio.file.Paths.get(opts("-o")),
            out.mkString("", "\n", if (out.nonEmpty) "\n" else "").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
        } else {
          spark.read.parquet(in)
            .withColumn("st", q.sequenceStatsOf(col("tokens")))
            .select(col("doc_id"), col("st.minimum").as("minimum"),
              col("st.maximum").as("maximum"), col("st.average").as("average"),
              col("st.presenceRatio").as("presence_ratio"))
            .write.mode("overwrite").parquet(opts("-o"))
        }
        println(s"Load + queries time = ${(System.nanoTime() - t0) / 1000000}ms")

      case "filter" =>
        val df = spark.read.parquet(opts("-i"))
        opts.getOrElse("-f", "parquet") match {
          case "text" =>
            // The reference's text sink writes the DECODED k-mer, not its
            // hash (bqf_cf.cpp:186-205 via hash_to_kmer — its xorshift hash
            // is reversible; XXH64 is not, but the CLI has the pre-hash
            // k-grams in hand). Emit `tok,tok,...\tcount`: grouping by the
            // k-gram itself is the human-readable sink — the scale sink
            // below groups by 8-byte fingerprints.
            val k = params.kTokens
            df.filter(size(col("tokens")) >= k)
              .select(explode(expr(
                s"transform(sequence(1, size(tokens) - ${k - 1}), u -> slice(tokens, u, $k))")).as("kgram"))
              .groupBy("kgram").count()
              .filter(col("count") >= 2)
              .select(format_string("%s\t%d", array_join(col("kgram"), ","), col("count")))
              .write.mode("overwrite").text(opts("-o"))
          case "stream" =>
            // the reference's third sink writes to STDOUT (bqf_cf.hpp:6-8
            // output_mode_t stream); same decoded `tok,...\tcount` lines,
            // streamed through toLocalIterator so driver memory stays
            // bounded by one partition
            val k = params.kTokens
            val it = df.filter(size(col("tokens")) >= k)
              .select(explode(expr(
                s"transform(sequence(1, size(tokens) - ${k - 1}), u -> slice(tokens, u, $k))")).as("kgram"))
              .groupBy("kgram").count()
              .filter(col("count") >= 2)
              .select(format_string("%s\t%d", array_join(col("kgram"), ","), col("count")).as("line"))
              .toLocalIterator()
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
          val q = new BqfQuery(spark, BackpackFilter.loadFromFile(opts("-b")).serialize())
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
        // sharded index persisted as a (bucket, sketch) parquet store — the
        // form that scales past broadcast size; query with `query-index`
        val nBuckets = opts.getOrElse("-n", "64").toInt
        val df = spark.read.parquet(opts("-i"))
        val t0 = System.nanoTime()
        BqfPipeline.buildIndexSorted(df,
          sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed),
          params, nBuckets)
          .write.mode("overwrite").parquet(opts("-o"))
        // sidecar records the routing params: a query-index run with a
        // mismatched -n or -q would otherwise route probes to the wrong
        // buckets and answer zeros SILENTLY
        graft.plans.IndexSidecar.write(spark, opts("-o"), graft.plans.IndexSidecar(nBuckets, params))
        println(s"Index construction time = ${(System.nanoTime() - t0) / 1000000}ms ($nBuckets shards)")

      case "query-index" =>
        // point abundance of every distinct s-gram of the input, answered
        // by bucket-routed probes against the sharded store (no broadcast).
        // A store carrying a batch_id column is a streaming/incremental
        // ingest store (multi-version: one row per touched bucket per
        // batch) — the live index is the latest version per bucket, so
        // route through IndexIngest.currentShards; a raw read would hand
        // queryIndex superseded shard versions (it refuses them).
        val raw = spark.read.parquet(opts("-b"))
        val shards =
          if (raw.columns.contains("batch_id"))
            graft.streaming.IndexIngest.currentShards(spark, opts("-b"))
          else raw
        // routing params come from the build's sidecar when present (and a
        // conflicting -n/-k/-z on the command line is an ERROR — wrong
        // routing answers zeros silently); legacy stores without a sidecar
        // fall back to an explicit -n, else REFUSE (no inference)
        val meta = graft.plans.IndexSidecar.read(spark, opts("-b"))
        meta.foreach { m =>
          require(m.kTokens == params.kTokens && m.zTokens == params.zTokens &&
            m.hashBits == params.hashBits && m.seed == params.seed,
            s"query-index params (-k/-z/-h/seed) conflict with the index sidecar: ${m.json}")
        }
        val nBuckets = meta.map { m =>
          opts.get("-n").map(_.toInt).foreach(cli =>
            require(cli == m.nBuckets, s"-n $cli conflicts with the index's ${m.nBuckets} shards (sidecar)"))
          m.nBuckets
        }.orElse(opts.get("-n").map(_.toInt)).getOrElse {
          // no sidecar, no -n: REFUSE rather than infer. next-pow-2 of
          // max(bucket)+1 guesses low whenever the top buckets happen to be
          // unoccupied, and a low guess routes every probe to the wrong
          // shard — zero answers, silently (and head() on an empty store
          // NPEs). Wrong-but-confident routing is the failure mode this
          // verb's sidecar exists to prevent.
          sys.error(s"query-index: ${opts("-b")} has no _graft_index.json sidecar; " +
            "pass the index's shard count explicitly with -n (it must equal the build's -n)")
        }
        val probes = spark.read.parquet(opts("-i"))
          .select(explode(sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)).as("fp"))
          .distinct()
        BqfPipeline.queryIndex(shards, probes, params, nBuckets)
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
