package graft

import graft.core.BackpackFilter
import graft.functions.GraftFunctions._
import graft.operators.{BqfParams, BqfQuery, SketchAggregators}
import graft.plans.BqfPipeline
import graft.sources.TokensTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The operator catalog exposed to the driver harness: every entry is a
  * `(SparkSession, sfDir) => DataFrame` over the read-only testdata tables,
  * and [[Queries.oracles]] holds the DuckDB-executable exact SQL for each
  * oracle-checkable entry (column names match exactly — the driver sorts
  * columns by name before hashing).
  *
  * Sketch-backed queries (q01-q03) are the point of the library: Spark
  * computes through the distributed BQF; the oracle recomputes exactly in
  * SQL. They agree because exact counters with countBits=20 never saturate
  * at these scales and the 2^-32 FP bound makes false hits on the probe sets
  * vanishingly unlikely.
  */
object Queries {

  /** Text-shingle sketch parameters: 8-char shingles, 48-bit fingerprints,
    * 20-bit exact counters (r = 48 - q >= 28 -> FP <= 2^-28 at q=20).
    */
  val TextParams: BqfParams = BqfParams(qBits = 15, countBits = 20, hashBits = 48,
    kTokens = 8, zTokens = 0, seed = 0L)
  val ShingleN = 8

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Parallelize a parallelism-deficient scan (guide §2.5, input side): the
    * sf corpora are single small parquet files, so a bare corpus scan runs
    * as ONE task and everything fused into it — the rolling shingle
    * kernels, explodes, map-side partial aggregates — serializes on one
    * core (measured: the q05 shingle-set derivation spent 2.5 s in a
    * single scan task at 32 cores). A round-robin exchange of the raw
    * documents (~10 MB here) is orders of magnitude cheaper than
    * single-threading the kernels. Scale-adaptive, not a local constant:
    * the repartition only fires when the scan has fewer partitions than
    * the session's parallelism — a production corpus scan has thousands of
    * splits and this is a no-op.
    */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** DuckDB-side (doc_id, shingle) window CTE shared by the oracles. */
  private def shinglesSql(n: Int): String =
    s"""SELECT doc_id, substr(text, u, $n) AS shingle FROM (
       |  SELECT doc_id, text, unnest(generate_series(1, length(text)-${n - 1}))::INT AS u
       |  FROM documents WHERE length(text) >= $n)""".stripMargin

  /** The cache-key form of an input dir: the dir plus a digest of every
    * leaf file's (path, length, mtime), so a dir rewritten with another
    * corpus gets a new key instead of the results of its old files.
    */
  private def dirKey(spark: SparkSession, dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).sortBy(_.getPath.toString).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else md.update(s"${st.getPath}|${st.getLen}|${st.getModificationTime}\n".getBytes("UTF-8"))
      }
    walk(root)
    s"$dir@${md.digest().take(8).map(b => f"$b%02x").mkString}"
  }

  /** Build the text-shingle BQF for a scale dir and return a query handle:
    * the cached sorted index shards folded by [[BqfPipeline.mergeShards]],
    * the same blob [[BqfPipeline.buildGlobal]] builds.
    */
  def buildTextSketch(spark: SparkSession, dir: String): BqfQuery = {
    val bytes = sessionCached(spark, s"text|${dirKey(spark, dir)}|$TextParams|$ShingleN") {
      BqfPipeline.mergeShards(textShards(spark, dir))
    }
    new BqfQuery(spark, bytes)
  }

  /** The 32-shard text-shingle index shards, materialized once per session:
    * q01's merged sketch, q23's enumerate and q30's sharded point queries
    * all consume the IDENTICAL (bucket, sketch) rows and each used to
    * rebuild them from the corpus (~1 s each at sf0.1). Pure function of
    * the input dir + TextParams, so the cached derivation is
    * indistinguishable from a rebuild — same rationale as [[shingleDict]].
    */
  private def textShards(spark: SparkSession, dir: String): DataFrame =
    sessionCached(spark, s"textshards|${dirKey(spark, dir)}|$TextParams|$ShingleN") {
      val fps = shingle_fingerprints(col("text"), ShingleN, TextParams.hashBits, TextParams.seed)
      BqfPipeline.buildIndexSorted(
        spread(docs(spark, dir)).filter(length(col("text")) >= ShingleN), fps, TextParams, nBuckets = 32)
        .localCheckpoint()
    }

  private def fpOfShingle = (c: org.apache.spark.sql.Column) =>
    element_at(shingle_fingerprints(c, ShingleN, TextParams.hashBits, TextParams.seed), 1)

  /** Session-scoped cache of derived inputs, keyed on (input files,
    * params): built sketch blobs, probe DataFrames, staged paths. Catalog
    * entries stay self-contained (any entry run alone still builds what it
    * needs) while a full catalog pass stops rebuilding the same text sketch
    * for q01/q02/q03 — the catalog then measures query cost, not rebuild
    * cost. Each key is a pure function of the inputs, so a cached value is
    * indistinguishable from a rebuild. Some values belong to the session
    * that built them (localCheckpoint blocks, staged files tracked by that
    * session), so the map is weak-keyed on the session: entries vanish with
    * it and can never serve a dead session's blocks to a live one.
    */
  private val sessionCache =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Any]]()

  private[graft] def sessionCached[T](spark: SparkSession, key: String)(make: => T): T = {
    val m = sessionCache.synchronized {
      // a cached DataFrame strongly references its session, which pins the
      // weak key — so weak keys alone never collect an entry. Evict stopped
      // sessions eagerly instead: the cache is then bounded by the number
      // of LIVE sessions in the process.
      val it = sessionCache.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      var mm = sessionCache.get(spark)
      if (mm == null) {
        mm = new java.util.concurrent.ConcurrentHashMap[String, Any]()
        sessionCache.put(spark, mm)
      }
      mm
    }
    // get, make, putIfAbsent — not computeIfAbsent: a maker may itself read
    // this map (the text sketch folds the cached text shards), and a
    // computeIfAbsent mapping function must not update its own map (it
    // throws "Recursive update" when the two keys share a bin).
    // Two racing makers build the same value; the first one stays.
    val hit = m.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val made = make
      val prev = m.putIfAbsent(key, made)
      (if (prev == null) made else prev).asInstanceOf[T]
    }
  }

  /** The distinct-shingle probe dictionary (shingle, fp) for a scale dir,
    * materialized once per session. Seven catalog entries probe the same
    * dictionary through different sketch/store paths (direct, oom, persist,
    * sharded index, streamed store, second-emit naming), and each used to
    * re-explode and re-deduplicate the corpus to derive the identical
    * input. Same rationale as [[sessionCached]]: the dictionary is a pure
    * function of the input dir, so the cached derivation is
    * indistinguishable from a rebuild — the entries keep measuring their
    * own probe/query cost, any entry run alone still derives what it
    * needs, and the checkpoint blocks are executor-local MEMORY_AND_DISK
    * (the standard shared-scan materialization, same at 1000 executors).
    */
  private def shingleDict(spark: SparkSession, dir: String): DataFrame =
    sessionCached(spark, s"dict|${dirKey(spark, dir)}|$ShingleN") {
      // dedup keyed on the 8-byte kernel fingerprint with the string riding
      // as first(shingle) (r8): the aggregation hash table and the exchange
      // then key on longs instead of 8-char strings — the map-side partial
      // first() keeps the exchange at one (fp, shingle) row per distinct
      // shingle per partition, q26's shape. fp<->shingle is 1:1 at 48 bits
      // and these cardinalities, so first() is deterministic (all values
      // for a key are the identical string) and the dict is unchanged.
      // Fingerprints come from ONE rolling-kernel pass per document
      // (posexplode of the window array), not a per-occurrence re-hash of
      // each materialized substring — substring(text, pos+1, n) with the
      // 0-based pos reproduces exactly the window the kernel hashed.
      spread(docs(spark, dir)).filter(length(col("text")) >= ShingleN)
        .select(col("text"), posexplode(shingle_fingerprints(
          col("text"), ShingleN, TextParams.hashBits, TextParams.seed)).as(Seq("pos", "fp")))
        .select(col("fp"), expr(s"substring(text, pos + 1, $ShingleN)").as("shingle"))
        .groupBy("fp").agg(first("shingle").as("shingle"))
        .select("shingle", "fp")
        .localCheckpoint()
    }

  /** The corpus text staged as a 2-file parquet directory for the two
    * streaming entries (2 files -> 2 AvailableNow micro-batches = one
    * cross-batch boundary each). Staged once per session: the staging
    * write is setup, not the operator under test — q32 and q33 read the
    * same immutable files through their own fresh checkpoints/stores.
    */
  private def stagedTextDir(spark: SparkSession, dir: String): String =
    sessionCached(spark, s"staged|${dirKey(spark, dir)}|$ShingleN") {
      val inDir = java.nio.file.Files.createTempDirectory("graft-stage").toString + "/in"
      docs(spark, dir).filter(length(col("text")) >= ShingleN)
        .select("text").repartition(2).write.parquet(inDir)
      inDir
    }

  // =====================================================================
  // q01-q03: BQF sketch queries with exact SQL oracles
  // =====================================================================

  /** Abundance of every distinct shingle, answered by the sketch. */
  def q01BqfAbundance(spark: SparkSession, dir: String): DataFrame = {
    val q = buildTextSketch(spark, dir)
    shingleDict(spark, dir)
      .withColumn("abund", q.abundanceOf(col("fp")))
      .select("shingle", "abund")
  }

  /** The reference's `filter` verb: shingles seen at least twice. */
  def q02BqfFilterGe2(spark: SparkSession, dir: String): DataFrame =
    q01BqfAbundance(spark, dir).filter(col("abund") >= 2)

  /** Membership over a mixed present/absent probe set. */
  def q03BqfMembership(spark: SparkSession, dir: String): DataFrame = {
    val q = buildTextSketch(spark, dir)
    // no spread() before this scan: measured and removed (OPTIMIZATION_r08 #12)
    val present = docs(spark, dir)
      .filter(col("doc_id") % 7 === 0 && length(col("text")) >= ShingleN)
      .select(col("text"), explode(sequence(lit(1), length(col("text")) - (ShingleN - 1))).as("u"))
      .select(expr(s"substring(text, u, $ShingleN)").as("probe")).distinct()
    val absent = spark.range(0, 1000)
      .select(format_string("zzq%05d", col("id")).as("probe"))
    present.unionAll(absent)
      .withColumn("present", q.containsOf(fpOfShingle(col("probe"))))
      .select("probe", "present")
  }

  // =====================================================================
  // q04-q11: training-data pipeline operators (dedup, similarity, text)
  // =====================================================================

  /** Exact deduplication: group identical texts, keep the minimum doc_id.
    * The window is keyed by md5(text), not the raw body, so the exchange
    * moves (16-byte digest, doc_id) instead of whole documents — same
    * answer (collision odds 2^-128), ~docsize/32x less shuffle.
    */
  def q04DedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("h")
    docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("keeper", min("doc_id").over(w))
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
      .select("doc_id", "keeper", "is_dup")
  }

  /** Exact n-gram Jaccard similarity over discriminative (rare) 12-char
    * shingles: pairs with similarity >= 0.3. The rare-shingle restriction
    * bounds the inverted-index join fan-out (a hot shingle contributes
    * count^2 pairs), which is what makes this plan survive scale-up.
    */
  def q05NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // shingle identity is its 64-bit rolling-window hash, computed by the
    // codegen kernel straight off the document's byte array: no 12-char
    // substring is ever materialized (the old explode(substring)+xxhash64
    // built ~2 strings per input byte before hashing them), and every
    // downstream distinct/count/join moves 8-byte longs (collision odds
    // ~n^2/2^65 — immaterial up to ~10^8 distinct shingles; the pair set
    // is unchanged)
    // the rare-shingle set is session-cached: the recall audit re-runs this
    // exact derivation right after the catalog pass, and the set is a pure
    // function of the input dir (same rationale as shingleDict)
    val rs = q05RareShingles(spark, dir)
    // per-doc rare-shingle counts: a tiny (doc_id, n) aggregate attached to
    // the pair results via broadcast joins AFTER the pair aggregation —
    // r8 shape. The old plan carried n as a window column over rs (one
    // extra exchange + sort by doc_id before the checkpoint) and dragged it
    // through the self-join into first() aggregates; sizes is O(n_docs)
    // rows at any scale while the pair stream is the big side, so the
    // window never paid for itself.
    val sizes = rs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    rs.as("a").join(rs.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(sizes.select(col("doc_id").as("a_id"), col("n").as("na"))), "a_id")
      .join(broadcast(sizes.select(col("doc_id").as("b_id"), col("n").as("nb"))), "b_id")
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= 0.3)
      .select("a_id", "b_id", "jac")
  }

  /** The distinct rare-shingle (doc_id, shingle-id) set q05 self-joins —
    * materialized once per session (localCheckpoint, executor-local
    * MEMORY_AND_DISK blocks) and PARTITIONED+SORTED BY the join key `s`, so
    * the self-join reuses one exchange's layout for both sides instead of
    * re-shuffling (guide §2.4: two operations keyed the same way share one
    * exchange). Session-cached because the recall audit re-derives the
    * identical set minutes after the catalog entry does.
    *
    * The anti-join excludes the SMALL hot side (count > 20): in long-tail
    * text nearly every shingle is rare, so the exclusion set is the hot
    * one — round 1 broadcast the rare set itself, guaranteed OOM at scale.
    * The hot side is NOT hint-forced onto a broadcast: |hot| grows with
    * corpus size, AQE picks broadcast while it fits and falls back to a
    * shuffled anti-join beyond — correctness identical either way,
    * asserted by the two-sf no-broadcast A/B in SparkE2ESpec.
    */
  private def q05RareShingles(spark: SparkSession, dir: String): DataFrame =
    sessionCached(spark, s"q05rare|${dirKey(spark, dir)}") {
      val sh = spread(docs(spark, dir)).filter(length(col("text")) >= 12)
        .select(col("doc_id"),
          explode(shingle_fingerprints(col("text"), 12, 64, 0L)).as("s")).distinct()
        .localCheckpoint()
      val hot = sh.groupBy("s").count().filter(col("count") > 20).select("s")
      sh.join(hot, Seq("s"), "left_anti")
        .repartition(col("s")).sortWithinPartitions("s")
        .localCheckpoint()
    }

  /** MinHash-LSH near-dup candidates: 64-slot signatures, 16 bands x 4 rows;
    * pairs colliding in >= 1 band. The scale path for q05 (no oracle: LSH is
    * probabilistic; recall vs the exact answer is property-tested).
    */
  def q06MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // signatures materialized once (session-cached localCheckpoint): the
    // 64-slot rolling kernel over every document window is the dominant
    // cost, and the self-join below otherwise re-runs it for EACH side
    // (and the recall audit re-runs the whole entry right after the
    // catalog pass). ~(8 + 64*8) B/doc — far smaller than the corpus.
    val sig = sessionCached(spark, s"q06sig|${dirKey(spark, dir)}") {
      spread(docs(spark, dir))
        .select(col("doc_id"), minhash_signature(col("text"), 12, 64, 0L).as("sig"))
        .localCheckpoint()
    }
    // the band key is the raw 4-slot tuple, not a rehash of it: exact
    // bucket identity (no cross-tuple hash collisions) and exactly
    // reproducible by the DuckDB oracle. At petabyte scale the exchange
    // would key on a hash of the tuple to narrow the shuffle; the tuple
    // itself stays the comparison key either way.
    val bands = sig.select(col("doc_id"),
        posexplode(expr("transform(sequence(0, 15), b -> slice(sig, b * 4 + 1, 4))")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("band_matches"))
  }

  /** SimHash signatures (near-dup by small Hamming distance). */
  def q07Simhash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), simhash(col("text"), 12, 0L).as("sig"))

  /** Per-document quality metrics (length / word / distinct-word / stopword
    * ratios) — all integer-derived, so they agree bit-for-bit with SQL.
    */
  def q08TextQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars2"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("n_words"),
      size(array_distinct(expr("regexp_extract_all(text, '[a-z]+', 0)"))).cast("long").as("n_distinct_words"),
      length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").as("n_alpha"),
      expr("(length(text) - length(replace(text, ' ', ''))) * 100L div length(text)").as("space_pct"),
      expr("(length(text) - length(replace(text, ' the ', ''))) div 5").cast("long").as("the_count"))

  /** Token counting: whitespace tokens and a BPE-ish regex tokenization. */
  def q09TokenCounts(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, '[^ ]+', 0)")).cast("long").as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]', 0)")).cast("long").as("n_bpe_tokens"))

  /** Heuristic language id from stopword-occurrence scores (same arithmetic
    * on both engines; the synthetic text is English-like so the value is the
    * operator shape, not accuracy).
    */
  def q10LangId(spark: SparkSession, dir: String): DataFrame = {
    def hits(word: String) =
      (length(col("text")) - length(replace(col("text"), lit(s" $word "), lit("")))) / lit(word.length + 2)
    docs(spark, dir).select(
        col("doc_id"), col("lang"),
        hits("the").as("en_score"),
        (hits("le") + hits("la") + hits("et")).as("fr_score"),
        (hits("der") + hits("und")).as("de_score"))
      .withColumn("predicted_lang",
        when(col("en_score") >= col("fr_score") && col("en_score") >= col("de_score"), "en")
          .when(col("fr_score") >= col("de_score"), "fr")
          .otherwise("de"))
      .select("doc_id", "lang", "predicted_lang")
  }

  /** Whole-document fingerprints (md5 — identical in both engines; the
    * library's rolling-hash fingerprint is q-tested separately).
    */
  def q11DocFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), md5(col("text")).as("fp_md5"))

  /** q35: intra-document repetition scoring — the repeated-n-gram quality
    * filters of a large-scale training-data pipeline (the Gopher-style
    * "fraction of duplicate n-grams" / "most common n-gram" family; Rae et
    * al. 2021, table A1). Every metric is a per-row higher-order function
    * over the document's own word array: duplicate fractions via
    * `size - size(array_distinct)`, the top-3-gram occurrence count via a
    * run-length `aggregate` over the SORTED gram array (O(w log w) per doc
    * — not the O(w^2) count-each-distinct shape). Zero shuffle, fully
    * codegen, embarrassingly parallel: at 100 TB this is a pure map over
    * the corpus scan, the ideal quality-filter plan.
    */
  def q35Repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws", expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .withColumn("g2", expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws)-1),
          |                 i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1)))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .withColumn("g3", expr(
        """CASE WHEN size(ws) >= 3
          |  THEN transform(sequence(1, size(ws)-2),
          |                 i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2)))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .select(
        col("doc_id"),
        size(col("g2")).cast("long").as("n_2grams"),
        size(col("g3")).cast("long").as("n_3grams"),
        expr("CASE WHEN size(g2) = 0 THEN 0.0D ELSE CAST(size(g2) - size(array_distinct(g2)) AS DOUBLE) / size(g2) END")
          .as("dup_2gram_frac"),
        expr("CASE WHEN size(g3) = 0 THEN 0.0D ELSE CAST(size(g3) - size(array_distinct(g3)) AS DOUBLE) / size(g3) END")
          .as("dup_3gram_frac"),
        expr(
          """aggregate(array_sort(g3),
            |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
            |  (a, x) -> named_struct(
            |    'prev', x,
            |    'run', IF(a.prev <=> x, a.run + 1L, 1L),
            |    'best', greatest(a.best, IF(a.prev <=> x, a.run + 1L, 1L))),
            |  a -> a.best)""".stripMargin).as("top_3gram_count"))

  // =====================================================================
  // q12-q15: relational coverage (agg / join / window / sessionize)
  // =====================================================================

  def q12LangSourceStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))

  /** TPC-H Q1-style aggregation (decimal-exact sums cast back to double). */
  def q13PricingSummary(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2).cast("double").as("sum_base_price"),
        count(lit(1)).as("count_order"))

  /** Join + top-k: highest-revenue orders. No broadcast hint: orders is a
    * fact table (1:4 with lineitem), not a dimension — at 100x scale
    * broadcasting it would OOM, and AQE already picks broadcast locally
    * when the build side is small enough.
    */
  def q14TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    // aggregate lineitem BEFORE the join (r8): o_orderpriority is
    // functionally dependent on the join key, so grouping by l_orderkey
    // first and joining orders after is the identical result (decimal sums
    // are exact, hence order-insensitive) — the join then processes one row
    // per order instead of one per line item, and the aggregation's
    // partial/final pair keys on a bare bigint instead of (bigint, string)
    val rev = li.groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))), 2)
        .cast("double").as("revenue"))
    rev.join(o.select("o_orderkey", "o_orderpriority"), "o_orderkey")
      .select("o_orderkey", "o_orderpriority", "revenue")
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Sessionization: 30-minute-gap sessions per user (window functions; the
    * batch shape of the streaming session operator).
    */
  def q15Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("t"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val flagged = e.withColumn("prev", lag("t", 1).over(w))
      .withColumn("new_s", when(col("prev").isNull || col("t") - col("prev") > 1800000000L, 1).otherwise(0))
    flagged.withColumn("sess", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id")
      .agg(max("sess").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** JSON extraction from event properties. */
  def q16JsonProps(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .agg(count(lit(1)).as("n"))

  // =====================================================================
  // q17+: similarity search / tokens-table / companion sketches (rows-only)
  // =====================================================================

  /** Brute-force cosine top-3 neighbors for the first 20 vectors (exact ANN
    * baseline; double-precision sequential dot products).
    */
  def q17EmbeddingTopK(spark: SparkSession, dir: String): DataFrame = {
    // norms are precomputed per vector BEFORE the cross join — recomputing
    // them per pair would redo an O(d) reduction n_q * n times; float_dot
    // is the codegen kernel (same left-to-right double summation as the
    // lambda form it replaced, so the DuckDB oracle is unchanged)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    val joined = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      .crossJoin(emb.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn")))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", float_dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
    joined.withColumn("rank",
        row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid")
  }

  /** Banded sign-LSH approximate top-3 neighbors — the LSH scale path for
    * q17, same output shape (qid, rank, nid) so recall is directly
    * comparable (RecallAudit / BENCH/RECALL.md).
    *
    * Round-3's single 16-bit signature required ALL 16 hyperplane signs to
    * agree, and the committed recall measurement exposed that as recall
    * 0.0 on this corpus: true top-3 neighbors here sit at cosine ~0.34
    * (p_agree per bit ~0.61), so one 16-bit table collides with probability
    * ~0.61^16 ~ 4e-4. The standard fix is banding (q06's shape): 64
    * seed-derived hyperplanes split into 16 bands x 4 bits; a candidate
    * shares ANY band bucket (per-edge recall 1-(1-p^4)^16 ~ 0.9 at p=0.61),
    * then candidates are re-ranked by exact cosine and cut to top-3.
    * The candidate fraction this buys at a weak similarity gap is the
    * honest cost and is measured in RECALL.md — on data this close to
    * orthogonal, IVF (q24) is the better scale path, which is exactly what
    * the committed numbers now show.
    *
    * Scale shape: probes (tiny) broadcast onto the banded index; the corpus
    * never self-joins; re-rank touches only candidates.
    */
  def q18EmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val T = 16
    val b = 4
    // one materialization serves all three consumers (band index, probe
    // side, re-rank side): without it each side re-reads the parquet and
    // re-runs the 64-plane signature kernel — the dominant per-row cost —
    // and the recall audit re-runs the whole entry right after the catalog
    val emb = sessionCached(spark, s"q18emb|${dirKey(spark, dir)}") {
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"),
          sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"),
          hyperplane_sig(col("embedding"), T * b, 0L).as("sig"))
        .localCheckpoint()
    }
    // (vec_id, band, bucket) index: band t's bucket is bits [t*b, (t+1)*b)
    val bands = emb.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${T - 1}), t -> named_struct(" +
        s"'band', t, 'bucket', shiftright(sig, t * $b) & ${(1 << b) - 1}))")).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val probes = bands.filter(col("vec_id") < 20).withColumnRenamed("vec_id", "qid")
    val candidates = broadcast(probes).join(bands, Seq("band", "bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid")).distinct()
    // exact re-rank over candidates only
    val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val n = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"))
    candidates.join(q, "qid").join(n, "nid")
      .withColumn("sim", float_dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank",
        row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid")
  }

  /** Shared params for the tokens-table queries: s = k - z = 6-token
    * s-grams, 16-bit exact counters.
    */
  private val TokParams = BqfParams(qBits = 14, countBits = 16, hashBits = 48, kTokens = 8, zTokens = 2)

  /** sf-scaled row count for the synthetic tokens table, parsed from the
    * scale-dir name (round 1 hardcoded 2000/1000 — VERDICT item 7):
    * sf0.001 -> 500 (clamp), sf0.01 -> 2000, sf0.1 -> 20000.
    */
  private[graft] def tokensRowsFor(dir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.01)
    math.max(500L, (sf * 200000).round)
  }

  /** Persist the deterministic synthetic tokens table so the driver's DuckDB
    * oracle can read the very rows the query consumed (the table is a pure
    * function of (seed, rowIndex), so this is just a cache). The path
    * encodes the row count: runs at different scale factors never clobber
    * the oracle's sf0.01 table. It resolves against the working directory,
    * so each checkout reads and writes its own `target/`.
    */
  private[graft] def tokensOraclePath(nRows: Long): String =
    java.nio.file.Paths.get("target", s"tokens_oracle_$nRows.parquet").toAbsolutePath.toString

  private def ensureTokensParquet(spark: SparkSession, nRows: Long): Unit = {
    val path = tokensOraclePath(nRows)
    if (!new java.io.File(path, "_SUCCESS").exists())
      TokensTable.dataframe(spark, nRows).write.mode("overwrite").parquet(path)
  }

  /** IVF-style approximate nearest neighbors — the third point on the ANN
    * scale path (q17 exact brute force, q18 LSH buckets, q24 IVF cells):
    * a deterministic coarse quantizer (unit-normalized centroids = the
    * first 16 vectors) assigns every vector to its best cell; probes search
    * only their top-2 cells. At scale the assignment is a narrow map (16
    * fused dot products per row) and the index would be WRITTEN partitioned
    * by cell, so a probe's candidate scan is partition-pruned to
    * nprobe/k of the data; here the probe side (20 x 2 cells) broadcasts.
    * Fully deterministic, so the DuckDB oracle replays it exactly.
    */
  def q24EmbeddingIvf(spark: SparkSession, dir: String): DataFrame = {
    val k = 16
    val nprobe = 2
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // unit centroids, driver-side (k tiny and deterministic: vec_id < k)
    val cents: Array[Seq[Double]] = emb.filter(col("vec_id") < k).orderBy("vec_id")
      .select("embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](0).map(_.toDouble)
        val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
        v.map(_ / nrm)
      }
    // codegen kernel for the 16 centroid dot products (r8): the old
    // aggregate(zip_with(...)) higher-order form is CodegenFallback —
    // interpreted lambda dispatch per ELEMENT x 16 cells x every row; the
    // kernel runs the identical left-to-right double summation (float
    // widened per term) in one static call per cell, bit-identical results
    val dot = (h: Seq[Double]) => float_double_dot(col("embedding"), typedLit(h))
    // struct(sim, cid) sorts/maxes lexicographically -> argmax with cid tiebreak
    val cellStructs = array((0 until k).map(i => struct(dot(cents(i)).as("sim"), lit(i).as("cid"))): _*)
    // assignment materialized once (session-cached): probes and the
    // assigned side both consume it, and the recall audit re-runs the
    // entry right after the catalog pass
    val base = sessionCached(spark, s"q24base|${dirKey(spark, dir)}") {
      emb.select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"), cellStructs.as("cs"))
        .localCheckpoint()
    }
    val assigned = base.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"),
      array_max(col("cs")).getField("cid").as("cell"))
    val probes = base.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"),
        explode(expr(s"transform(slice(sort_array(cs, false), 1, $nprobe), x -> x.cid)")).as("cell"))
    broadcast(probes).join(assigned, "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", float_dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid")
  }

  /** Tokens-table flagship: per-source BQF sketches over the synthetic
    * Iceberg-shaped table (validated rows), reporting per-source distinct
    * s-gram counts from the sketch. Oracle: COUNT(DISTINCT 6-token window)
    * per source — exact because 48-bit fingerprints make collisions
    * vanishingly unlikely at these cardinalities.
    */
  def q19TokensPerSource(spark: SparkSession, dir: String): DataFrame = {
    val nRows = tokensRowsFor(dir)
    ensureTokensParquet(spark, nRows)
    val df = TokensTable.validated(TokensTable.dataset(spark, nRows)).toDF()
    val fps = sgram_fingerprints(col("tokens"), TokParams.sTokens, TokParams.hashBits, TokParams.seed)
    BqfPipeline.buildPerSource(df, fps, col("doc_id"), col("source"), TokParams, salts = 4)
      .select(col("source"),
        udf((b: Array[Byte]) => BackpackFilter.deserialize(b).distinctCount).apply(col("sketch")).as("distinct_sgrams"))
      .orderBy("source")
  }

  /** Fimpera sequence-query stats over the tokens table: every doc queried
    * against the global sketch. Oracle: per-position s-gram corpus counts,
    * windowed min over z+1 consecutive positions (= the Fimpera k-gram
    * estimate), aggregated per doc — exact counters make the two agree.
    */
  def q20TokensSeqStats(spark: SparkSession, dir: String): DataFrame = {
    val nRows = tokensRowsFor(dir)
    ensureTokensParquet(spark, nRows)
    val df = TokensTable.dataframe(spark, nRows)
    val fps = sgram_fingerprints(col("tokens"), TokParams.sTokens, TokParams.hashBits, TokParams.seed)
    val bytes = sessionCached(spark, s"tok|$nRows|$TokParams") {
      BqfPipeline.buildGlobal(df, fps, TokParams)
    }
    val q = new BqfQuery(spark, bytes)
    df.withColumn("st", q.sequenceStatsOf(col("tokens")))
      .select(col("doc_id"), col("st.minimum").as("min_abund"),
        col("st.maximum").as("max_abund"), col("st.presenceRatio").as("presence"))
  }

  /** Companion sketches side by side: HLL distinct estimate, exact distinct,
    * count-min totals per source over text shingles.
    *
    * The HLL feeds on the splitmix64(poly31) shingle fingerprint family
    * (same deliberate choice as q06/q07: equivalent avalanche quality,
    * exactly reproducible in portable integer SQL) with `rehash = false` —
    * the registers, the ordered 2^-M sum, and the raw estimator formula
    * are exact IEEE arithmetic the DuckDB oracle replays bit-for-bit. The
    * one transcendental op — ln() in the linear-counting correction, which
    * DOES fire at this corpus's per-source shingle cardinalities (3-9k
    * distinct, well under 2.5m = 40960) — is only specified to 1 ulp
    * cross-engine, but the final Math.round to an integer absorbs any
    * sub-1e-10 discrepancy unless the estimate sits within ~1e-10 of a
    * rounding boundary; verified hash-exact at sf0.01 AND sf0.1.
    */
  def q21SketchCompare(spark: SparkSession, dir: String): DataFrame = {
    val fps = sm_shingle_fingerprints(col("text"), ShingleN, 0L)
    val hll = SketchAggregators.hllOverFingerprintArrays(p = 14, rehash = false)
    docs(spark, dir).filter(length(col("text")) >= ShingleN)
      .groupBy("source")
      .agg(hll(fps).as("hll_distinct"),
        countDistinct(col("text")).as("distinct_texts"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** Quantile sketches over event values: t-digest and KLL estimates next
    * to the exact percentile, per event type (rows-only: approximate ops;
    * error bounds are property-tested in the sketch suites).
    */
  def q22Quantiles(spark: SparkSession, dir: String): DataFrame = {
    val td = SketchAggregators.tdigest(compression = 100)
    val kll = SketchAggregators.kll(k = 200)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val sketched = ev.groupBy("event_type")
      .agg(td(col("value")).as("td"), kll(col("value")).as("kll"),
        expr("percentile(value, 0.5)").as("exact_p50"),
        expr("percentile(value, 0.95)").as("exact_p95"))
    val tdQ = udf((b: Array[Byte], q: Double) => graft.sketch.TDigest.deserialize(b).quantile(q))
    val kllQ = udf((b: Array[Byte], q: Double) => graft.sketch.KllSketch.deserialize(b).quantile(q))
    sketched.select(col("event_type"),
        tdQ(col("td"), lit(0.5)).as("td_p50"), kllQ(col("kll"), lit(0.5)).as("kll_p50"),
        col("exact_p50"),
        tdQ(col("td"), lit(0.95)).as("td_p95"), kllQ(col("kll"), lit(0.95)).as("kll_p95"),
        col("exact_p95"))
      .orderBy("event_type")
  }

  /** Distributed enumerate (explode-the-sketch): build the 32-shard text
    * index via the sorted scale path, stream every (fingerprint, abundance)
    * entry out of the shards — nothing driver-side — and histogram the
    * abundances, which SQL checks exactly (fingerprint<->shingle is 1:1 at
    * 48 bits and these cardinalities).
    */
  def q23EnumerateIndex(spark: SparkSession, dir: String): DataFrame = {
    val shards = textShards(spark, dir)
    BqfPipeline.enumerateIndex(shards)
      .groupBy(col("abundance").as("abund"))
      .agg(count(lit(1)).as("n_fps"))
  }

  /** Order-of-magnitude counter codec end to end (ref bqf_oom.cpp:118-125):
    * counted-fingerprint build (the reference's counted-s-mer input shape,
    * abstract_bqf.cpp:22-52) into an OOM-mode sketch — stored =
    * floor(log2(count)) — then every distinct shingle's abundance queried
    * back, decoding to 2^stored. The codec is deterministic, so DuckDB can
    * recompute it exactly with integer arithmetic (1 << (bits(count)-1)).
    */
  def q25OomAbundance(spark: SparkSession, dir: String): DataFrame = {
    val OomParams = BqfParams(qBits = 15, countBits = 6, hashBits = 48,
      mode = graft.core.CountMode.OrderOfMagnitude, kTokens = 8, zTokens = 0, seed = 0L)
    val bytes = sessionCached(spark, s"oom|${dirKey(spark, dir)}|$OomParams|$ShingleN") {
      // hash BEFORE the count: the exchange moves 8-byte fingerprints, not
      // shingle strings (fp<->shingle is 1:1 at 48 bits and these
      // cardinalities, so per-fp counts == per-shingle counts)
      val counted = docs(spark, dir).filter(length(col("text")) >= ShingleN)
        .select(explode(shingle_fingerprints(col("text"), ShingleN, OomParams.hashBits, OomParams.seed)).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("cnt"))
      val bqf = SketchAggregators.bqfOverCountedFingerprints(OomParams)
      counted.agg(bqf(col("fp"), col("cnt")).as("sketch")).head().getAs[Array[Byte]](0)
    }
    val q = new BqfQuery(spark, bytes)
    shingleDict(spark, dir)
      .withColumn("abund_oom", q.abundanceOf(col("fp")))
      .select("shingle", "abund_oom")
  }

  /** Counting-filter second-occurrence emit, batch form (ref
    * bqf_cf.cpp:119-183): every shingle OCCURRENCE streams through a 1-bit
    * BQF via addReturningSecond, which returns true exactly on the count
    * transition 1 -> 2; occurrences are shuffled by fingerprint first so all
    * occurrences of a shingle meet in one task — the distributed layout that
    * makes local 1->2 transitions globally correct. The emitted set is
    * order-invariant (= shingles seen >= 2 times), so SQL checks it exactly.
    */
  def q26CfSecondEmit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cfParams = BqfParams(qBits = 15, countBits = 1, hashBits = 48,
      kTokens = 8, zTokens = 0, seed = 0L)
    // The occurrence shuffle carries ONLY the 8-byte fingerprint (round 3
    // carried (shingle, fp) — the string rode along solely so the emit
    // could name it, multiplying the exchange width by the shingle length
    // PER OCCURRENCE). The emitted fingerprints are then named by joining
    // the distinct-shingle dictionary: its exchange moves one (fp, shingle)
    // row per distinct shingle per input partition (map-side partial
    // first()), which on duplicate-heavy corpora is far below the
    // occurrence count — the shape that holds at 100 TB.
    val occurrences = spread(docs(spark, dir)).filter(length(col("text")) >= ShingleN)
      .select(explode(shingle_fingerprints(
        col("text"), ShingleN, TextParams.hashBits, TextParams.seed)).as("fp"))
    val emitted = occurrences
      .repartition(col("fp"))
      .as[Long]
      .mapPartitions { it =>
        val f = cfParams.fresh()
        it.filter(fp => f.addReturningSecond(fp))
      }
      .toDF("fp")
    emitted.join(shingleDict(spark, dir), "fp").select("shingle")
  }

  /** Embedding-cosine near-duplicate detection — the dedup flavor of the
    * ANN family: every pair with cosine similarity >= 0.4, exact (the
    * deterministic baseline an approximate pass is recalled against; at
    * corpus scale the candidate set comes from the q18 LSH buckets or q24
    * IVF cells instead of the O(n^2) self-join, exactly as for text
    * near-dup q05 -> q06). Norms are precomputed per vector before the
    * join; the pair dot product is the same sequential double reduction
    * the DuckDB oracle replays.
    */
  def q27EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    // float_dot is the codegen'd kernel (higher-order aggregate/zip_with is
    // CodegenFallback: interpreted lambda dispatch per element x 12.5M
    // candidate pairs at sf0.1 cost 12 s; the kernel runs the identical
    // left-to-right double summation in one static call per row — 6x)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"))
    emb.select(col("vec_id").as("a_id"), col("embedding").as("av"), col("nrm").as("an"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("bv"), col("nrm").as("bn")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", float_dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("sim") >= 0.4)
      .select("a_id", "b_id", "sim")
  }

  /** Deletion end to end (ref bqf_ec.cpp:30-146 counted remove / counter
    * sub; the reference's own test suite is remove-heavy,
    * cqf_test.cpp:311-501): build the counted sketch over every shingle
    * occurrence, REMOVE the deterministic multiset of occurrences coming
    * from every 5th document, then query every distinct shingle's remaining
    * abundance — including fully-removed shingles, whose slots are
    * STRUCTURALLY deleted (occupied-bit/runend repair, back-shifts), so the
    * probe must come back 0, not stale.
    *
    * Distributed shape: fingerprints route to buckets by their high bits
    * (the same partitioning the sharded index uses), each task owns its
    * bucket's filter — adds, removes, and probes all local to the task, no
    * driver funnel. At 100 TB this is the per-shard deletion stream applied
    * to a persisted shard, exactly how reshardMerge lays the index out.
    */
  def q28BqfRemove(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val params = TextParams
    val nBuckets = 32
    val shift = BqfPipeline.bucketShift(params.hashBits, nBuckets)
    // occurrence counts ride the 8-byte fingerprint (rolling kernel off the
    // document bytes, no substring materialization, q26's exchange shape);
    // the cached dictionary joins the name back AFTER the aggregate — one
    // (fp, shingle) row per distinct shingle, not per occurrence
    val perShingle = docs(spark, dir).filter(length(col("text")) >= ShingleN)
      .select(col("doc_id"), explode(shingle_fingerprints(
        col("text"), ShingleN, params.hashBits, params.seed)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("total"),
        count(when(col("doc_id") % 5 === 0, 1)).as("removed"))
      .join(shingleDict(spark, dir), "fp")
    perShingle.select(col("shingle"), col("fp"), col("total"), col("removed"))
      .as[(String, Long, Long, Long)]
      .groupByKey { case (_, fp, _, _) => fp >>> shift }
      .flatMapGroups { (_, it) =>
        val rows = it.toVector
        val f = params.fresh()
        // insert everything, then remove the deletion multiset, then probe:
        // the reference harness's own order (insert-all / remove-subset /
        // query-all)
        rows.foreach { case (_, fp, total, _) => f.add(fp, total) }
        rows.foreach { case (_, fp, _, removed) => if (removed > 0) f.remove(fp, removed) }
        rows.iterator.map { case (sh, fp, _, _) => (sh, f.abundance(fp)) }
      }
      .toDF("shingle", "abund_after")
  }

  /** Sketch persistence end to end (ref save_on_disk/load_from_disk,
    * abstract_bqf.cpp:512-529 / bqf_ec.cpp:156-178): the built text sketch
    * is saved to a file, loaded back in a fresh deserialization, and every
    * distinct shingle's abundance is answered THROUGH THE LOADED COPY.
    * Results must be identical to q01's direct-build answers, so the q01
    * oracle SQL checks the whole save → load → broadcast → query chain —
    * the previously unit-only §2.a save/load rows become driver-visible.
    */
  def q29SketchPersist(spark: SparkSession, dir: String): DataFrame = {
    val built = buildTextSketch(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-q29").resolve("sketch.bqf").toString
    BackpackFilter.saveToFile(built.filter, path)
    val loaded = new BqfQuery(spark, BackpackFilter.loadFromFile(path).serialize())
    shingleDict(spark, dir)
      .withColumn("abund_loaded", loaded.abundanceOf(col("fp")))
      .select("shingle", "abund_loaded")
  }

  /** Distributed point queries THROUGH THE SHARDED INDEX (no broadcast, no
    * merge-to-one): the probe set is bucket-routed to shard reducers by the
    * same fingerprint high bits the build used
    * ([[BqfPipeline.queryIndex]]) — the query path once the index exceeds
    * broadcast size. Answers must equal q01's broadcast-sketch counts, so
    * the q01 oracle checks build → shard → route → task-local probe end to
    * end. Emits are named via the distinct-shingle dictionary (8-byte fps
    * on the probe exchange, q26's shape).
    */
  def q30IndexQuery(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = 32
    val shards = textShards(spark, dir)
    val dict = shingleDict(spark, dir)
    val answered = BqfPipeline.queryIndex(shards, dict.select("fp"), TextParams, nBuckets)
    dict.join(answered, "fp").select(col("shingle"), col("abundance").as("abund_idx"))
  }

  /** Deletion through an ORDER-OF-MAGNITUDE sketch (ref bqf_oom.cpp:27-108):
    * oom counters store floor(log2(count)) and cannot meaningfully
    * subtract, so the reference's oom remove is STRUCTURAL-ONLY — any
    * remove deletes the slot outright (no partial-decrement branch, unlike
    * the exact-counter remove q28 exercises). Build the counted oom sketch
    * over every shingle occurrence (q25's codec), structurally remove every
    * shingle that appears in any doc_id % 5 == 0 document, then probe all
    * distinct shingles: removed ones must answer exactly 0 (occupied-bit /
    * runend repair, back-shifts), survivors the codec's 2^floor(log2(total)).
    *
    * Distributed shape = q28's: fingerprints route to buckets by their high
    * bits, each task owns its bucket's filter, adds/removes/probes all
    * task-local — the per-shard deletion stream applied to a persisted
    * shard at 100 TB.
    */
  def q31OomRemove(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val params = BqfParams(qBits = 15, countBits = 6, hashBits = 48,
      mode = graft.core.CountMode.OrderOfMagnitude, kTokens = 8, zTokens = 0, seed = 0L)
    val nBuckets = 32
    val shift = BqfPipeline.bucketShift(params.hashBits, nBuckets)
    // same narrow-shuffle shape as q28: counts per fingerprint, name joined
    // from the cached dictionary after the aggregate
    val perShingle = docs(spark, dir).filter(length(col("text")) >= ShingleN)
      .select(col("doc_id"), explode(shingle_fingerprints(
        col("text"), ShingleN, params.hashBits, params.seed)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("total"),
        max((col("doc_id") % 5 === 0).cast("int")).as("hit"))
      .join(shingleDict(spark, dir), "fp")
    perShingle.select(col("shingle"), col("fp"), col("total"), col("hit"))
      .as[(String, Long, Long, Int)]
      .groupByKey { case (_, fp, _, _) => fp >>> shift }
      .flatMapGroups { (_, it) =>
        val rows = it.toVector
        val f = params.fresh()
        rows.foreach { case (_, fp, total, _) => f.add(fp, total) }
        rows.foreach { case (_, fp, _, hit) => if (hit == 1) f.remove(fp) }
        rows.iterator.map { case (sh, fp, _, _) => (sh, f.abundance(fp)) }
      }
      .toDF("shingle", "abund_after_oom")
  }

  /** STREAMING ingest under q01's exact oracle: the corpus arrives as a
    * Structured Streaming file source split into multiple micro-batches
    * (maxFilesPerTrigger=1 + AvailableNow), each batch's fingerprints merged
    * into the persisted multi-version shard store by the same
    * [[graft.streaming.IndexIngest.ingestBatch]] that
    * [[graft.streaming.StreamingOps.indexIngest]]'s foreachBatch invokes;
    * answers come back bucket-routed through the live view
    * (currentShards -> queryIndex, no broadcast, no merge-to-one). Counts
    * are exact because cross-batch shard merges ADD counters (saturation
    * untouched at this scale), so the result must hash-match the batch
    * abundance oracle — the streaming twin of q30's batch build.
    *
    * At 100 TB this is the continuous-corpus lifecycle made driver-visible
    * end to end: ingest touches only the buckets a batch hits, the store is
    * append-only parquet, and queries never depend on WHICH batch boundary
    * a document landed on (merge associativity, property-tested, is what
    * makes the answer split-invariant).
    */
  def q32StreamIngest(spark: SparkSession, dir: String): DataFrame = {
    // 16 ingest buckets (was 32): per-batch cost is O(batch + touched
    // shards), so halving the shard count halves the per-batch merge-task
    // overhead while the store stays genuinely multi-bucket (routing,
    // pruning, and the no-broadcast query path are unchanged) — r6 verdict
    // #3: the catalog wall budget is ≤60 s and q32/q33 were ~20 s of it
    val nBuckets = 16
    val tmp = java.nio.file.Files.createTempDirectory("graft-q32").toString
    val store = s"$tmp/store"; val ckpt = s"$tmp/ckpt"
    val d = docs(spark, dir).filter(length(col("text")) >= ShingleN)
    // the corpus is staged as TWO files so AvailableNow replays it as two
    // micro-batches: the store then goes through a real cross-batch shard
    // merge, not one bulk append — the minimum that proves
    // merge-across-batches at all (each extra micro-batch costs ~2-3 s of
    // trigger overhead in the catalog; StreamingSpec exercises deeper
    // batch ladders). Staging is session-cached setup shared with q33;
    // only `text` is staged — the stream reads nothing else.
    val inDir = stagedTextDir(spark, dir)
    val stream = spark.readStream.schema(d.select("text").schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    // each micro-batch is ONE staged file -> one scan task; the round-robin
    // exchange parallelizes the shingle kernel over the session's cores
    // (same rationale as the batch-side spread helper)
    val fps = stream.repartition(spark.sparkContext.defaultParallelism)
      .select(explode(shingle_fingerprints(
        col("text"), ShingleN, TextParams.hashBits, TextParams.seed)).as("fp"))
    val q = fps.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.streaming.IndexIngest.ingestBatch(batch, batchId, TextParams, nBuckets, store)
      }
      .start()
    q.awaitTermination()
    val dict = shingleDict(spark, dir)
    val answered = BqfPipeline.queryIndex(
      graft.streaming.IndexIngest.currentShards(spark, store),
      dict.select("fp"), TextParams, nBuckets)
    dict.join(answered, "fp").select(col("shingle"), col("abundance").as("abund_stream"))
  }

  /** The reference's ONLINE counting filter (bqf_cf.cpp:119-205) as a real
    * streaming query under q02's exact oracle: fingerprints arrive in
    * micro-batches, [[graft.streaming.StreamingOps.secondOccurrences]]
    * keeps sharded BQF state via flatMapGroupsWithState and emits each
    * fingerprint exactly when its SECOND occurrence is seen. The emitted
    * SET is batching-invariant — a fingerprint's count crosses 2 exactly
    * once no matter where the micro-batch boundaries fall — so the result
    * must hash-match the batch `HAVING count >= 2` oracle. q26 proves the
    * same semantics on the batch path; this entry proves the stateful
    * streaming operator itself (state round-trips through the store between
    * micro-batches, emission deduplicates across them).
    */
  def q33StreamSecondEmit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q33").toString
    val ckpt = s"$tmp/ckpt"; val outDir = s"$tmp/out"
    val d = docs(spark, dir).filter(length(col("text")) >= ShingleN)
    // two input files -> two micro-batches: second occurrences that
    // STRADDLE the batch boundary only emit if the sharded state really
    // persisted across batches (one boundary = the minimum that proves it —
    // same budget rationale as q32; the staged files are the session-cached
    // setup shared with q32, read through this entry's own checkpoint)
    val fps = spark.readStream.schema(d.select("text").schema)
      .option("maxFilesPerTrigger", 1).parquet(stagedTextDir(spark, dir))
      // one staged file per micro-batch -> parallelize the kernel (see q32)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode(shingle_fingerprints(
        col("text"), ShingleN, TextParams.hashBits, TextParams.seed)).as("fp"))
      .as[Long]
    // 8 state shards, not 32: state-task scheduling is per-shard-per-batch
    // overhead, and at sf0.1 each shard still holds ~100k+ fingerprints —
    // the sharding semantics (cross-shard merge of emitted sets) are
    // unchanged, just at catalog-friendly cost
    val emitted = graft.streaming.StreamingOps.secondOccurrences(
      fps, nShards = 8, qBits = 10, hashBits = TextParams.hashBits)
    // state-task partitioning matched to the shard count (r8): the stateful
    // exchange's partition count is pinned at first checkpoint from
    // spark.sql.shuffle.partitions, and any partitions beyond nShards host
    // EMPTY state stores that still pay create/snapshot/commit per
    // micro-batch (32-partition session default = 24 dead stores x batches
    // here; the same mismatch wastes state-store instances at any scale).
    // Scoped to this stream's start and restored right after.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q = emitted.toDF("fp").writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .start()
      // conf restored only after the stream terminates: the stateful
      // operator's partition count is captured at first-batch construction,
      // which runs async after start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    shingleDict(spark, dir)
      .join(spark.read.parquet(outDir), "fp").select("shingle")
  }

  /** Minimum distinct overlapping shingles before a training document is
    * flagged as contaminated (the sf0.01 corpus puts every truly
    * overlapping doc far above this — see BENCH/PLANS_r5.md).
    */
  val DeconThreshold = 20

  /** q34: benchmark decontamination — THE production use of a membership
    * sketch in a training-data pipeline. The held-out set (doc_id % 13 == 0,
    * standing in for an eval benchmark) is indexed into a BQF; the training
    * corpus streams its shingles through the broadcast sketch's codegen
    * membership expression and any document sharing >= [[DeconThreshold]]
    * distinct shingles with the held-out set is flagged with its overlap
    * count. The contains() filter runs BEFORE the (doc_id, shingle)
    * distinct, so only contaminated shingle occurrences ever reach a
    * shuffle — at 100 TB the scan stays map-side except for the survivors.
    * Exact vs the SQL oracle for the same reason as q01/q03: r >= 28 makes
    * false positives on these probe cardinalities vanishingly unlikely.
    */
  def q34Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val bytes = sessionCached(spark, s"decon|${dirKey(spark, dir)}|$TextParams|$ShingleN") {
      val fps = shingle_fingerprints(col("text"), ShingleN, TextParams.hashBits, TextParams.seed)
      BqfPipeline.buildGlobal(
        spread(docs(spark, dir)).filter(col("doc_id") % 13 === 0 && length(col("text")) >= ShingleN),
        fps, TextParams)
    }
    val q = new BqfQuery(spark, bytes)
    // the candidate side never materializes a shingle string: the rolling
    // kernel emits each window's fingerprint straight off the document
    // bytes, the sketch filter runs map-side on the fingerprint, and the
    // per-doc distinct counts fingerprints — identical n_hits (fp identity
    // is exactly what the sketch answers on; a within-doc fp collision of
    // two present shingles has odds ~windows^2/2^hashBits, immaterial, and
    // the sf0.01+sf0.1 oracles stay hash-exact)
    spread(docs(spark, dir))
      .filter(col("doc_id") % 13 =!= 0 && length(col("text")) >= ShingleN)
      .select(col("doc_id"), explode(shingle_fingerprints(
        col("text"), ShingleN, TextParams.hashBits, TextParams.seed)).as("fp"))
      .filter(q.containsOf(col("fp")))
      .select("doc_id", "fp").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= DeconThreshold)
  }

  /** q36: multimodal scalar features — the deterministic media corpus
    * (PPM/BMP/WAV/PPM-stream blobs, real encoders) decoded back through the
    * real decoders, reduced to exact-integer per-blob features
    * ([[graft.operators.Multimodal.scalarFeatures]]). The DuckDB oracle
    * recomputes every value from the synthesis formula in closed form
    * (counter-based splitmix64 emulated with 128-bit modular arithmetic —
    * no media decoding in SQL), so a hash match proves encoder byte layout,
    * decoder correctness, and content extraction end to end. Plan shape:
    * zero shuffle — synthesize and decode are one fused mapPartitions over
    * the range; at scale this is the pure-map media-metadata pass of a
    * training pipeline.
    */
  val MediaRows = 200

  def q36MediaFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.scalarFeatures(
      graft.operators.Multimodal.synthesize(spark, MediaRows, partitions = 8)).toDF()

  /** splitmix64 as DuckDB SQL, expanded into lateral-alias stages (DuckDB
    * HUGEINT has no wrapping multiply, so each multiply is emulated in
    * 32-bit limbs mod 2^64). `pfx` names the final alias.
    */
  private def smSql(pfx: String, x: String): String = {
    def mul(a: String, b: String) =
      s"((($a)%4294967296)*(($b)%4294967296) + (((($a)%4294967296)*(($b)//4294967296) + " +
        s"(($a)//4294967296)*(($b)%4294967296))%4294967296)*4294967296) % 18446744073709551616::HUGEINT"
    s"(CAST($x AS HUGEINT) + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS ${pfx}_1, " +
      s"${mul(s"xor(${pfx}_1, ${pfx}_1 >> 30)", "13787848793156543929::HUGEINT")} AS ${pfx}_2, " +
      s"${mul(s"xor(${pfx}_2, ${pfx}_2 >> 27)", "10723151780598845931::HUGEINT")} AS ${pfx}_3, " +
      s"xor(${pfx}_3, ${pfx}_3 >> 31) AS $pfx"
  }

  /** Closed-form DuckDB recomputation of every q07 SimHash signature.
    * The kernel's feature hash is splitmix64(poly31(window) + 0) by design
    * (KGramKernels.simhash) so the oracle can rebuild it exactly: base-31
    * polynomial over each 12-char window's codepoints (ASCII corpus:
    * codepoints == the kernel's code units) in HUGEINT mod-2^64 arithmetic,
    * the same splitmix64 limb emulation as the q36 oracle, then 64 per-bit
    * +-1 vote sums per document and sign -> bit (tie -> 0). Short documents
    * (< 12 chars) sign to 0, matching the kernel's empty-window return.
    */
  /** SQL for the base-31 polynomial of an n-char `shingle` column's
    * codepoints, as HUGEINT terms (sum then % 2^64 = the kernels' wrapping
    * Long arithmetic; ASCII corpus: codepoints == the kernels' code units).
    */
  private def poly31Sql(n: Int): String = {
    val two64 = BigInt(2).pow(64)
    (1 to n).map(j =>
      s"CAST(ascii(substr(shingle, $j, 1)) AS HUGEINT) * ${BigInt(31).modPow(BigInt(n - j), two64)}::HUGEINT").mkString(" + ")
  }

  private def q07OracleSql: String = {
    val mod = "18446744073709551616::HUGEINT"
    val baseSum = poly31Sql(12)
    val voteCols = (0 until 64).map(b =>
      s"SUM(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val sigSum = (0 until 64).map { b =>
      s"CASE WHEN v$b > 0 THEN ${BigInt(2).pow(b)}::HUGEINT ELSE 0::HUGEINT END"
    }.mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, u, substr(text, u, 12) AS shingle
       |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text)-11))::INT AS u
       |        FROM documents WHERE length(text) >= 12)),
       |base AS (SELECT doc_id, CAST(($baseSum) % $mod AS HUGEINT) AS b0 FROM sh),
       |hs AS (SELECT doc_id, ${smSql("h", "b0")} FROM base),
       |votes AS (SELECT doc_id, $voteCols FROM hs GROUP BY doc_id),
       |sigs AS (SELECT doc_id, ($sigSum) AS s FROM votes)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN s IS NULL THEN 0
       |            WHEN s >= 9223372036854775808::HUGEINT THEN s - $mod
       |            ELSE s END AS BIGINT) AS sig
       |FROM documents d LEFT JOIN sigs ON d.doc_id = sigs.doc_id""".stripMargin
  }

  /** Closed-form DuckDB recomputation of the q06 MinHash-LSH candidate
    * pairs. The kernel's slot hash is splitmix64(poly31(window) + j*phi)
    * by design (KGramKernels.minhashSignature), so the oracle rebuilds all
    * 64 signature slots per document (signed-long MIN, matching the
    * kernel's comparison order), forms the same 16 4-slot band tuples, and
    * counts colliding bands per pair — LSH banding is deterministic given
    * the hash family; "probabilistic" only describes its recall vs the
    * exact q05 answer, which BENCH/RECALL.md keeps measuring separately.
    */
  private def q06OracleSql: String = {
    val mod = "18446744073709551616::HUGEINT"
    val golden = "11400714819323198485::HUGEINT"
    s"""WITH shp AS (SELECT DISTINCT doc_id, shingle FROM ($sh12)),
       |uniq AS (SELECT DISTINCT shingle FROM shp),
       |base AS (SELECT shingle, CAST((${poly31Sql(12)}) % $mod AS HUGEINT) AS b0 FROM uniq),
       |js AS (SELECT shingle, b0, CAST(unnest(generate_series(0, 63)) AS HUGEINT) AS j FROM base),
       |xs AS (SELECT shingle, j, (b0 + (j * $golden) % $mod) % $mod AS x FROM js),
       |hs AS (SELECT shingle, j, ${smSql("h", "x")} FROM xs),
       |slots AS (SELECT p.doc_id, h.j,
       |            MIN(CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
       |                          THEN h - $mod ELSE h END AS BIGINT)) AS m
       |          FROM hs h JOIN shp p USING (shingle) GROUP BY p.doc_id, h.j),
       |bands AS (SELECT doc_id, CAST(j // 4 AS INT) AS band, list(m ORDER BY j) AS bucket
       |          FROM slots GROUP BY doc_id, CAST(j // 4 AS INT))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS band_matches
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** Closed-form DuckDB recomputation of the q21 HLL distinct estimate.
    * The sketch feeds on splitmix64(poly31) shingle fingerprints with no
    * rehash, so SQL can rebuild every register: idx = top 14 hash bits,
    * rank = clz(hash << 14) + 1 (bit length via bin()), register-wise MAX
    * per source. The estimator is pure IEEE arithmetic — ordered 2^-M sums
    * (exact powers of two, replayed by the proven list_sum pattern), the
    * alpha formula, and floor(x+0.5) for Math.round — except ln() in the
    * linear-counting branch, which DOES fire at this corpus's per-source
    * cardinalities (3-9k distinct shingles < 2.5m); cross-engine ln agrees
    * to 1 ulp and the integer rounding absorbs it (a flip would need the
    * estimate within ~1e-10 of a .5 boundary). Verified hash-exact at
    * sf0.01 AND sf0.1.
    */
  private def q21OracleSql: String = {
    val mod = "18446744073709551616::HUGEINT"
    s"""WITH shp AS (
       |  SELECT DISTINCT source, substr(text, u, 8) AS shingle
       |  FROM (SELECT source, text, unnest(generate_series(1, length(text)-7))::INT AS u
       |        FROM documents WHERE length(text) >= 8)),
       |uniq AS (SELECT DISTINCT shingle FROM shp),
       |base AS (SELECT shingle, CAST((${poly31Sql(8)}) % $mod AS HUGEINT) AS b0 FROM uniq),
       |hs AS (SELECT shingle, ${smSql("h", "b0")} FROM base),
       |hcells AS (SELECT shingle, CAST(h >> 50 AS INT) AS idx,
       |             CAST((h * 16384) % $mod AS UBIGINT) AS rest FROM hs),
       |regs AS (SELECT p.source, c.idx,
       |           MAX(CASE WHEN c.rest = 0 THEN 51
       |                    ELSE 65 - length(bin(c.rest)) END) AS rk
       |         FROM hcells c JOIN shp p USING (shingle)
       |         GROUP BY p.source, c.idx),
       |srcs AS (SELECT DISTINCT source FROM documents WHERE length(text) >= 8),
       |grid AS (SELECT s.source, g.i FROM srcs s,
       |           (SELECT unnest(generate_series(0, 16383))::INT AS i) g),
       |cells AS (SELECT grid.source, grid.i, COALESCE(regs.rk, 0) AS rk
       |          FROM grid LEFT JOIN regs ON regs.source = grid.source AND regs.idx = grid.i),
       |sums AS (SELECT source,
       |           list_sum(list_transform(list(rk ORDER BY i),
       |             x -> 1.0 / CAST(1::HUGEINT << x AS DOUBLE))) AS ssum,
       |           SUM(CASE WHEN rk = 0 THEN 1 ELSE 0 END) AS zeros
       |         FROM cells GROUP BY source),
       |est AS (SELECT source, zeros,
       |          (0.7213 / (1.0 + 1.079 / 16384.0)) * 16384.0 * 16384.0 / ssum AS raw
       |        FROM sums),
       |hll AS (SELECT source,
       |          CAST(floor(CASE WHEN raw <= 2.5 * 16384.0 AND zeros > 0
       |                          THEN 16384.0 * ln(16384.0 / zeros) ELSE raw END + 0.5) AS BIGINT) AS hll_distinct
       |        FROM est),
       |stats AS (SELECT source, COUNT(DISTINCT text) AS distinct_texts, COUNT(*) AS n_docs
       |          FROM documents WHERE length(text) >= 8 GROUP BY source)
       |SELECT s.source, h.hll_distinct, s.distinct_texts, s.n_docs
       |FROM stats s JOIN hll h USING (source) ORDER BY source""".stripMargin
  }

  /** Closed-form DuckDB recomputation of the q18 hyperplane-LSH pipeline.
    * The kernel derives plane component (p, i) from splitmix64(p*1000003+i)
    * (KGramKernels.hyperplaneSig), so the oracle rebuilds the planes as
    * ORDERED weight lists, takes the same left-to-right double dot products
    * as the proven float_dot/list_sum pattern (q17/q24/q27), forms the same
    * 16 4-bit band buckets from the dot signs, joins the same candidates,
    * and re-ranks exactly. LSH banding is deterministic given the plane
    * family; "probabilistic" only describes recall vs the exact q17 answer,
    * which stays measured in BENCH/RECALL.md.
    */
  private def q18OracleSql: String = {
    val mod = "18446744073709551616::HUGEINT"
    s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |             len(embedding) AS d
       |           FROM read_parquet('$EmbOracleParquet')),
       |pi AS (SELECT p, i, CAST(p * 1000003 + i AS HUGEINT) % $mod AS x
       |       FROM (SELECT unnest(generate_series(0, 63)) AS p),
       |            (SELECT unnest(generate_series(0, (SELECT MAX(d) FROM n) - 1)) AS i)),
       |pw AS (SELECT p, i, ${smSql("h", "x")} FROM pi),
       |wl AS (SELECT p, list(CAST(h >> 11 AS DOUBLE) * 2.220446049250313e-16 - 1.0 ORDER BY i) AS wv
       |       FROM pw GROUP BY p),
       |dots AS (SELECT n.vec_id, wl.p,
       |           list_sum(list_transform(list_zip(n.v, wl.wv[1:n.d]), t -> t[1] * t[2])) AS dot
       |         FROM n, wl),
       |buckets AS (SELECT vec_id, CAST(p // 4 AS INT) AS band,
       |              SUM(CASE WHEN dot > 0 THEN 1 << (p % 4) ELSE 0 END) AS bucket
       |            FROM dots GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
       |         FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
       |         WHERE a.vec_id < 20 AND a.vec_id != b.vec_id),
       |sims AS (SELECT c.qid, c.nid,
       |           list_sum(list_transform(list_zip(q.v, m.v), t -> t[1] * t[2])) / (q.nrm * m.nrm) AS sim
       |         FROM cand c JOIN n q ON q.vec_id = c.qid JOIN n m ON m.vec_id = c.nid)
       |SELECT qid, rank, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM sims)
       |WHERE rank <= 3""".stripMargin
  }

  // =====================================================================
  // registry
  // =====================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_bqf_abundance" -> (q01BqfAbundance _),
    "q02_bqf_filter_ge2" -> (q02BqfFilterGe2 _),
    "q03_bqf_membership" -> (q03BqfMembership _),
    "q04_dedup_exact" -> (q04DedupExact _),
    "q05_ngram_jaccard" -> (q05NgramJaccard _),
    "q06_minhash_lsh" -> (q06MinhashLsh _),
    "q07_simhash" -> (q07Simhash _),
    "q08_text_quality" -> (q08TextQuality _),
    "q09_token_counts" -> (q09TokenCounts _),
    "q10_langid" -> (q10LangId _),
    "q11_doc_fingerprint" -> (q11DocFingerprint _),
    "q12_lang_source_stats" -> (q12LangSourceStats _),
    "q13_pricing_summary" -> (q13PricingSummary _),
    "q14_top_revenue" -> (q14TopRevenue _),
    "q15_sessionize" -> (q15Sessionize _),
    "q16_json_props" -> (q16JsonProps _),
    "q17_embedding_topk" -> (q17EmbeddingTopK _),
    "q18_embedding_lsh" -> (q18EmbeddingLsh _),
    "q19_tokens_per_source" -> (q19TokensPerSource _),
    "q20_tokens_seq_stats" -> (q20TokensSeqStats _),
    "q21_sketch_compare" -> (q21SketchCompare _),
    "q22_quantiles" -> (q22Quantiles _),
    "q23_enumerate_index" -> (q23EnumerateIndex _),
    "q24_embedding_ivf" -> (q24EmbeddingIvf _),
    "q25_bqf_oom_abundance" -> (q25OomAbundance _),
    "q26_cf_second_emit" -> (q26CfSecondEmit _),
    "q27_embedding_neardup" -> (q27EmbeddingNearDup _),
    "q28_bqf_remove" -> (q28BqfRemove _),
    "q29_sketch_persist" -> (q29SketchPersist _),
    "q30_index_query" -> (q30IndexQuery _),
    "q31_oom_remove" -> (q31OomRemove _),
    "q32_stream_ingest" -> (q32StreamIngest _),
    "q33_stream_second_emit" -> (q33StreamSecondEmit _),
    "q34_decontaminate" -> (q34Decontaminate _),
    "q35_repetition" -> (q35Repetition _),
    "q36_media_features" -> (q36MediaFeatures _),
  )

  private val sh8 = shinglesSql(8)
  private val sh12 = shinglesSql(12)

  val oracles: Map[String, String] = Map(
    "q01_bqf_abundance" ->
      s"SELECT shingle, count(*) AS abund FROM ($sh8) GROUP BY shingle",
    // identical counts, but answered through a saved-then-loaded sketch copy
    "q29_sketch_persist" ->
      s"SELECT shingle, count(*) AS abund_loaded FROM ($sh8) GROUP BY shingle",
    // identical counts, but answered through bucket-routed sharded-index
    // probes (no broadcast, no merge)
    "q30_index_query" ->
      s"SELECT shingle, count(*) AS abund_idx FROM ($sh8) GROUP BY shingle",
    // identical counts again, but the corpus arrived as a STREAM: multiple
    // micro-batches merged into the persisted multi-version store, answers
    // bucket-routed off the live view — exactness holds because cross-batch
    // merges add counters (split-invariant by merge associativity)
    "q32_stream_ingest" ->
      s"SELECT shingle, count(*) AS abund_stream FROM ($sh8) GROUP BY shingle",
    // the streaming second-occurrence filter's emitted set == every shingle
    // seen at least twice, no matter where micro-batch boundaries fall
    "q33_stream_second_emit" ->
      s"SELECT shingle FROM ($sh8) GROUP BY shingle HAVING count(*) >= 2",
    // decontamination: training docs sharing >= DeconThreshold distinct
    // shingles with the held-out (doc_id % 13 == 0) set, with the overlap
    // count — the sketch's membership answers replayed as an exact join
    "q34_decontaminate" ->
      s"""WITH sh AS ($sh8),
         |test AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0),
         |hits AS (SELECT DISTINCT s.doc_id, s.shingle
         |         FROM sh s JOIN test t ON s.shingle = t.shingle
         |         WHERE s.doc_id % 13 <> 0)
         |SELECT doc_id, count(*) AS n_hits FROM hits GROUP BY doc_id
         |HAVING count(*) >= $DeconThreshold""".stripMargin,
    "q35_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(ws) >= 2 THEN list_transform(generate_series(1, len(ws)-1),
        |          i -> ws[i] || ' ' || ws[i+1]) ELSE []::VARCHAR[] END AS g2,
        |        CASE WHEN len(ws) >= 3 THEN list_transform(generate_series(1, len(ws)-2),
        |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) ELSE []::VARCHAR[] END AS g3
        |      FROM w),
        |m AS (SELECT doc_id,
        |        CAST(len(g2) AS BIGINT) AS n_2grams, CAST(len(list_distinct(g2)) AS BIGINT) AS d2,
        |        CAST(len(g3) AS BIGINT) AS n_3grams, CAST(len(list_distinct(g3)) AS BIGINT) AS d3,
        |        g3 FROM g),
        |ex AS (SELECT doc_id, unnest(g3) AS gram FROM m),
        |top AS (SELECT doc_id, max(c) AS top3
        |        FROM (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY 1, 2) GROUP BY 1)
        |SELECT m.doc_id, n_2grams, n_3grams,
        |  CASE WHEN n_2grams = 0 THEN 0.0 ELSE CAST(n_2grams - d2 AS DOUBLE) / n_2grams END AS dup_2gram_frac,
        |  CASE WHEN n_3grams = 0 THEN 0.0 ELSE CAST(n_3grams - d3 AS DOUBLE) / n_3grams END AS dup_3gram_frac,
        |  COALESCE(top.top3, 0) AS top_3gram_count
        |FROM m LEFT JOIN top ON m.doc_id = top.doc_id""".stripMargin,
    // q36: the whole media pipeline recomputed in closed form — ids ->
    // dims/rate/frame-count via splitmix64(id..id+2), content bytes via the
    // counter-based stream splitmix64(seed+i) (Multimodal.pix), container
    // sizes from the PPM/BMP/WAV byte-layout formulas
    "q36_media_features" ->
      s"""WITH ids AS (SELECT unnest(generate_series(0, ${MediaRows - 1})) AS id),
         |dims0 AS (SELECT id, ${smSql("sa", "id")}, ${smSql("sb", "id+1")}, ${smSql("sc", "id+2")} FROM ids),
         |meta AS (SELECT id, id % 4 AS k, CAST(16 + (sa % 16) AS BIGINT) AS w,
         |                CAST(16 + (sb % 16) AS BIGINT) AS h,
         |                CAST(8000 + 4000*(sc % 2) AS BIGINT) AS sr,
         |                CAST(4 + (sc % 4) AS BIGINT) AS nf FROM dims0),
         |streams AS (
         |  SELECT id, id*7919 + 3*w*h AS seed, 3*w*h AS len FROM meta WHERE k IN (0,1)
         |  UNION ALL
         |  SELECT id, id*7919 + 2048 AS seed, 2048 AS len FROM meta WHERE k = 2
         |  UNION ALL
         |  SELECT id, (id*31 + f)*7919 + 3*w*h AS seed, 3*w*h AS len
         |  FROM (SELECT id, w, h, unnest(generate_series(0, nf-1)) AS f FROM meta WHERE k = 3)
         |),
         |xs AS (SELECT id, seed + unnest(generate_series(0, len-1)) AS x FROM streams),
         |bytes AS (SELECT id, ${smSql("sv", "x")} FROM xs),
         |sums AS (SELECT id, CAST(SUM(sv % 256) AS BIGINT) AS sb,
         |                CAST(SUM(CASE WHEN sv % 256 >= 128 THEN 1 ELSE 0 END) AS BIGINT) AS nneg,
         |                COUNT(*) AS n
         |         FROM bytes GROUP BY id)
         |SELECT CAST(m.id AS BIGINT) AS media_id,
         |  CASE WHEN m.k IN (0,1) THEN 'image' WHEN m.k = 2 THEN 'audio' ELSE 'video' END AS kind,
         |  CASE WHEN m.k = 1 THEN 'bmp' WHEN m.k = 2 THEN 'wav' ELSE 'ppm' END AS container,
         |  CAST(CASE WHEN m.k = 2 THEN m.sr ELSE m.w END AS BIGINT) AS width,
         |  CAST(CASE WHEN m.k = 2 THEN 1 ELSE m.h END AS BIGINT) AS height,
         |  CAST(CASE WHEN m.k = 2 THEN 2048 WHEN m.k = 3 THEN m.nf ELSE 1 END AS BIGINT) AS frames,
         |  CAST(CASE WHEN m.k = 0 THEN 9 + length(CAST(m.w AS VARCHAR)) + length(CAST(m.h AS VARCHAR)) + 3*m.w*m.h
         |            WHEN m.k = 1 THEN 54 + ((3*m.w + 3)//4*4)*m.h
         |            WHEN m.k = 2 THEN 44 + 2*2048
         |            ELSE m.nf * (9 + length(CAST(m.w AS VARCHAR)) + length(CAST(m.h AS VARCHAR)) + 3*m.w*m.h) END AS BIGINT) AS n_bytes,
         |  CAST(CASE WHEN m.k = 2 THEN (s.sb - 256*s.nneg)*128 ELSE s.sb END AS BIGINT) AS content_sum,
         |  CAST(s.n AS BIGINT) AS content_n,
         |  CAST(CASE WHEN m.k = 2 THEN 2048*1000000//m.sr ELSE 0 END AS BIGINT) AS duration_us
         |FROM meta m JOIN sums s ON m.id = s.id""".stripMargin,
    "q02_bqf_filter_ge2" ->
      s"SELECT shingle, count(*) AS abund FROM ($sh8) GROUP BY shingle HAVING count(*) >= 2",
    "q03_bqf_membership" ->
      s"""WITH allsh AS (SELECT DISTINCT shingle FROM ($sh8)),
         |probes AS (
         |  SELECT DISTINCT shingle AS probe FROM ($sh8) WHERE doc_id % 7 = 0
         |  UNION ALL SELECT printf('zzq%05d', i) FROM generate_series(0, 999) t(i))
         |SELECT probe, probe IN (SELECT shingle FROM allsh) AS present FROM probes""".stripMargin,
    "q04_dedup_exact" ->
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keeper,
        |       doc_id != min(doc_id) OVER (PARTITION BY text) AS is_dup
        |FROM documents""".stripMargin,
    "q05_ngram_jaccard" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle AS s FROM ($sh12)),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
         |rs AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM rs GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
         |          FROM rs a JOIN rs b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT a_id, b_id, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
         |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3""".stripMargin,
    // LSH band-collision candidate pairs recomputed in closed form (was
    // rows-only through r6; the slot hash family is splitmix64-based by
    // design so SQL can replay signatures, band tuples, and pair counts —
    // see q06OracleSql)
    "q06_minhash_lsh" -> q06OracleSql,
    // hyperplane-LSH candidates + exact re-rank recomputed in closed form
    // (was rows-only through r6; the plane family is splitmix64-based by
    // design — see q18OracleSql)
    "q18_embedding_lsh" -> q18OracleSql,
    // every 64-bit SimHash signature recomputed in closed form (was
    // rows-only through r6; the feature hash is splitmix64-based by design
    // so SQL can replay it — see q07OracleSql)
    "q07_simhash" -> q07OracleSql,
    // HLL registers + float estimator recomputed in closed form (was
    // rows-only through r7: the sketch now feeds on the splitmix64 shingle
    // family with no rehash, and the estimator is pure IEEE arithmetic —
    // see q21OracleSql)
    "q21_sketch_compare" -> q21OracleSql,
    "q08_text_quality" ->
      """SELECT doc_id,
        |  length(text) AS n_chars2,
        |  length(regexp_extract_all(text, '[a-z]+')) AS n_words,
        |  length(list_distinct(regexp_extract_all(text, '[a-z]+'))) AS n_distinct_words,
        |  length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
        |  (length(text) - length(regexp_replace(text, ' ', '', 'g'))) * 100 // length(text) AS space_pct,
        |  (length(text) - length(replace(text, ' the ', ''))) // 5 AS the_count
        |FROM documents""".stripMargin,
    "q09_token_counts" ->
      """SELECT doc_id,
        |  length(regexp_extract_all(text, '[^ ]+')) AS n_ws_tokens,
        |  length(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "q10_langid" ->
      """SELECT doc_id, lang,
        |  CASE WHEN en_score >= fr_score AND en_score >= de_score THEN 'en'
        |       WHEN fr_score >= de_score THEN 'fr' ELSE 'de' END AS predicted_lang
        |FROM (SELECT doc_id, lang,
        |  (length(text) - length(replace(text, ' the ', ''))) // 5 AS en_score,
        |  (length(text) - length(replace(text, ' le ', ''))) // 4
        |    + (length(text) - length(replace(text, ' la ', ''))) // 4
        |    + (length(text) - length(replace(text, ' et ', ''))) // 4 AS fr_score,
        |  (length(text) - length(replace(text, ' der ', ''))) // 5
        |    + (length(text) - length(replace(text, ' und ', ''))) // 5 AS de_score
        |FROM documents)""".stripMargin,
    "q11_doc_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents",
    "q12_lang_source_stats" ->
      "SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY lang, source",
    "q13_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q14_top_revenue" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q15_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
        |g AS (SELECT user_id, t, event_id,
        |        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |s AS (SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM g)
        |SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM s GROUP BY user_id""".stripMargin,
    "q16_json_props" ->
      "SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n FROM events GROUP BY 1",
    // deterministic double-precision recompute of the exact ANN baseline:
    // same per-element double casts, same sequential sums, ranks tie-broken
    // by nid on both sides (the driver runs oracles at sf0.01)
    "q17_embedding_topk" ->
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |           FROM read_parquet('$EmbOracleParquet')),
         |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |        list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2])) / (a.nrm * b.nrm) AS sim
         |      FROM n a, n b WHERE a.vec_id < 20 AND a.vec_id != b.vec_id)
         |SELECT qid, rank, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM p)
         |WHERE rank <= 3""".stripMargin,
    // per-source COUNT(DISTINCT 6-token window) over the persisted synthetic
    // tokens table = the sketch's exact distinct count (48-bit fingerprints)
    "q19_tokens_per_source" ->
      s"""SELECT source, count(DISTINCT tokens[u:u+5]) AS distinct_sgrams
         |FROM (SELECT source, tokens, unnest(generate_series(1, n_tok - 5))::INT AS u
         |      FROM read_parquet('$TokOracleParquet'))
         |GROUP BY source""".stripMargin,
    // Fimpera recompute: corpus count per s-gram position, min over the z+1
    // positions under each k-gram, aggregated per doc
    "q20_tokens_seq_stats" ->
      s"""WITH sg AS (
         |  SELECT doc_id, u, n_tok, tokens[u:u+5] AS g
         |  FROM (SELECT doc_id, tokens, n_tok, unnest(generate_series(1, n_tok - 5))::INT AS u
         |        FROM read_parquet('$TokOracleParquet'))),
         |cnt AS (SELECT g, count(*) AS c FROM sg GROUP BY g),
         |kg AS (SELECT doc_id, u, n_tok,
         |         min(c) OVER (PARTITION BY doc_id ORDER BY u ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS kc
         |       FROM sg JOIN cnt USING (g))
         |SELECT doc_id, CAST(min(kc) AS BIGINT) AS min_abund, CAST(max(kc) AS BIGINT) AS max_abund,
         |       CAST(count(*) FILTER (WHERE kc > 0) AS DOUBLE) / count(*) AS presence
         |FROM kg WHERE u <= n_tok - 7 GROUP BY doc_id""".stripMargin,
    // oom codec replay, integer-exact: stored = floor(log2(c)) = bits(c)-1,
    // reported = 2^stored (ref bqf_oom.cpp:118-125)
    "q25_bqf_oom_abundance" ->
      s"""SELECT shingle, CAST(1 AS BIGINT) << (length(bin(count(*))) - 1) AS abund_oom
         |FROM ($sh8) GROUP BY shingle""".stripMargin,
    // cf second-occurrence emit set == shingles occurring at least twice
    // (order-invariant: the 1->2 transition fires exactly once per shingle)
    "q26_cf_second_emit" ->
      s"SELECT shingle FROM ($sh8) GROUP BY shingle HAVING count(*) >= 2",
    // exact cosine near-dup pairs: same per-element double casts and
    // sequential sums as the Spark side (the q17 recipe), raw sim emitted
    "q27_embedding_neardup" ->
      s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |           FROM read_parquet('$EmbOracleParquet'))
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2])) / (a.nrm * b.nrm) AS sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2])) / (a.nrm * b.nrm) >= 0.4""".stripMargin,
    // deletion replay: remaining = GREATEST(total - removed, 0) per shingle
    // (ref bqf_ec.cpp:30-146 semantics; removed <= total here so GREATEST is
    // the documented saturation clause, and fully-removed shingles must
    // report exactly 0 after structural slot deletion)
    "q28_bqf_remove" ->
      s"""SELECT shingle,
         |       GREATEST(CAST(count(*) AS BIGINT)
         |                - CAST(count(*) FILTER (WHERE doc_id % 5 = 0) AS BIGINT),
         |                CAST(0 AS BIGINT)) AS abund_after
         |FROM ($sh8) GROUP BY shingle""".stripMargin,
    // oom deletion replay: a shingle touched by any doc_id % 5 = 0 document
    // is structurally removed (oom counters cannot subtract — ref
    // bqf_oom.cpp:27-108), so it answers 0; survivors answer the oom codec
    // of their TOTAL occurrence count (removal is all-or-nothing)
    "q31_oom_remove" ->
      s"""SELECT shingle,
         |       CASE WHEN count(*) FILTER (WHERE doc_id % 5 = 0) > 0
         |            THEN CAST(0 AS BIGINT)
         |            ELSE CAST(1 AS BIGINT) << (length(bin(count(*))) - 1)
         |       END AS abund_after_oom
         |FROM ($sh8) GROUP BY shingle""".stripMargin,
    // enumerate is oracle-checked through the abundance histogram, which is
    // invariant under the shingle<->fingerprint bijection
    "q23_enumerate_index" ->
      s"""SELECT abund, count(*) AS n_fps FROM (
         |  SELECT count(*) AS abund FROM ($sh8) GROUP BY shingle) GROUP BY abund""".stripMargin,
    // IVF replay: same unit centroids (vec_id < 16), same sequential double
    // sums, same argmax/probe tie-breaks (sim DESC, cid DESC), same final
    // rank tie-break (sim DESC, nid ASC)
    "q24_embedding_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM read_parquet('$EmbOracleParquet')),
         |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         |c AS (SELECT vec_id AS cid, list_transform(v, x -> x / nrm) AS cv FROM n WHERE vec_id < 16),
         |sims AS (SELECT n.vec_id, c.cid,
         |           list_sum(list_transform(list_zip(n.v, c.cv), t -> t[1] * t[2])) AS sim
         |         FROM n, c),
         |ranked AS (SELECT vec_id, cid,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rk
         |           FROM sims),
         |assign AS (SELECT vec_id AS nid, cid AS cell FROM ranked WHERE rk = 1),
         |probes AS (SELECT vec_id AS qid, cid AS cell FROM ranked WHERE rk <= 2 AND vec_id < 20),
         |cand AS (SELECT p.qid, a.nid FROM probes p JOIN assign a USING (cell) WHERE a.nid != p.qid),
         |scored AS (SELECT qid, nid,
         |             list_sum(list_transform(list_zip(q.v, t.v), z -> z[1] * z[2])) / (q.nrm * t.nrm) AS sim
         |           FROM cand JOIN n q ON q.vec_id = qid JOIN n t ON t.vec_id = nid)
         |SELECT qid, rank, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM scored)
         |WHERE rank <= 3""".stripMargin,
  )

  /** Absolute paths the driver's DuckDB oracle reads directly (it creates
    * views only for the shared testdata tables; these two are the
    * query-side deterministic tables). The driver compares at sf0.01.
    */
  private def TokOracleParquet = tokensOraclePath(tokensRowsFor("sf0.01")) + "/*.parquet"
  private def EmbOracleParquet = "/root/testdata/sf0.01/embeddings.parquet"
}
