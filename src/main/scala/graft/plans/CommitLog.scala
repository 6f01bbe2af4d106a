package graft.plans

import com.fasterxml.jackson.databind.JsonNode
import graft.operators.BqfParams
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The routing a sharded index store is built under: its bucket count and
  * sketch params. The sketch addresses a fingerprint by its high bits, so a
  * query or an ingest under another routing would answer or append wrong
  * counts silently; every log entry records it, and readers and writers
  * refuse a mismatch.
  */
final case class Routing(nBuckets: Int, qBits: Int, countBits: Int, hashBits: Int,
                         kTokens: Int, zTokens: Int, seed: Long) {
  private[plans] def values: Seq[(String, Long)] = Seq(
    "nBuckets" -> nBuckets.toLong, "qBits" -> qBits.toLong, "countBits" -> countBits.toLong,
    "hashBits" -> hashBits.toLong, "kTokens" -> kTokens.toLong, "zTokens" -> zTokens.toLong,
    "seed" -> seed)

  def json: String = values.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** "field: store=a call=b" for every field that differs from `call`. */
  def conflicts(call: Routing): Seq[String] =
    values.zip(call.values).collect { case ((k, a), (_, b)) if a != b => s"$k: store=$a call=$b" }
}

object Routing {
  def apply(nBuckets: Int, p: BqfParams): Routing =
    Routing(nBuckets, p.qBits, p.countBits, p.hashBits, p.kTokens, p.zTokens, p.seed)

  private[plans] val Fields: Seq[String] = Routing(0, 0, 0, 0, 0, 0, 0L).values.map(_._1)
}

/** One shard version a log entry names: its bucket, the batch that wrote it,
  * and its lineage — the fingerprint rows merged into the shard over all its
  * versions, and how many batch merges built it.
  */
final case class LoggedShard(bucket: Long, batchId: Long, rowsConsumed: Long, mergeDepth: Int)

/** One data file of the store directory, with the shard rows it holds. */
final case class LoggedFile(name: String, bytes: Long, shards: Seq[LoggedShard])

/** One commit of an index store, under the store's routing: the files batch
  * `batchId` added or, for a checkpoint, every live file as of `batchId`,
  * superseding each entry at or below it.
  */
final case class LogEntry(batchId: Long, checkpoint: Boolean, routing: Routing, files: Seq[LoggedFile]) {
  def fileName: String = if (checkpoint) s"$batchId.checkpoint.json" else s"$batchId.json"
}

/** The log folded on the driver: the newest checkpoint, then the batch
  * entries above it in id order, each shard replacing its bucket's last.
  * A log whose entries disagree on the routing is refused.
  */
final case class LogState(entries: Seq[LogEntry]) {
  /** The routing every entry records; None for a log with no entry. */
  val routing: Option[Routing] = {
    val by = entries.groupBy(_.routing)
    require(by.size <= 1, s"${CommitLog.DirName} entries disagree on the store's routing: " +
      by.map { case (r, es) => es.map(_.fileName).sorted.mkString("", ", ", s" record ${r.json}") }.toSeq.sorted.mkString("; "))
    by.keys.headOption
  }
  private val base = entries.filter(_.checkpoint).maxByOption(_.batchId)
  /** Every id at or below this is committed by the newest checkpoint. */
  val through: Long = base.fold(-1L)(_.batchId)
  /** Entries the newest checkpoint replaced; a compaction deletes them. */
  val superseded: Seq[LogEntry] = entries.filter(e => e.batchId <= through && !base.contains(e))
  /** The batch entries above the newest checkpoint, in id order. */
  val pending: Seq[LogEntry] = entries.filter(e => !e.checkpoint && e.batchId > through).sortBy(_.batchId)
  /** bucket -> (its live shard version, the file holding it). */
  val live: Map[Long, (LoggedShard, LoggedFile)] =
    (base.toSeq ++ pending).flatMap(_.files.flatMap(f => f.shards.map(s => s.bucket -> (s, f)))).toMap
  /** The data files the live view may read: every file a current entry names. */
  val files: Set[String] = (base.toSeq ++ pending).flatMap(_.files.map(_.name)).toSet
  val lastId: Long = entries.map(_.batchId).maxOption.getOrElse(-1L)

  def committed(batchId: Long): Boolean = batchId <= through || pending.exists(_.batchId == batchId)
}

/** The `_graft_log` commit log of an index store, its only metadata: one
  * JSON entry per committed batch or compaction, `<batchId>.json` or
  * `<batchId>.checkpoint.json`, each with the store's [[Routing]]. An entry
  * is written to a hidden temp file and renamed into place without
  * overwrite, so a second commit of the same name throws
  * `FileAlreadyExistsException` and the first one stands, and the routing
  * commits with it. Entries are read and written through the raw Hadoop
  * file system with Jackson, and the underscore prefix keeps the log out of
  * parquet reads of the store.
  */
object CommitLog {
  final val DirName = "_graft_log"
  private val EntryName = """(\d+)(\.checkpoint)?\.json""".r
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def dir(storeDir: String): Path = new Path(storeDir, DirName)

  // no checksum side file: entries are small hand-readable records, and a
  // hand edit must not turn into a ChecksumException on the next read
  private def fileSystem(spark: SparkSession, p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  private def json(e: LogEntry): String = {
    val root = mapper.createObjectNode().put("batch_id", e.batchId).put("checkpoint", e.checkpoint)
    val routing = root.putObject("routing")
    e.routing.values.foreach { case (k, v) => routing.put(k, v) }
    val files = root.putArray("files")
    e.files.foreach { f =>
      val fn = files.addObject().put("name", f.name).put("rows", f.shards.size).put("bytes", f.bytes)
      val shards = fn.putArray("shards")
      f.shards.foreach(s => shards.addObject().put("bucket", s.bucket).put("batch_id", s.batchId)
        .put("rows_consumed", s.rowsConsumed).put("merge_depth", s.mergeDepth))
    }
    mapper.writeValueAsString(root)
  }

  /** Parse one entry; IllegalArgumentException when a field is missing or
    * mistyped, the routing record lacks a field or holds an unknown one, or
    * a file's `rows` disagrees with its shard list.
    */
  private def parse(name: String, text: String): LogEntry = {
    def field(n: JsonNode, f: String): JsonNode = {
      val v = if (n == null) null else n.get(f)
      require(v != null, s"$DirName/$name lacks field $f")
      v
    }
    def long(n: JsonNode, f: String): Long = {
      val v = field(n, f)
      require(v.isIntegralNumber && v.canConvertToLong, s"$DirName/$name field $f is not an integer: $v")
      v.longValue
    }
    val root =
      try mapper.readTree(text)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw new IllegalArgumentException(s"$DirName/$name is not valid JSON: ${e.getOriginalMessage}", e)
      }
    val files = field(root, "files").elements().asScala.map { f =>
      val shards = field(f, "shards").elements().asScala.map(s => LoggedShard(long(s, "bucket"),
        long(s, "batch_id"), long(s, "rows_consumed"), long(s, "merge_depth").toInt)).toVector
      require(long(f, "rows") == shards.size, s"$DirName/$name: rows of ${field(f, "name").asText} disagree with its shards")
      LoggedFile(field(f, "name").asText, long(f, "bytes"), shards)
    }.toVector
    require(root.has("routing"), s"$DirName/$name lacks field routing: a store written before its log " +
      "recorded the routing is not read; rebuild it")
    val r = field(root, "routing")
    val names = if (r.isObject) r.fieldNames().asScala.toSet else Set.empty[String]
    def listed(what: String, fs: Iterable[String]) =
      if (fs.isEmpty) None else Some(fs.toSeq.sorted.mkString(s"$what [", ", ", "]"))
    require(r.isObject && names == Routing.Fields.toSet, s"$DirName/$name routing fields do not match: " +
      (listed("missing", Routing.Fields.filterNot(names)) ++ listed("unknown", names -- Routing.Fields)).mkString(", "))
    def int(f: String): Int = {
      val v = long(r, f)
      require(v.isValidInt, s"$DirName/$name routing field $f out of range: $v")
      v.toInt
    }
    LogEntry(long(root, "batch_id"), field(root, "checkpoint").asBoolean,
      Routing(int("nBuckets"), int("qBits"), int("countBits"), int("hashBits"), int("kTokens"), int("zTokens"),
        long(r, "seed")), files)
  }

  /** The store's folded log, or None when it has no log directory. */
  def read(spark: SparkSession, storeDir: String): Option[LogState] = {
    val d = dir(storeDir)
    val fs = fileSystem(spark, d)
    if (!fs.exists(d)) None
    else Some(LogState(fs.listStatus(d).toSeq.map(_.getPath.getName).collect { case n @ EntryName(_, _) =>
      val in = fs.open(new Path(d, n))
      try parse(n, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)) finally in.close()
    }))
  }

  /** Make the (empty) log directory of a new store. */
  def create(spark: SparkSession, storeDir: String): Unit = {
    val d = dir(storeDir)
    fileSystem(spark, d).mkdirs(d)
  }

  /** Commit `e`: throws FileAlreadyExistsException when an entry of the
    * same name is already committed, which then stays as it was.
    */
  def commit(spark: SparkSession, storeDir: String, e: LogEntry): Unit = {
    val d = dir(storeDir)
    val fs = fileSystem(spark, d)
    val tmp = new Path(d, s".${e.fileName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(json(e).getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    try FileContext.getFileContext(d.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(d, e.fileName), Options.Rename.NONE)
    finally fs.delete(tmp, false)
  }

  def delete(spark: SparkSession, storeDir: String, entries: Seq[LogEntry]): Unit = {
    val d = dir(storeDir)
    val fs = fileSystem(spark, d)
    entries.foreach(e => fs.delete(new Path(d, e.fileName), false))
  }
}
