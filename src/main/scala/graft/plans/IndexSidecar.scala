package graft.plans

import graft.operators.BqfParams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The `_graft_index.json` routing sidecar of a sharded index store: the
  * shard count and sketch params the store was built with. A query or an
  * ingest under a different routing would answer or append wrong counts
  * silently, so `build-index` and ingest write this record, and
  * `query-index` and ingest read it back and refuse a mismatch. A sidecar
  * that lacks a field or carries an unknown one is rejected outright.
  * The underscore prefix keeps it invisible to the parquet reader.
  */
final case class IndexSidecar(nBuckets: Int, qBits: Int, countBits: Int, hashBits: Int,
                              kTokens: Int, zTokens: Int, seed: Long) {
  private def values: Seq[(String, Long)] = Seq(
    "nBuckets" -> nBuckets.toLong, "qBits" -> qBits.toLong, "countBits" -> countBits.toLong,
    "hashBits" -> hashBits.toLong, "kTokens" -> kTokens.toLong, "zTokens" -> zTokens.toLong,
    "seed" -> seed)

  def json: String = values.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** "field: store=a call=b" for every field that differs from `call`. */
  def conflicts(call: IndexSidecar): Seq[String] =
    values.zip(call.values).collect { case ((k, a), (_, b)) if a != b => s"$k: store=$a call=$b" }
}

object IndexSidecar {
  final val FileName = "_graft_index.json"

  def apply(nBuckets: Int, p: BqfParams): IndexSidecar =
    IndexSidecar(nBuckets, p.qBits, p.countBits, p.hashBits, p.kTokens, p.zTokens, p.seed)

  private val Fields = Set("nBuckets", "qBits", "countBits", "hashBits", "kTokens", "zTokens", "seed")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse a sidecar; IllegalArgumentException on malformed JSON, a missing
    * or unknown field, or a non-integer value.
    */
  def parse(text: String): IndexSidecar = {
    val node =
      try mapper.readTree(text)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw new IllegalArgumentException(s"$FileName is not valid JSON: ${e.getOriginalMessage}", e)
      }
    require(node != null && node.isObject, s"$FileName is not a JSON object: $text")
    val names = node.fieldNames().asScala.toSet
    def listed(what: String, fs: Set[String]) =
      if (fs.isEmpty) None else Some(fs.toSeq.sorted.mkString(s"$what [", ", ", "]"))
    require(names == Fields, s"$FileName fields do not match: " +
      (listed("missing", Fields -- names) ++ listed("unknown", names -- Fields)).mkString(", "))
    def long(f: String): Long = {
      val v = node.get(f)
      require(v.isIntegralNumber && v.canConvertToLong, s"$FileName field $f is not an integer: $v")
      v.longValue
    }
    def int(f: String): Int = {
      val v = long(f)
      require(v.isValidInt, s"$FileName field $f out of range: $v")
      v.toInt
    }
    IndexSidecar(int("nBuckets"), int("qBits"), int("countBits"), int("hashBits"),
      int("kTokens"), int("zTokens"), long("seed"))
  }

  private def path(storeDir: String): Path = new Path(storeDir, FileName)

  // no checksum side file: the sidecar and the commit log are small
  // hand-readable records, and a hand edit must not turn into a
  // ChecksumException on the next read
  private[plans] def fileSystem(spark: SparkSession, p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** The store's sidecar, or None when it has none. */
  def read(spark: SparkSession, storeDir: String): Option[IndexSidecar] = {
    val p = path(storeDir)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(parse(text))
    }
  }

  def write(spark: SparkSession, storeDir: String, sidecar: IndexSidecar): Unit = {
    val p = path(storeDir)
    val out = fileSystem(spark, p).create(p, true)
    try out.write(sidecar.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }
}
