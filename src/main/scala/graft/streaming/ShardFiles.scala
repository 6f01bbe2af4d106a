package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.api.{ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{InputFile, OutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.spark.graft.TaskStoreIO

/** Task-side I/O of an ingest store's data files, through the parquet-hadoop
  * writer and reader in Spark's jars: a task writes its file straight into
  * the store, with no write job, commit protocol or staging directory, and
  * reads the files the commit log names without a Spark scan. A file holds
  * rows (bucket, sketch, batch_id), which this writer declares required;
  * files of Spark's writer (the same columns, optional) read the same way.
  * Both directions enter their bytes in the task's metrics.
  */
private[streaming] object ShardFiles {

  /** One shard version of a data file. */
  final case class Shard(bucket: Long, sketch: Array[Byte], batchId: Long)

  private val Schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message spark_schema { required int64 bucket; required binary sketch; required int64 batch_id; }")

  private final class Support extends WriteSupport[Shard] {
    private var out: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(Schema, java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(rc: RecordConsumer): Unit = out = rc
    override def write(s: Shard): Unit = {
      out.startMessage()
      out.startField("bucket", 0); out.addLong(s.bucket); out.endField("bucket", 0)
      out.startField("sketch", 1); out.addBinary(Binary.fromConstantByteArray(s.sketch)); out.endField("sketch", 1)
      out.startField("batch_id", 2); out.addLong(s.batchId); out.endField("batch_id", 2)
      out.endMessage()
    }
  }

  private final class Builder(file: OutputFile) extends ParquetWriter.Builder[Shard, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Shard] = new Support
  }

  /** A reader of `file` under the file's own conf: the builder over a
    * path would load a fresh `Configuration`'s XML defaults for every file.
    */
  private final class Reader(file: InputFile) extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport
  }

  /** Write `shards` to the new file `path` (an existing one fails the
    * write) and return its length in bytes. A sketch blob repeats only by
    * chance, so its column is written without a dictionary, which would be
    * built over whole blobs and then dropped.
    */
  def write(path: Path, shards: Iterator[Shard], conf: Configuration, codec: CompressionCodecName): Long = {
    val w = new Builder(HadoopOutputFile.fromPath(path, conf)).withConf(conf).withCompressionCodec(codec)
      .withDictionaryEncoding("sketch", false)
      .withWriteMode(ParquetFileWriter.Mode.CREATE).build()
    try shards.foreach(w.write) finally w.close()
    val bytes = path.getFileSystem(conf).getFileStatus(path).getLen
    TaskStoreIO.wrote(bytes)
    bytes
  }

  /** The shards of `path` that `keep(bucket, batchId)` selects. */
  def read(path: Path, conf: Configuration)(keep: (Long, Long) => Boolean): Vector[Shard] = TaskStoreIO.reading {
    val r = new Reader(HadoopInputFile.fromPath(path, conf)).build()
    try Iterator.continually(r.read()).takeWhile(_ != null)
      .filter(g => keep(g.getLong("bucket", 0), g.getLong("batch_id", 0)))
      .map(g => Shard(g.getLong("bucket", 0), g.getBinary("sketch", 0).getBytes, g.getLong("batch_id", 0)))
      .toVector
    finally r.close()
  }
}
