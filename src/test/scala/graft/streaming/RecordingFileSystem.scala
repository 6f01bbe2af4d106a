package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import scala.jdk.CollectionConverters._

/** The local file system, recording the path of every file it opens: a test
  * that serves `file:` with it sees at the file system which files a job
  * read, whichever code read them, on the driver or in a task.
  */
class RecordingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    RecordingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object RecordingFileSystem {
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val Keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")

  /** Run `body` with `file:` served by a [[RecordingFileSystem]] under
    * `conf` (uncached, so every file system made from `conf` meanwhile is
    * one) and return its value with the paths opened meanwhile, in order.
    */
  def recording[T](conf: Configuration)(body: => T): (T, Seq[String]) = synchronized {
    val saved = Keys.map(k => k -> Option(conf.get(k)))
    opened.clear()
    conf.set("fs.file.impl", classOf[RecordingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val out = body
      (out, opened.asScala.toSeq)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
