package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.jdk.CollectionConverters._

/** The local file system, recording the path of every file it opens: a test
  * that serves `file:` with it sees at the file system which files a job
  * read, whichever code read them, on the driver or in a task. It can also
  * hold every file create for a while, so that a test can catch a write
  * that lands late.
  */
class RecordingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    RecordingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    // uninterruptible, as a write blocked in the kernel is: a cancelled
    // task's interrupt does not stop it
    val until = System.nanoTime() + RecordingFileSystem.createDelayMs * 1000000L
    var interrupted = false
    while (System.nanoTime() < until)
      try Thread.sleep(math.max(1L, (until - System.nanoTime()) / 1000000L))
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RecordingFileSystem {
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var createDelayMs = 0L
  private val Keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")

  /** Run `body` with `file:` served by a [[RecordingFileSystem]] under
    * `conf` (uncached, so every file system made from `conf` meanwhile is
    * one), each file create held for `createDelayMs` first, and return its
    * value with the paths opened meanwhile, in order.
    */
  def recording[T](conf: Configuration, createDelayMs: Long = 0L)(body: => T): (T, Seq[String]) = synchronized {
    val saved = Keys.map(k => k -> Option(conf.get(k)))
    opened.clear()
    this.createDelayMs = createDelayMs
    conf.set("fs.file.impl", classOf[RecordingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val out = body
      (out, opened.asScala.toSeq)
    } finally {
      this.createDelayMs = 0L
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }
}
