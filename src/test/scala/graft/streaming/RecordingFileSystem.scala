package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.jdk.CollectionConverters._

/** The local file system, recording the path of every file it opens: a test
  * that serves `file:` with it sees at the file system which files a job
  * read, whichever code read them, on the driver or in a task. It can also
  * hold every file create for a while, so that a test can catch a write
  * that lands late, and hold each open or status lookup of one named path,
  * so that a test can make the task that reads it fail late.
  */
class RecordingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    RecordingFileSystem.opened.add(f.toUri.getPath)
    RecordingFileSystem.holdIfNamed(f)
    super.open(f, bufferSize)
  }

  // a reader looks a file up before it opens it, and a missing file fails there
  override def getFileStatus(f: Path): FileStatus = {
    RecordingFileSystem.holdIfNamed(f)
    super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    RecordingFileSystem.pause(RecordingFileSystem.createDelayMs)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RecordingFileSystem {
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var createDelayMs = 0L
  @volatile private var held: Option[(String, Long)] = None
  private val Keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")

  /** Sleep `ms` uninterruptibly, as a call blocked in the kernel does: a
    * cancelled task's interrupt does not end it early.
    */
  private def pause(ms: Long): Unit = {
    val until = System.nanoTime() + ms * 1000000L
    var interrupted = false
    while (System.nanoTime() < until)
      try Thread.sleep(math.max(1L, (until - System.nanoTime()) / 1000000L))
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }

  private def holdIfNamed(f: Path): Unit =
    held.foreach { case (path, ms) => if (f.toUri.getPath == path) pause(ms) }

  /** Run `body` with `file:` served by a [[RecordingFileSystem]] under
    * `conf` (uncached, so every file system made from `conf` meanwhile is
    * one), each file create held for `createDelayMs` first and each open or
    * status lookup of the path `hold._1` for `hold._2` ms, and return its
    * value with the paths opened meanwhile, in order.
    */
  def recording[T](conf: Configuration, createDelayMs: Long = 0L, hold: Option[(String, Long)] = None)(
      body: => T): (T, Seq[String]) = synchronized {
    val saved = Keys.map(k => k -> Option(conf.get(k)))
    opened.clear()
    this.createDelayMs = createDelayMs
    held = hold
    conf.set("fs.file.impl", classOf[RecordingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val out = body
      (out, opened.asScala.toSeq)
    } finally {
      this.createDelayMs = 0L
      held = None
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }
}
