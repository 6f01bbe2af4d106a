package org.apache.spark.graft

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil

/** Store I/O that a task makes through a Hadoop file system itself, outside
  * Spark's file sources and writers, entered in the running task's input
  * and output metrics the way those do: bytes read as the thread's file
  * system read statistics count them, bytes written as the size of each
  * written file. Stage listeners ([[graft.plans.StageMetrics]]) then see it.
  * The metric setters are private to Spark, hence this package. Outside a
  * task both calls only run or skip.
  */
object TaskStoreIO {

  /** Run `read`; add the bytes this thread read through Hadoop file systems
    * meanwhile to the task's input metrics.
    */
  def reading[T](read: => T): T = {
    val bytes = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    try read
    finally Option(TaskContext.get()).foreach(_.taskMetrics().inputMetrics.incBytesRead(bytes()))
  }

  /** Add a written file of `bytes` to the task's output metrics. */
  def wrote(bytes: Long): Unit = Option(TaskContext.get()).foreach { tc =>
    val m = tc.taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
  }
}
