package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer: `name` is `<module>.<function>`, `parent`
  * the enclosing span (-1 at the root of an op), `op` the op it belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per stage: the op that submitted it, its task run times and its
  * shuffle, input and output byte counts.
  */
final case class StageCounts(stageId: Int, op: Int, wallMs: Long, taskRunMs: Vector[Long],
                             shuffleRead: Long, shuffleWrite: Long, input: Long, output: Long,
                             spill: Long)

/** In-memory spans plus a stage/task listener. Spans are recorded only when
  * tracing is on; `span` is then a plain call. Everything is written out by
  * [[Trace.write]] once the run ends.
  */
final class Trace(spark: org.apache.spark.sql.SparkSession, enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1

  // stage-level counts come from the program's own StageMetrics listener;
  // this listener adds what it lacks: the submitting op and per-task run times
  private val stageMetrics = new graft.plans.StageMetrics
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey))).map(_.toInt).getOrElse(-1)
      stageOp.put(e.stageInfo.stageId, op)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) tasks.synchronized {
        tasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += e.taskMetrics.executorRunTime
      }
  }
  private var active = false
  on = enabled

  def on: Boolean = active
  /** Tracing can be paused, to time untraced ops inside a traced run. The
    * listener bus is drained first, so the listeners see every event of the
    * ops run before the switch and none of the ops run while paused.
    */
  def on_=(v: Boolean): Unit = if (v != active) {
    val sc = spark.sparkContext
    Trace.drain(spark)
    if (v) { sc.addSparkListener(stageMetrics); sc.addSparkListener(listener) }
    else { sc.removeSparkListener(stageMetrics); sc.removeSparkListener(listener) }
    active = v
  }

  /** Start op `id`: later stages and spans are attributed to it. */
  def beginOp(id: Int): Unit = {
    opId = id
    spark.sparkContext.setLocalProperty(Trace.OpKey, id.toString)
  }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, parent, opId, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def allSpans: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Stage counts, after the listener bus has drained. */
  def allStages: Seq[StageCounts] = {
    Trace.drain(spark)
    stageMetrics.all.map { st =>
      StageCounts(st.stageId, stageOp.getOrDefault(st.stageId, -1), st.wallMs,
        tasks.synchronized(Option(tasks.get(st.stageId)).map(_.toVector).getOrElse(Vector.empty)),
        st.shuffleReadBytes, st.shuffleWriteBytes, st.inputBytes, st.outputBytes,
        st.memorySpillBytes + st.diskSpillBytes)
    }
  }

  /** Self time per span: its duration minus the time its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val all = allSpans
    val childSec = all.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    all.map(s => s.id -> (s.seconds - childSec.getOrElse(s.id, 0.0))).toMap
  }

  def detach(): Unit = on = false

  /** Spans and stage counts as JSON lines. */
  def write(path: java.nio.file.Path, stamp: String): Unit = {
    val self = selfSeconds
    val lines = ArrayBuffer(s"""{"stamp":$stamp}""")
    allSpans.foreach { s =>
      lines += s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${Json.num(self(s.id))}}"""
    }
    allStages.foreach { st =>
      lines += s"""{"stage":${st.stageId},"op":${st.op},"wall_ms":${st.wallMs},""" +
        s""""task_run_ms":[${st.taskRunMs.mkString(",")}],"shuffle_read":${st.shuffleRead},""" +
        s""""shuffle_write":${st.shuffleWrite},"input":${st.input},"output":${st.output},"spill":${st.spill}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val OpKey = "perfbench.op"

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    // the listener bus is private[spark]; reach its waitUntilEmpty reflectively
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
