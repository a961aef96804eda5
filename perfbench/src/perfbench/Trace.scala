package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval. Ops are the roots (parent -1); layer spans are
  * recorded by the workloads around each call into a graft layer's
  * public function; `core.*` spans come from [[CountingFileIO]].
  * Times are nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, var name: String,
    start: Long, var end: Long = -1L, var bytes: Long = 0L, var ok: Boolean = true) {
  def ms: Double = (end - start) / 1e6
}

/** Span recorder. Spans stay in memory until the run ends. Only traced
  * ops record spans; untraced ops are timed but leave no trace, so the
  * two can be compared for the tracing overhead. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()
  val spans = new ArrayBuffer[Span]()
  /** innermost open span of the traced op running on the driver thread */
  @volatile private var current: Span = _

  /** Epoch milliseconds of a nanoTime stamp (the listener's job times
    * are epoch milliseconds). */
  def epochMs(ns: Long): Double = msBase + (ns - nanoBase) / 1e6
  def nanoOf(epochMs: Long): Long = nanoBase + ((epochMs - msBase) * 1000000L)

  private def open(name: String, parent: Span): Span = {
    val s = Span(ids.incrementAndGet(), if (parent == null) -1 else parent.id,
      if (parent == null) -1 else parent.op, name, System.nanoTime())
    val s2 = if (parent == null) s.copy(op = s.id) else s
    spans.synchronized(spans += s2)
    s2
  }

  /** Run a traced op: Spark jobs it submits carry its ids. */
  def op[T](kind: String)(body: => T): T = {
    val s = open(kind, null)
    current = s
    sc.setLocalProperty(Tracer.OpProp, s.id.toString)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body finally {
      s.end = System.nanoTime()
      current = null
      sc.setLocalProperty(Tracer.OpProp, null)
      sc.setLocalProperty(Tracer.SpanProp, null)
    }
  }

  /** A layer span inside the current op, named after its result; a
    * plain call when the op is untraced. */
  def spanAs[T](body: => T)(name: T => String): T = {
    val parent = current
    if (parent == null) return body
    val s = open("", parent)
    current = s
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    var v: Option[T] = None
    try { v = Some(body); v.get } finally {
      s.end = System.nanoTime()
      s.name = v.map(name).getOrElse("failed")
      current = parent
      sc.setLocalProperty(Tracer.SpanProp, parent.id.toString)
    }
  }

  /** A leaf span opened from any thread (FileIO calls). */
  def leaf[T](name: String)(body: Span => T): T = {
    val parent = current
    if (parent == null) return body(null)
    val s = open(name, parent)
    try body(s) finally s.end = System.nanoTime()
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
}

/** Per-job record and per-stage task metrics of traced ops, gathered by
  * a SparkListener (the `spark` layer). */
final class JobListener extends SparkListener {
  final case class Job(id: Int, op: Int, span: Int, start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class StageStats(tasks: Long, taskMs: Long, gcMs: Long,
      inputBytes: Long, inputRecords: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, outputBytes: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** completed stage attempts: job id -> stats */
  val stages = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[StageStats]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.OpProp))).foreach { op =>
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).getOrElse(op)
      jobs.put(e.jobId, Job(e.jobId, op.toInt, span.toInt, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (!stageJob.containsKey(info.stageId)) return
    val job = stageJob.get(info.stageId)
    val m = info.taskMetrics
    val st =
      if (m == null) StageStats(info.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
      else StageStats(info.numTasks, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    stages.computeIfAbsent(job, _ => new java.util.concurrent.ConcurrentLinkedQueue[StageStats]())
      .add(st)
  }

  /** Wait until every recorded job has ended and the event queue has
    * been quiet for a moment (events arrive asynchronously). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val n = jobs.size + stages.values.asScala.map(_.size).sum
      if (n != last) { last = n; quietSince = System.nanoTime() }
      val open = jobs.values.asScala.exists(_.end < 0)
      if (!open && System.nanoTime() - quietSince > 300000000L) return
      Thread.sleep(50)
    }
  }

  def stagesOf(job: Int): Seq[StageStats] =
    Option(stages.get(job)).map(_.asScala.toSeq).getOrElse(Seq.empty)
}

/** The `core` layer's metadata IO, counted: a FileIO that wraps graft's
  * local one and records one span per call, with the bytes moved and,
  * for the commit CAS, whether it won. Passed to graft through the
  * public `GraftTable.load(spark, path, io)`. */
final class CountingFileIO(@transient private val t: Tracer) extends graft.core.FileIO {
  private val d = new graft.core.LocalFileIO

  private def rec[T](name: String)(body: => T)(bytes: T => Long): T =
    if (t == null) body
    else t.leaf(name) { s =>
      val v = body
      if (s != null) s.bytes = bytes(v)
      v
    }

  override def readString(path: String): String =
    rec("core.read")(d.readString(path))(_.length.toLong)
  override def writeString(path: String, content: String): Unit =
    rec("core.write")(d.writeString(path, content))(_ => content.length.toLong)
  override def readBytes(path: String): Array[Byte] =
    rec("core.read")(d.readBytes(path))(_.length.toLong)
  override def writeBytes(path: String, content: Array[Byte]): Unit =
    rec("core.write")(d.writeBytes(path, content))(_ => content.length.toLong)
  override def tryCreateAtomic(path: String, content: String): Boolean =
    if (t == null) d.tryCreateAtomic(path, content)
    else t.leaf("core.cas") { s =>
      val won = d.tryCreateAtomic(path, content)
      if (s != null) { s.bytes = content.length.toLong; s.ok = won }
      won
    }
  override def exists(path: String): Boolean = rec("core.stat")(d.exists(path))(_ => 0L)
  override def mkdirs(path: String): Unit = rec("core.stat")(d.mkdirs(path))(_ => 0L)
  override def list(dir: String): Seq[String] = rec("core.list")(d.list(dir))(_ => 0L)
  override def delete(path: String): Unit = rec("core.delete")(d.delete(path))(_ => 0L)
  override def rename(src: String, dst: String): Unit =
    rec("core.rename")(d.rename(src, dst))(_ => 0L)
  override def size(path: String): Long = rec("core.stat")(d.size(path))(_ => 0L)
}
