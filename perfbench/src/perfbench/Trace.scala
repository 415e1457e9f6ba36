package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Spans the benchmark records around each call into a layer's public
  * function (name, start, end, parent, run id), with the Spark task
  * metrics of every job that ran while the span was innermost. The
  * attribution goes through the job group: `span` sets the group to the
  * span's id, and a listener maps each job's stages to that span.
  *
  * With tracing off a span is just its body: no listener, no job group.
  */
final class Tracer(spark: SparkSession, enabled: Boolean, val runId: String) {

  private var active = enabled
  def on: Boolean = active

  final class Span(val id: Int, val name: String, val parent: Int,
                   val startNs: Long) {
    @volatile var endNs: Long = -1L
    val tasks, stages, runMs, shuffleRead, shuffleWrite, spill, recIn,
      recOut, gcMs = new AtomicLong
    def wallS: Double = (endNs - startNs) / 1e9
    def group: String = s"$runId-$id"
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private val taskEvents = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s != null) j.stageInfos.foreach(si => byStage.putIfAbsent(si.stageId, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = byStage.get(e.stageInfo.stageId)
      if (s != null) s.stages.incrementAndGet()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      taskEvents.incrementAndGet()
      val s = byStage.get(t.stageId)
      val m = t.taskMetrics
      if (s != null && m != null) {
        s.tasks.incrementAndGet()
        s.runMs.addAndGet(m.executorRunTime)
        s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        s.recIn.addAndGet(m.inputMetrics.recordsRead +
          m.shuffleReadMetrics.recordsRead)
        s.recOut.addAndGet(m.outputMetrics.recordsWritten +
          m.shuffleWriteMetrics.recordsWritten)
        s.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Runs `body` with tracing off (no listener, no job group, no spans),
    * for measuring the tracing overhead. */
  def off[T](body: => T): T =
    if (!active) body
    else {
      spark.sparkContext.removeSparkListener(listener)
      active = false
      try body
      finally { active = true; spark.sparkContext.addSparkListener(listener) }
    }

  /** Run `body` inside a span named `name`; returns its result. */
  def span[T](name: String)(body: => T): T = timed(name)(body)._1

  /** Like [[span]], also returning the body's wall seconds (measured with
    * or without tracing). */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!on) { val r = body; (r, (System.nanoTime() - t0) / 1e9) }
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), t0)
      spans += s
      byGroup.put(s.group, s)
      open ::= s
      spark.sparkContext.setJobGroup(s.group, name)
      try {
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      } finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p.group, p.name)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }
  }

  /** Wait until the asynchronous listener bus has delivered every task
    * end (no new event for 300 ms), bounded at 5 s. */
  def settle(): Unit = if (active) {
    var last = -1L
    var stable = 0
    var i = 0
    while (stable < 3 && i < 50) {
      Thread.sleep(100)
      val now = taskEvents.get
      stable = if (now == last) stable + 1 else 0
      last = now
      i += 1
    }
  }

  def stop(): Unit = if (active) spark.sparkContext.removeSparkListener(listener)

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Wall seconds of the span minus those of its direct children. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  /** The span table, one row per span in start order. */
  def table: Seq[ListMap[String, Any]] = spans.toSeq.map { s =>
    ListMap("span" -> s.name, "id" -> s.id, "parent" -> s.parent,
      "run" -> runId, "wall_s" -> s.wallS, "self_s" -> selfS(s),
      "tasks" -> s.tasks.get, "stages" -> s.stages.get,
      "task_run_s" -> s.runMs.get / 1e3,
      "shuffle_read_bytes" -> s.shuffleRead.get,
      "shuffle_write_bytes" -> s.shuffleWrite.get,
      "spill_bytes" -> s.spill.get,
      "records_in" -> s.recIn.get,
      "records_out" -> s.recOut.get,
      "task_gc_s" -> s.gcMs.get / 1e3)
  }
}
