package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable.{ArrayBuffer, HashMap}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** A timed interval around one call into a graft or Spark layer.
  * Times are System.nanoTime values; `compiles` and `compileNs` are the
  * Janino compilations that happened inside the interval. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long, compiles: Long, compileNs: Long)

/** Records spans in memory when enabled; a no-op wrapper otherwise.
  * The innermost open span's id is set as a Spark local property, so
  * jobs a call submits can be charged to it by [[ExecListener]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  var op = -1

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      spans += Span(id, parent, op, name, t0, t1,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        CodeGenerator.compileTime - n0)
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val off = new Tracer(null, false)
}

/** Per-stage task totals, charged to the span whose job ran the stage. */
final class StageAgg(val stage: Int, val span: Int) {
  var submitted = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var waitMs, gcMs, failed = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
}

/** Collects jobs, stages and tasks from the listener bus. Listener events
  * arrive on one bus thread; [[drain]] waits for a marker job so every
  * earlier event has been applied before the totals are read. */
final class ExecListener extends SparkListener {
  val jobs = ArrayBuffer.empty[(Int, Int, Long, Long)] // job, span, start, end
  private val jobStart = HashMap.empty[Int, (Int, Long)]
  private val stageSpan = HashMap.empty[Int, Int]
  val stages = HashMap.empty[(Int, Int), StageAgg]
  private val marker = new CountDownLatch(1)

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(p => p.getProperty("perfbench.marker") != null))
      marker.countDown()
    val s = spanOf(e.properties)
    jobStart(e.jobId) = (s, e.time)
    e.stageIds.foreach(stageSpan(_) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (s, t0) =>
      jobs += ((e.jobId, s, t0, e.time)) }

  private def agg(stage: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((stage, attempt),
      new StageAgg(stage, stageSpan.getOrElse(stage, 0)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    agg(i.stageId, i.attemptNumber()).submitted =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    a.taskMs += info.duration
    if (a.submitted > 0) a.waitMs += math.max(0L, info.launchTime - a.submitted)
    if (!info.successful) a.failed += 1
    Option(e.taskMetrics).foreach { m =>
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Run a marker job and wait until the bus has delivered it. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty("perfbench.marker", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.marker", null)
    marker.await(60, TimeUnit.SECONDS)
  }
}
