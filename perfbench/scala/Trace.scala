package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call into an engine layer: `parent` is the span that was
  * active on the calling thread (0 = none), `runId` names the benchmark run.
  */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span (the listener's view of the runtime). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def add(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    schedulerDelayMs += o.schedulerDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes
    this
  }
}

object Tracer {
  /** SparkContext local property carrying the active span id. Local
    * properties are inheritable: threads created by the calling thread
    * (the pools inside `ModelGraph.run` and `Tuning.concurrently`, AQE's
    * broadcast threads) carry the span of the call that created them.
    */
  val SpanProperty = "perfbench.span"

  def spanOf(props: Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).fold(0L)(_.toLong)
}

/** In-memory span recorder. Disabled, `span` is a direct call. Spans are
  * tagged on the context of the active session.
  */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val nextId = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = SparkSession.active.sparkContext
      val outer = sc.getLocalProperty(Tracer.SpanProperty)
      val id = nextId.incrementAndGet()
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        recorded.add(Span(id, name, Option(outer).fold(0L)(_.toLong), runId,
          t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.SpanProperty, outer)
      }
    }

  /** Spans recorded since the last call, oldest first. */
  def drain(): Seq[Span] =
    Iterator.continually(recorded.poll()).takeWhile(_ != null).toSeq.sortBy(_.startNs)
}

/** Adds job, stage and task counts to the span that submitted the job. A
  * stage belongs to the span of the job that submitted it; a task to its
  * stage. Work outside any span is kept under span 0.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.Map.empty[Long, Counts]

  private def counts(span: Long): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts(Tracer.spanOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = Tracer.spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    counts(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      // the scheduler-delay formula of Spark's own UI
      c.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime)
    }
  }

  /** Counts per span id since the last call; clears them. */
  def drain(): Map[Long, Counts] = synchronized {
    val out = bySpan.toMap
    bySpan.clear()
    stageSpan.clear()
    out
  }
}

object SpanListener {
  /** Blocks until every event posted so far has reached the listeners. */
  def quiesce(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
}

/** What one traced round recorded: its spans and their Spark counts. */
final case class RoundTrace(spans: Seq[Span], counts: Map[Long, Counts]) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def totalSec(name: String): Double = named(name).map(_.durNs).sum / 1e9

  /** Counts of a span and every span below it. */
  def subtree(s: Span): Counts = {
    val c = new Counts
    counts.get(s.id).foreach(c.add)
    children.getOrElse(s.id, Nil).foreach(k => c.add(subtree(k)))
    c
  }

  /** All work in the round, inside spans or not. */
  def total: Counts = counts.values.foldLeft(new Counts)(_ add _)

  def selfNs(s: Span): Long = Stats.selfTimeNs(s, children.getOrElse(s.id, Nil))

  def toJsonLines: Seq[String] = spans.map { s =>
    val c = subtree(s)
    f"""{"run":"${s.runId}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)},""" +
      f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      f""""task_cpu_ns":${c.taskCpuNs}}"""
  }
}
