package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._

/** One traced interval: a benchmark operation or a call into one of the
 *  engine's layers. Times are epoch nanoseconds; `parent` is 0 for a root. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** What the listener saw of one Spark job. `span` is the span the job ran
 *  under, -1 until attributed. */
final class JobRec(val jobId: Int, val labelled: Int, val start: Long) {
  var end: Long = -1L
  var span: Int = -1
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/**
 * Span recorder for the traced run. The benchmark wraps each call it makes
 * into an engine layer in [[span]]; a [[SparkListener]] registered here
 * records every Spark job with its task metrics. Each span id is published
 * as a Spark local property so jobs carry their enclosing span; jobs
 * submitted from engine-internal threads that do not carry the current
 * property are attributed by time overlap in [[attribute]]. Spans stay in
 * memory until the run ends. Everything runs on one client thread, as the
 * benchmark's loops are closed loops with one client.
 */
final class Tracer(sc: SparkContext) {
  import Tracer._

  /** Spans are recorded, and jobs kept, only while this is set. */
  @volatile var active = false

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val nextId = new AtomicInteger(1)
  private var stack: List[Int] = Nil
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  @volatile private var lastEventNs = System.nanoTime()

  def now(): Long = System.nanoTime() + epochBase

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, t0, t1)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      val j = new JobRec(e.jobId, label, e.time * 1000000L)
      Tracer.this.synchronized {
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Tracer.this.synchronized(jobs.get(e.jobId).foreach(_.end = e.time * 1000000L))
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Tracer.this.synchronized(stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != TaskSuccess) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      })
      lastEventNs = System.nanoTime()
    }
  }
  sc.addSparkListener(listener)

  /** Wait for the listener bus to deliver every job end, then detach. */
  def finish(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def settled = synchronized(jobs.values.forall(_.end >= 0)) &&
      System.nanoTime() - lastEventNs > 200L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    attribute()
  }

  /** Give every job its span: the labelled span when the job started inside
   *  it, else the innermost span whose interval holds the job's start. Jobs
   *  outside every span (those of untraced operations) keep -1. */
  private def attribute(): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    // job times come from the listener in whole milliseconds
    def holds(s: Span, t: Long) = s.start - Slack <= t && t <= s.end + Slack
    jobs.values.foreach { j =>
      j.span = byId.get(j.labelled).filter(holds(_, j.start)).map(_.id).getOrElse {
        val inside = spans.filter(holds(_, j.start))
        if (inside.isEmpty) -1 else inside.minBy(_.dur).id
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val Slack = 2L * 1000000L

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its direct
   *  children (child spans and the Spark jobs attributed to it) cover. */
  def selfTime(s: Span, children: Seq[(Long, Long)]): Long =
    s.dur - covered(s.start, s.end, children)
}
