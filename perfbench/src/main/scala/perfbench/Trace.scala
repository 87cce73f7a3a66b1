package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

import Stats.Interval

/** One call into a module (or one whole benchmark op), on the epoch-ms
  * clock. `parent` is 0 for a root span. `rows` is the call's output
  * row count where the benchmark knows it, else -1. */
final case class Span(id: Long, parent: Long, module: String, name: String,
    start: Double, end: Double, rows: Long = -1L) {
  def interval: Interval = Interval(start, end)
}

/** Spark work billed to one span: job intervals and task counters. */
final case class SpanWork(jobs: Seq[Interval] = Nil, shuffleWriteBytes: Long = 0L,
    spillBytes: Long = 0L, recordsRead: Long = 0L)

/** Per-module totals over a traced run. */
final case class LayerStats(calls: Long, selfS: Double, jobs: Long,
    driverGapS: Double, shuffleWriteBytes: Long, spillBytes: Long,
    recordsRead: Long)

object Trace {

  /** Spark local property carrying the innermost open span's id. Spark
    * copies the calling thread's local properties into every job it
    * submits, so the listener can bill each job to that span. */
  val SpanProperty = "perfbench.span"

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover. */
  def selfIntervals(spans: Seq[Span]): Map[Long, Seq[Interval]] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.subtract(s.interval, children.getOrElse(s.id, Nil).map(_.interval))
    }.toMap
  }

  def selfSeconds(spans: Seq[Span]): Map[Long, Double] =
    selfIntervals(spans).map { case (id, xs) => id -> xs.map(_.length).sum / 1000.0 }

  /** Module totals. A module's driver gap is the part of its self time
    * that none of its own Spark jobs covers: planning, listing, driver
    * loops and job scheduling waits. */
  def layers(spans: Seq[Span], work: Long => SpanWork): Map[String, LayerStats] = {
    val selfIv = selfIntervals(spans)
    spans.groupBy(_.module).map { case (module, ss) =>
      val per = ss.map { s =>
        val w = work(s.id)
        val self = selfIv(s.id)
        val selfMs = self.map(_.length).sum
        val covered = Stats.overlap(self, w.jobs)
        (selfMs, w.jobs.length.toLong, selfMs - covered, w)
      }
      module -> LayerStats(
        calls = ss.length.toLong,
        selfS = per.map(_._1).sum / 1000.0,
        jobs = per.map(_._2).sum,
        driverGapS = per.map(_._3).sum / 1000.0,
        shuffleWriteBytes = per.map(_._4.shuffleWriteBytes).sum,
        spillBytes = per.map(_._4.spillBytes).sum,
        recordsRead = per.map(_._4.recordsRead).sum)
    }
  }
}

/** Records spans around calls into graft's modules from the benchmark's
  * own code; nothing inside the program is instrumented. When disabled,
  * `span` is a plain call. Spans stay in memory until [[spans]] is read
  * at the end of the run. Single-threaded: the workloads are closed
  * loops with one client thread. */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private var nextId = 0L
  private var stack = List.empty[Long]
  private val done = mutable.ArrayBuffer.empty[Span]

  /** Epoch milliseconds at nanoTime resolution — the clock Spark stamps
    * job start/end events with. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** Run `body` inside a span. */
  def span[T](module: String, name: String)(body: => T): T =
    counted(module, name)(body)(_ => -1L)

  /** [[span]] that also records the call's output size, read by `rows`
    * from its result. */
  def counted[T](module: String, name: String)(body: => T)(rows: T => Long): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      val before = sc.getLocalProperty(Trace.SpanProperty)
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      stack = id :: stack
      val start = nowMs
      var result: Option[T] = None
      try {
        result = Some(body)
        result.get
      } finally {
        val end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProperty, before)
        done += Span(id, parent, module, name, start, end,
          result.map(rows).getOrElse(-1L))
      }
    }

  def spans: Seq[Span] = done.toSeq
}

/** Bills Spark jobs and task metrics to the span whose id the submitting
  * thread carried in [[Trace.SpanProperty]]. Jobs submitted outside any
  * span (set-up, output checks) are ignored. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Double)]
  private val work = mutable.HashMap.empty[Long, SpanWork]

  private def update(span: Long)(f: SpanWork => SpanWork): Unit =
    work(span) = f(work.getOrElse(span, SpanWork()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).foreach { span =>
        jobSpan(e.jobId) = (span, e.time.toDouble)
        e.stageIds.foreach(stageSpan(_) = span)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      update(span)(w => w.copy(jobs = w.jobs :+ Interval(start, e.time.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics))
      update(span)(w => w.copy(
        shuffleWriteBytes = w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = w.spillBytes + m.diskBytesSpilled,
        recordsRead = w.recordsRead + m.inputMetrics.recordsRead +
          m.shuffleReadMetrics.recordsRead))
  }

  def workOf(span: Long): SpanWork = synchronized(work.getOrElse(span, SpanWork()))
}
