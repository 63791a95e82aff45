package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and counters of one benchmark run, held in memory and written
  * out at exit.
  *
  * A span wraps one call from the benchmark into a layer of the library
  * (or a workload, pass or step around such calls): name, start, end,
  * parent, and the run id every span of the run shares. Times are epoch
  * milliseconds, so they line up with the job times Spark's listener
  * reports.
  *
  * When tracing is on, every span also becomes the job group of the
  * Spark jobs started inside it (the `perfbench.span` local property,
  * which threads started inside the span inherit), and the step the span
  * belongs to becomes `perfbench.step`. [[EngineListener]] and
  * [[StreamListener]] count by those two tags. Both tags carry the
  * pass they belong to (`name@pass`), so the counts of one pass can be
  * told from another's. With tracing off, no span is kept and no
  * property is set. */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace._

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var step: String = ""
  /** Names the current pass in every tag. */
  var pass: String = "setup"

  val engine = new EngineListener
  val stream = new StreamListener(this)
  private var session: Option[SparkSession] = None

  /** Starts counting on `s` (tracing on only). */
  def attach(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(engine)
    s.streams.addListener(stream)
    session = Some(s)
  }

  def detach(): Unit = session.foreach { s =>
    drain()
    s.sparkContext.removeSparkListener(engine)
    s.streams.removeListener(stream)
    session = None
  }

  /** Time the benchmark thread spent waiting in [[drain]]. */
  var drainNs = 0L

  /** Delivers every listener event posted so far. */
  def drain(): Unit = session.foreach { s =>
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.BusBridge.drain(s.sparkContext)
    drainNs += System.nanoTime() - t0
  }

  /** Runs `body` inside a span named `name`. A `step` span also sets the
    * step tag; the bus is drained when it ends, so the step's events are
    * counted under its own tag. */
  def span[T](name: String, isStep: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val sc = session.map(_.sparkContext)
      val tag = s"$name@$pass"
      val sp = Span(spans.size, name, tag,
        stack.headOption.map(_.id).getOrElse(-1), nowMs, Double.NaN)
      spans += sp
      val prevSpan = sc.map(_.getLocalProperty(SpanKey))
      val prevStep = step
      stack = sp :: stack
      sc.foreach(_.setLocalProperty(SpanKey, tag))
      if (isStep) {
        drain()
        step = tag
        sc.foreach(_.setLocalProperty(StepKey, tag))
      }
      try body
      finally {
        if (isStep) {
          drain()
          step = prevStep
          sc.foreach(_.setLocalProperty(StepKey, prevStep))
        }
        sp.end = nowMs
        stack = stack.tail
        sc.foreach(_.setLocalProperty(SpanKey, prevSpan.orNull))
      }
    }
}

object Trace {
  val SpanKey = "perfbench.span"
  val StepKey = "perfbench.step"

  final case class Span(id: Int, name: String, tag: String, parent: Int,
      start: Double, var end: Double)

  /** Per-tag engine counters. */
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  }

  /** Jobs, tasks, task time, shuffle bytes and job intervals, counted
    * per step tag and per span tag. */
  final class EngineListener extends SparkListener {
    val byStep = mutable.Map.empty[String, Counts]
    val bySpan = mutable.Map.empty[String, Counts]
    private val stageTags = mutable.Map.empty[Int, (String, String)]
    private val jobStarts = mutable.Map.empty[Int, (String, String, Double)]

    private def tags(p: java.util.Properties): (String, String) =
      if (p == null) ("", "")
      else (Option(p.getProperty(StepKey)).getOrElse(""),
        Option(p.getProperty(SpanKey)).getOrElse(""))

    private def both(t: (String, String))(f: Counts => Unit): Unit =
      synchronized {
        f(byStep.getOrElseUpdate(t._1, new Counts))
        f(bySpan.getOrElseUpdate(t._2, new Counts))
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = tags(e.properties)
      synchronized { jobStarts(e.jobId) = (t._1, t._2, e.time.toDouble) }
      both(t)(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (st, sp, t0) =>
        both((st, sp))(_.jobIntervals += ((t0, e.time.toDouble)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { stageTags(e.stageInfo.stageId) = tags(e.properties) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = synchronized(stageTags.getOrElse(e.stageId, ("", "")))
      val m = e.taskMetrics
      both(t) { c =>
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  /** Structured Streaming's own per-trigger progress, summed per step:
    * triggers, and the `durationMs` phases of each trigger. */
  final class StreamListener(trace: Trace) extends StreamingQueryListener {
    val byStep = mutable.Map.empty[String, mutable.Map[String, Long]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val m = byStep.getOrElseUpdate(trace.step, mutable.Map.empty)
        m("triggers") = m.getOrElse("triggers", 0L) + 1
        e.progress.durationMs.forEach { (k, v) =>
          m(k) = m.getOrElse(k, 0L) + v.longValue
        }
      }
  }
}
