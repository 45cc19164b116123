package ragbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Clock shared by spans and Spark's listener events: epoch
  * microseconds, with nanosecond-timer resolution between the epoch
  * readings Spark stamps its events with (milliseconds).
  */
object Clock {
  private val epochMicros0 = System.currentTimeMillis() * 1000L
  private val nanos0 = System.nanoTime()
  def micros(): Long = epochMicros0 + (System.nanoTime() - nanos0) / 1000L
}

/** One timed call into the engine: `phase` groups spans (build, serve,
  * churn, curate), `request` ties the spans of one request together,
  * `parent` names the enclosing span ("" at top level).
  */
final case class Span(phase: String, name: String, request: Int, parent: String, start: Long, end: Long) {
  def key: String = s"$phase.$name"
  def micros: Long = end - start
}

/** A finished Spark job with the summed metrics of the stages it ran. */
final case class Job(
    id: Int, start: Long, end: Long, callSite: String,
    taskMicros: Long, shuffleBytes: Long, rowsRead: Long, rowsWritten: Long)

/** Records spans and, when tracing, every Spark job that runs. Spans
  * stay in memory until the run ends. With tracing off, spans are still
  * timed (the end-to-end numbers come from them) but no listener is
  * registered, so Spark does no extra work on the benchmark's behalf.
  */
final class Tracer {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private var parents = List.empty[String]
  /** When false, spans are timed but not kept (untraced operations of a
    * traced run).
    */
  @volatile var recording = true

  /** Time `body` as span `phase.name`; `request` is the operation index,
    * -1 for set-up.
    */
  def span[A](phase: String, name: String, request: Int = -1)(body: => A): A = {
    val parent = parents.headOption.getOrElse("")
    parents = s"$phase.$name" :: parents
    val t0 = Clock.micros()
    try body
    finally {
      if (recording) spans.add(Span(phase, name, request, parent, t0, Clock.micros()))
      parents = parents.tail
    }
  }

  /** Run `body` without keeping its spans. */
  def quietly[A](body: => A): A = {
    val was = recording
    recording = false
    try body finally recording = was
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Collects Spark jobs by their start/end times. Jobs are charged to
  * spans by time interval, not by a thread-local property, because the
  * engine submits some jobs from pool threads that do not inherit the
  * caller's local properties.
  */
final class JobListener extends SparkListener {
  import JobListener.{Open, StageSums}

  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageSums = new ConcurrentHashMap[Int, StageSums]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a query's jobs carry the call site of the action that ran it; a
    // job with none (an RDD action) falls back to its first stage's
    val sqlSite = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.long")))
    val site = sqlSite.orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.details))
      .map(JobListener.callSite(_, e.stageInfos.headOption.map(_.name).getOrElse("")))
      .getOrElse("")
    open.put(e.jobId, Open(e.time * 1000L, e.stageIds, site))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      val s = stageSums.computeIfAbsent(e.stageInfo.stageId, _ => new StageSums())
      s.synchronized {
        s.task += m.executorRunTime * 1000L
        s.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.read += m.inputMetrics.recordsRead
        s.written += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { o =>
      val sums = o.stages.flatMap(id => Option(stageSums.remove(id)))
      done.add(Job(e.jobId, o.start, math.max(o.start, e.time * 1000L), o.callSite,
        sums.map(_.task).sum, sums.map(_.shuffle).sum,
        sums.map(_.read).sum, sums.map(_.written).sum))
    }

  def jobs: Seq[Job] = done.asScala.toSeq.sortBy(_.start)
}

object JobListener {
  private final case class Open(start: Long, stages: Seq[Int], callSite: String)
  private final class StageSums(var task: Long = 0, var shuffle: Long = 0,
      var read: Long = 0, var written: Long = 0)

  private val SparkFrame = "^(org\\.apache\\.spark|scala\\.|java\\.|sun\\.|jdk\\.)".r

  /** First stack frame outside Spark and the JDK, e.g.
    * `IvfPq.scala:312`; falls back to the stage's short name.
    */
  def callSite(details: String, name: String): String =
    details.linesIterator.map(_.trim)
      .find(f => f.nonEmpty && SparkFrame.findFirstIn(f).isEmpty)
      .flatMap(f => "\\(([^()]+)\\)".r.findFirstMatchIn(f).map(_.group(1)))
      .getOrElse(name)
}

/** Per-span totals of the jobs charged to it. */
final case class SpanCost(span: Span, jobs: Seq[Job]) {
  /** Wall time no Spark job was running: planning, codegen and driver
    * round trips between jobs.
    */
  def driverMicros: Long = span.micros - Stats.unionLength(
    jobs.map(j => (math.max(j.start, span.start), math.min(j.end, span.end))))
  def taskMicros: Long = jobs.map(_.taskMicros).sum
  def shuffleBytes: Long = jobs.map(_.shuffleBytes).sum
  def rowsRead: Long = jobs.map(_.rowsRead).sum
  def rowsWritten: Long = jobs.map(_.rowsWritten).sum
}

object Attribution {
  /** Charge each job to the innermost span it overlaps most; a job that
    * overlaps no span is returned separately. Spans are the leaves a
    * caller passes in (they do not overlap one another).
    */
  def charge(spans: Seq[Span], jobs: Seq[Job]): (Seq[SpanCost], Seq[Job]) = {
    val byspan = scala.collection.mutable.LinkedHashMap[Span, Vector[Job]](spans.map(_ -> Vector.empty[Job]): _*)
    val orphans = Vector.newBuilder[Job]
    for (j <- jobs) {
      // a zero-length job (start == end at millisecond resolution)
      // still belongs to the span its start falls in
      val jEnd = if (j.end > j.start) j.end else j.start + 1
      val best = spans.map(s => s -> Stats.overlap(s.start, s.end, j.start, jEnd))
        .filter(_._2 > 0).sortBy(-_._2).headOption
      best match {
        case Some((s, _)) => byspan(s) = byspan(s) :+ j
        case None => orphans += j
      }
    }
    (byspan.toSeq.map { case (s, js) => SpanCost(s, js) }, orphans.result())
  }
}
