package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a module's public function, timed from outside.
  * `op` is the id of the enclosing op span (its own id for an op span).
  */
final class Span(
    val id: Int, val layer: String, val name: String, val parent: Int, val op: Int,
    val startNs: Long, val startMs: Long, val fs0: IndexedSeq[Long]) {
  var endNs = 0L
  var endMs = 0L
  var fs1: IndexedSeq[Long] = fs0
  def ms: Double = (endNs - startNs) / 1e6
  def fs(i: Int): Long = fs1(i) - fs0(i)
}

/** Span recorder for the single client thread. While `on`, every
  * [[span]] call is kept in memory until the end of the run, and the
  * Spark jobs it submits carry its id as a local property so the
  * listener can attribute them. While off, [[span]] is a plain call.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption
      val id = spans.size
      val s = new Span(id, layer, name, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(id), System.nanoTime(), System.currentTimeMillis(),
        FsCounters.snapshot())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.prop, id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.fs1 = FsCounters.snapshot()
        stack = stack.tail
        sc.setLocalProperty(Tracer.prop, parent.map(_.id.toString).orNull)
      }
    }

  /** Spans that are direct children of `s`. */
  lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Duration of `s` minus the time its children cover. */
  def selfMs(s: Span): Double =
    s.ms - Stats.unionLength(children.getOrElse(s.id, Nil).map(c =>
      (c.startNs.toDouble, c.endNs.toDouble))) / 1e6
}

object Tracer {
  val prop = "graftbench.span"
}

/** Per-job record: the span that submitted it, its interval on the
  * listener's millisecond clock and its task totals.
  */
final class JobRec(val span: Int, val startMs: Long, val nStages: Int) {
  var endMs = -1L
  var tasks = 0L
  var runMs = 0L
  var schedMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
}

/** Listener side of the trace: Spark jobs and their tasks, and streaming
  * progress events. Attached only for the traced window.
  */
final class Probe extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.prop)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new JobRec(span, e.time, e.stageIds.size))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    (j, Option(e.taskMetrics)) match {
      case (Some(r), Some(m)) =>
        val info = e.taskInfo
        r.synchronized {
          r.tasks += 1
          r.runMs += m.executorRunTime
          r.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          r.bytesWritten += m.outputMetrics.bytesWritten
        }
      case _ =>
    }
  }

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def jobsOf(spanIds: Set[Int]): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => spanIds.contains(j.span))
}
