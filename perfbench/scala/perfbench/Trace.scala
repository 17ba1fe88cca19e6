package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer of graft. Times are
  * epoch nanoseconds from [[Trace.now]]; `parent` is 0 for a root span.
  */
final case class Span(id: Long, name: String, layer: String, parent: Long,
                      start: Long, end: Long)

/** Spans are kept in memory and written out once, when the run ends.
  * Every run records them (a span is two clock reads); only a traced run
  * also registers [[JobListener]], which attributes Spark jobs to the
  * span whose id the submitting thread carried as a local property.
  */
object Trace {
  val SpanProperty = "perfbench.span"

  private val anchorNanos = System.nanoTime()
  private val anchorEpochNanos = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  /** Monotonic clock expressed as epoch nanoseconds. */
  def now(): Long = anchorEpochNanos + (System.nanoTime() - anchorNanos)

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var sc: Option[SparkContext] = None

  /** Jobs are tagged only once a SparkContext is registered here. */
  def attach(context: SparkContext): Unit = sc = Some(context)

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toVector.sortBy(_.start)
  }

  /** The calling thread's innermost open span, 0 when none is open. */
  def current(): Long = open.get().headOption.getOrElse(0L)

  /** Run `body` as if inside span `parent`, which another thread opened:
    * the spans `body` opens on this thread nest under it.
    */
  def within[T](parent: Long)(body: => T): T = {
    val stack = open.get()
    open.set(parent :: stack)
    try body finally open.set(stack)
  }

  /** Time `body` as a span of `layer`, nested under the thread's open span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val parent = stack.headOption.getOrElse(0L)
    open.set(id :: stack)
    sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
    val start = now()
    try body
    finally {
      val end = now()
      done.add(Span(id, name, layer, parent, start, end))
      open.set(stack)
      sc.foreach(_.setLocalProperty(SpanProperty,
        stack.headOption.map(_.toString).orNull))
    }
  }
}

/** Per-job counters, filled from listener events. */
final class JobStat(val jobId: Int, val span: Long, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Attributes each Spark job, and the tasks of its stages, to the span
  * id carried in the job's local properties (-1 when none was open; the
  * summary then attributes the job by time).
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobStat(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j.intValue))).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}
