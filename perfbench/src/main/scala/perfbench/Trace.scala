package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval on the epoch-nanosecond clock. `op` is the tick,
  * cycle, round or pass it belongs to; `parent` 0 marks an op's root. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Epoch nanoseconds from the monotonic clock, so spans and the listener
  * events (epoch milliseconds) share one time base. */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** Spans around every call the benchmark makes into the engine, kept in
  * memory. With tracing off, `span` only runs its body.
  *
  * While a span is open its thread carries the Spark job group
  * `perfbench-<id>`, so the jobs it submits become its children. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  /** Set while the timed region runs; set-up is not traced. */
  @volatile var recording = false
  def on: Boolean = enabled && recording

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var opRoot = 0L
  @volatile private var opId = 0L
  // streaming query run id -> the span that started it
  private val runSpan = new ConcurrentHashMap[String, java.lang.Long]()

  def spans: Seq[Span] = done.asScala.toSeq
  def spanOfRun(runId: String): Option[Long] = Option(runSpan.get(runId)).map(_.longValue)
  def bindRun(runId: String): Unit =
    if (on) stack.get.headOption.foreach(id => runSpan.put(runId, id))

  /** The root span of one closed-loop operation. */
  def op[T](layer: String, name: String)(f: => T): T = {
    if (!on) return f
    val id = ids.incrementAndGet()
    opId = id
    opRoot = id
    enter(id, 0L, layer, name)(f)
  }

  def span[T](layer: String, name: String)(f: => T): T = {
    if (!on) return f
    val id = ids.incrementAndGet()
    enter(id, stack.get.headOption.getOrElse(opRoot), layer, name)(f)
  }

  /** A span under the open one that ends now and lasted `ms`: a phase the
    * engine timed itself, such as a table write from `lastWriteTiming`. */
  def ended(layer: String, name: String, ms: Double): Unit = if (on) {
    val t1 = Clock.now()
    done.add(Span(ids.incrementAndGet(), stack.get.headOption.getOrElse(opRoot), opId,
      layer, name, t1 - (ms * 1e6).toLong, t1))
  }

  private val groupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  private def enter[T](id: Long, parent: Long, layer: String, name: String)(f: => T): T = {
    val saved = groupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(s"perfbench-$id", name)
    stack.set(id :: stack.get)
    val op = opId
    val t0 = Clock.now()
    try f
    finally {
      val t1 = Clock.now()
      stack.set(stack.get.tail)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      done.add(Span(id, parent, op, layer, name, t0, t1))
    }
  }
}

/** One Spark job with the task metrics of its stages. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = -1L
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
}

/** Spark runtime probe: jobs and their tasks, keyed by job group. */
final class SparkProbe extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = new JobRec(e.jobId, group, Clock.fromMillis(e.time))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.fromMillis(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) {
      rec.tasks.incrementAndGet()
      rec.taskMs.addAndGet(m.executorRunTime)
      rec.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      rec.spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      rec.input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Wait (bounded) until every started job has ended on the listener bus. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(200)
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  def ended: Seq[JobRec] = jobs.values.asScala.filter(_.end >= 0).toSeq
}

/** One micro-batch's `StreamingQueryProgress` phases. */
final case class Progress(runId: String, batchId: Long, start: Long,
    durations: Map[String, Long], inputRows: Long)

final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    progress.add(Progress(p.runId.toString, p.batchId, Clock.fromMillis(start),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
}
