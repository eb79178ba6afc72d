package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span; `parent` 0 is top level. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** A closed time interval in epoch ms. */
final case class Interval(start: Long, end: Long)

/** Spans kept in memory and written once at exit: name, start, end, parent
  * and the run id every span of one run shares. Spark jobs become child
  * spans of the span that was current on the thread that launched them
  * (carried as a local property); jobs launched by a service handler
  * thread are top level.
  */
final class Spans(val runId: String) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  val PropKey = "perfbench.span"
  /** Spans are recorded only while on; untraced runs keep it off. */
  @volatile var on = false

  def apply[T](name: String, spark: Option[SparkSession] = None)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val t0 = System.nanoTime()
      current.set(id)
      spark.foreach(_.sparkContext.setLocalProperty(PropKey, id.toString))
      try body
      finally {
        current.set(parent)
        spark.foreach(_.sparkContext.setLocalProperty(PropKey,
          if (parent == 0L) null else parent.toString))
        done.add(Span(id, parent, name, t0, System.nanoTime()))
      }
    }

  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    done.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = done.asScala.toVector.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Harness-owned Spark listener: job, stage and task counts, task time,
  * task and job intervals (for core utilisation, driver gap and job
  * concurrency), failed tasks, shuffle writes and spill.
  */
final class JobListener(spans: Spans) extends SparkListener {
  private val nanosAtMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long) = ms * 1000000L + nanosAtMs
  val tasks = new ConcurrentLinkedQueue[Interval]()
  val jobs = new ConcurrentLinkedQueue[Interval]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  val stages = new AtomicLong()
  val tasksFailed = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(spans.PropKey)))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (e.time, parent))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
      jobs.add(Interval(t0, e.time))
      spans.record("spark.job", parent, ns(t0), ns(e.time))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    tasks.add(Interval(i.launchTime, i.finishTime))
    if (i.failed || i.killed) tasksFailed.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Length of the union of `xs`, clipped to `[from, to]` (ms). */
  def covered(xs: Iterable[Interval], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    xs.toVector.map(i => Interval(math.max(i.start, from), math.min(i.end, to)))
      .filter(i => i.end > i.start).sortBy(_.start).foreach { i =>
        if (i.end > end) { total += i.end - math.max(i.start, end); end = i.end }
      }
    total
  }
}

/** Harness-owned streaming listener: per-micro-batch phase durations. */
final class StreamListener extends StreamingQueryListener {
  val batches = new AtomicLong()
  val emptyBatches = new AtomicLong()
  val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    if (p.numInputRows == 0) emptyBatches.incrementAndGet()
    p.durationMs.asScala.foreach { case (k, v) => phaseMs.merge(k, v, (a, b) => a + b) }
  }
  def phase(k: String): Double = Option(phaseMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}
