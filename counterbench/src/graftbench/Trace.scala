package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  /** Nearest-rank percentile, `p` in [0, 100]; 0 for no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** In-memory spans around the benchmark's calls into each layer. Off by
  * default; with tracing off [[span]] only runs its body.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  @volatile var on = false
  private val ids = new AtomicInteger
  private val done = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val epochNs = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0 - epochNs, System.nanoTime() - epochNs))
        stack.set(stack.get.tail)
      }
    }

  /** Writes every span as one JSON array, with each span's self time. */
  def write(file: File): Unit = {
    val all = done.asScala.toSeq.sortBy(_.startNs)
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    val out = new PrintWriter(file, "UTF-8")
    try {
      out.println("[")
      out.println(all.map { s =>
        val dur = s.endNs - s.startNs
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
          s""""end_ns":${s.endNs},"self_ns":${dur - childNs.getOrElse(s.id, 0L)}}"""
      }.mkString(",\n"))
      out.println("]")
    } finally out.close()
  }
}

/** Spark job, task, shuffle and spill totals over a measured region. */
final class JobLog extends SparkListener {
  private val jobStart = mutable.HashMap.empty[Int, Long]
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
  @volatile var tasks = 0L
  @volatile var taskNanos = 0L
  @volatile var cpuNanos = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans.add((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      taskNanos += m.executorRunTime * 1000000L
      cpuNanos += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wall millis in `[from, to]` during which no job ran. */
  def idleMs(from: Long, to: Long): Long = {
    val spans = jobSpans.asScala.toSeq.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = from
    spans.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (to - from) - covered
  }
}

/** Every `StreamingQueryProgress`, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}
