package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.config.Arn
import graft.sinks.Sinks

/** A `RecordPutter` around `Sinks.ShardLogPutter` that counts puts, put
  * time and failures. It is serializable because puts run on executors;
  * the tallies live in the companion object, which in local mode is shared
  * by the driver and its executor threads.
  */
final class TimingPutter(dir: String, nShards: Int, tag: String)
    extends Sinks.RecordPutter {
  new java.io.File(dir).mkdirs()
  private val inner = new Sinks.ShardLogPutter(dir, nShards)

  def put(target: Arn, partitionKey: String, data: String): Unit = {
    val s = TimingPutter.stats(tag)
    val traced = if (Trace.on) TimingPutter.traced else null
    val t0 = System.nanoTime()
    try Trace.span("sinks.put")(inner.put(target, partitionKey, data))
    catch {
      case e: Throwable =>
        s.failures.incrementAndGet()
        if (traced != null) traced.failures.incrementAndGet()
        throw e
    } finally {
      val d = System.nanoTime() - t0
      s.putNanos.add(d)
      s.puts.incrementAndGet()
      if (traced != null) { traced.putNanos.add(d); traced.puts.incrementAndGet() }
    }
  }
}

object TimingPutter {
  final class Stats {
    val puts = new AtomicLong
    val failures = new AtomicLong
    val putNanos = new ConcurrentLinkedQueue[Long]
  }
  private val byTag = new java.util.concurrent.ConcurrentHashMap[String, Stats]

  /** Puts made while tracing is on, over every tag. */
  @volatile var traced = new Stats

  def stats(tag: String): Stats = byTag.computeIfAbsent(tag, _ => new Stats)
}
