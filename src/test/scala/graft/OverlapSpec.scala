package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskContext
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.operators.Overlap

/** `Overlap.all` / `checkpointAll`: ordered results, a bounded pool, and
  * fail-fast semantics (which exception surfaces, how long the call takes,
  * what happens to the siblings' Spark jobs).
  */
class OverlapSpec extends SparkTestBase with Eventually {
  import spark.implicits._
  import OverlapSpec._

  test("all returns results in input order and runs at most max(2, defaultParallelism) at once") {
    val slots = math.max(2, spark.sparkContext.defaultParallelism)
    val running, peak = new AtomicInteger
    val out = Overlap.all((0 until 3 * slots).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(50)
      running.decrementAndGet()
      i
    })
    assert(out == (0 until 3 * slots))
    assert(peak.get >= 2 && peak.get <= slots, s"peak ${peak.get}, slots $slots")
  }

  test("checkpointAll fails with the first failure in completion order, fast, cancelling siblings") {
    slowTaskStarted.set(false)
    slowTaskKilled.set(false)
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      Overlap.checkpointAll(Seq(
        // first in input order, fails last: interrupted while it waits
        () => { waitUntil(false); throw new IllegalStateException("late") },
        // a Spark job whose tasks run 30 s unless killed
        () => spark.range(0, 4, 1, 4).map { i =>
          slowTaskStarted.set(true)
          val ctx = TaskContext.get()
          try waitUntil(ctx.isInterrupted()) finally if (ctx.isInterrupted()) slowTaskKilled.set(true)
          i
        }.toDF(),
        () => { waitUntil(slowTaskStarted.get); throw new IllegalArgumentException("first") }))
    }
    assert(e.isInstanceOf[IllegalArgumentException] && e.getMessage == "first", e)
    assert((System.nanoTime() - t0) / 1e9 < 20)
    eventually(timeout(Span(10, Seconds))) {
      assert(slowTaskKilled.get)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    }
  }
}

object OverlapSpec {
  val slowTaskStarted, slowTaskKilled = new AtomicBoolean

  private def waitUntil(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
  }
}
