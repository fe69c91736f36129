package graft.operators

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors,
  TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Overlap INDEPENDENT jobs inside one query (opt guide §2.6): Spark's
  * scheduler happily runs several jobs at once in one application — the
  * sweep points of a tuning curve and the stage frames of a pipeline
  * composition are only sequential because the driver code calls their
  * actions sequentially. Submitting them from a small thread pool lets a
  * later chain's tasks back-fill executors left idle by the current
  * chain's stage tails AND overlaps the per-job driver latency
  * (planning, AQE stage materialization, checkpoint round-trips) that
  * profiling shows dominates these operators (s31: 102 jobs, ~2 s of
  * inter-job gaps; t38: 76 jobs, ~1.9 s). On a remote cluster each of
  * those gaps is a scheduler round-trip, so the win grows with scale.
  *
  * Each thunk BUILDS its frame in the worker thread too (not just the
  * actions): several operators run driver-interactive control loops
  * (connectedComponents' fixpoint probes) during frame construction, and
  * those must overlap as well.
  *
  * Semantics: each frame is eagerly `localCheckpoint`ed — the within-query
  * materialization discipline the iterative operators already use; row
  * sets are untouched and every run recomputes from the source (nothing
  * is shared across query invocations). Results return in input order,
  * so downstream unions keep their deterministic branch order.
  */
private[graft] object Overlap {

  /** Run `thunks` concurrently and return their results in input order.
    * At most `max(2, defaultParallelism)` run at once, each on its own
    * driver thread; the rest queue in input order. Fewer than two thunks
    * run on the caller's thread.
    *
    * Fail-fast: the first thunk to fail in COMPLETION order (not input
    * order) interrupts its siblings and drops the queued ones, waits up to
    * one minute for the running ones' threads to leave, cancels every
    * Spark job they started and rethrows its own exception unwrapped. A
    * sibling blocked in a Spark action leaves at once; only one in pure
    * driver-side computation, which ignores interrupts, delays the rethrow
    * until it next blocks or ends (or the minute is up).
    *
    * Pool threads are created per call from the caller's thread, so they
    * inherit its Spark local properties (job group, scheduler pool) and
    * its `Console.out`.
    */
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    // tags every job the thunks start, so a failure can cancel them
    val tag = s"graft-overlap-${UUID.randomUUID()}"
    // sweeps are 2–4 chains, Engine.run one job per counter; FIFO
    // scheduling gives the earlier chain priority and later chains
    // back-fill its tail. More concurrent jobs than cores only queue
    // tasks, but two still overlap driver latency on a single core.
    val slots = sc.fold(Runtime.getRuntime.availableProcessors)(_.defaultParallelism)
    val pool = Executors.newFixedThreadPool(thunks.size min (slots max 2))
    val done = new ExecutorCompletionService[T](pool)
    try {
      val futs = thunks.map(t => done.submit(new Callable[T] {
        override def call(): T = { sc.foreach(_.addJobTag(tag)); t() }
      }))
      futs.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            // interrupted, a sibling's thread stops submitting jobs but
            // leaves its running ones behind: cancel them once it is gone
            futs.foreach(_.cancel(true))
            pool.shutdown()
            pool.awaitTermination(1, TimeUnit.MINUTES)
            sc.foreach(_.cancelJobsWithTag(tag))
            throw e.getCause
        }
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }

  def checkpointAll(thunks: Seq[() => DataFrame]): Seq[DataFrame] =
    all(thunks.map(t => () => t().localCheckpoint()))

  /** Two-frame convenience overload. */
  def checkpoint2(a: => DataFrame, b: => DataFrame): (DataFrame, DataFrame) = {
    val r = checkpointAll(Seq(() => a, () => b))
    (r(0), r(1))
  }
}
