package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Engine
import graft.config.{AppConfig, Arn, ConfigLoader}
import graft.streaming.{StreamingCounters, StreamingEngine}

/** What one run reports: every metric by name with its unit, plus the
  * correctness verdict over every checked window record.
  */
final case class Result(verdict: Verdict, valid: Boolean, metrics: Map[String, (Double, String)])

/** The workloads. Both share one config ([[ConfigYaml]]) and one
  * generator; they differ in how the engine meets the data:
  *
  *  - `backfill`: batch `Engine.run` over a static log, closed loop, one
  *    call per measurement;
  *  - `stream_steady`: `StreamingEngine.run` restarted from an empty
  *    checkpoint after an outage. It first catches up on a backlog, then
  *    reads a log that an open-loop thread appends to at a fixed rate well
  *    below capacity; latency is measured in that second phase.
  */
final class Workloads(args: Main.Args) {
  import Workloads._

  private val work = new File(args.work)
  private val source = Arn.unsafe(SourceArn)
  private val cores = 4
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val mainMs = System.currentTimeMillis()
  private val progress = new ProgressLog
  private var spark: SparkSession = _
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var verdict = Verdict(0, 0, 0, 0)
  private var valid = true

  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  private def log(msg: String): Unit =
    System.err.println(f"[counterbench ${(System.currentTimeMillis() - mainMs) / 1000.0}%7.2fs] $msg")
  private def path(name: String): String = new File(work, name).getAbsolutePath

  def newSession(master: String, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("counterbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.dataFrameQueryContext.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.sql.streaming.checkpointLocation", path("checkpoints"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.streams.addListener(progress)
    s
  }

  private def loadConfig(window: String): AppConfig = Trace.span("config.load_route") {
    val cfg = ConfigLoader.fromYaml(ConfigYaml, Map("WINDOW" -> window))
      .fold(e => throw new IllegalStateException(e), identity)
    // routing must keep exactly the three counters on the events stream
    val routed = cfg.counters.filter(_.matchesSource(source, cfg.arnMatchCompat)).map(_.id)
    require(routed == Seq(Check.Clicks, Check.Users, Check.Total), s"routing kept $routed")
    cfg
  }

  private var starts = 0
  private def startStream(dir: String, cfg: AppConfig, out: String,
                          failures: String, tag: String): Map[String, StreamingQuery] =
    Trace.span("streaming.start") {
      starts += 1
      StreamingEngine.run(spark.readStream.format("graft-shards").load(dir), Schema, "ts", cfg, source,
        new TimingPutter(out, 4, tag), watermarkDelay = s"$DelayMs milliseconds",
        payloadCol = "data",
        failurePutter = Some(new TimingPutter(failures, 1, s"$tag-failures")),
        queryNamePrefix = s"$tag-$starts")
    }

  /** One set-up: a fresh Spark session, then config load and routing.
    * Streaming sessions keep one shuffle (and state) partition: their
    * state is a few windows, and four partitions per query quadruple the
    * per-batch state commits until the queries' fixed cost alone fills
    * every core, leaving no rate below capacity.
    */
  private def restart(window: String, streaming: Boolean): AppConfig = {
    if (spark != null) spark.stop()
    spark = newSession(s"local[$cores]", if (streaming) 1 else cores)
    loadConfig(window)
  }

  /** Reports set-up samples. The first is cold and also counts from JVM
    * start (`setup.cold_s`); the others set up again in the warm JVM.
    */
  private def setupDone(samples: Seq[Double], window: String): Unit = {
    put("setup_s", Stats.median(samples), "s")
    put("setup.cold_s", samples.head + (mainMs - jvmStartMs) / 1000.0, "s")
    log(s"set-up samples ${samples.map(x => f"$x%.3f").mkString(" ")}")
    val lr = (1 to 20).map { _ =>
      val t0 = System.nanoTime(); loadConfig(window); (System.nanoTime() - t0) / 1e6
    }
    put("config.load_route_ms", Stats.median(lr), "ms")
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Closed loop: `call` returns one (records/s, emit latencies) sample;
    * calls repeat until `args.seconds` have passed, and at least twice.
    */
  private def closedLoop(call: () => (Double, Seq[Double]))
      : (Seq[Double], Seq[Double], Seq[Double]) = {
    val rates, p50s, p90s = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (rates.size < 2 || secondsSince(t0) < args.seconds) {
      val (rate, lat) = call()
      rates += rate; p50s += Stats.pct(lat, 50); p90s += Stats.pct(lat, 90)
    }
    (rates.toSeq, p50s.toSeq, p90s.toSeq)
  }

  private def fixture(name: String, window: Long)(write: Gen => Unit): (Gen, String) = {
    val dir = path(name)
    val gen = new Gen(args.seed, new File(dir), new Truth(window, Shards))
    val t0 = System.nanoTime()
    write(gen)
    put("gen.fixture_s", (System.nanoTime() - t0) / 1e9, "s")
    log(s"fixture $name written")
    (gen, dir)
  }

  private def check(expected: Seq[Expected], out: String): Seq[OutRec] = {
    val recs = Check.readBack(spark, out)
    val v = Check.compare(expected, recs)
    verdict = verdict + v
    log(s"checked $out: $v")
    recs
  }

  // ---------------------------------------------------------------- backfill

  def backfill(): Result = {
    val (gen, dir) = fixture("log", 60000L)(_.writeStatic(BackfillRecords, T0, BackfillSpanMs, 0L))
    val samples = (1 to SetupSamples).map { _ =>
      val t0 = System.nanoTime(); restart("1 minute", streaming = false); secondsSince(t0)
    }
    setupDone(samples, "1 minute")
    val cfg = loadConfig("1 minute")
    val parsed = StreamingCounters.parsePackedRecords(
      spark.read.format("graft-shards").load(dir), Schema, "data")
    val ok = StreamingCounters.parsedOk(parsed)
    val expected = Check.expectedBatch(gen.truth)
    var call = 0
    def runCall(): (Double, Seq[Double]) = {
      call += 1
      val out = path(s"out-$call")
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      Trace.span("engine.run") {
        Engine.run(ok, "ts", cfg, source, new TimingPutter(out, 4, "backfill"), Some("shard_id"))
      }
      val secs = secondsSince(n0)
      log(f"call $call: $secs%.3f s")
      val recs = check(expected, out)
      (gen.truth.userRecords / secs, recs.map(r => (r.putMs - t0).toDouble))
    }
    // warm-up: codegen, and the JIT until call times level off; checked
    // but not timed
    (1 to BackfillWarmupCalls).foreach(_ => runCall())
    val (rates, p50s, p90s) = closedLoop(() => runCall())
    put("records_per_s", Stats.median(rates), "1/s")
    put("emit_latency_p50_ms", Stats.median(p50s), "ms")
    put("latency.emit_p90_ms", Stats.median(p90s), "ms")
    put("latency.samples", expected.size.toDouble * rates.size, "count")
    // the same loop again with tracing on; the difference is its overhead
    if (args.trace) traced {
      val (tr, tp50, _) = closedLoop(() => runCall())
      put("trace.overhead_records_per_s", Stats.median(tr) - Stats.median(rates), "1/s")
      put("trace.overhead_emit_latency_p50_ms", Stats.median(tp50) - Stats.median(p50s), "ms")
    }
    val corrupt = StreamingCounters.failures(parsed).count()
    if (corrupt != gen.truth.corrupt) valid = false
    put("sources.corrupt_records", corrupt.toDouble, "count")
    if (args.trace) {
      layers(dir, cfg)
      // the same log through the streaming engine, as a catch-up, for the
      // streaming layers' figures on this data
      val streamExpected = Check.expectedStream(gen.truth, gen.truth.maxEventMs - DelayMs)
      val before = progress.all.size
      val t0 = System.nanoTime()
      val streamCfg = restart("1 minute", streaming = true)
      val qs = startStream(dir, streamCfg, path("stream-out"), path("stream-fail"), "stream")
      try catchUp(t0, qs, "stream", streamExpected.size, gen.truth.userRecords)
      finally qs.values.foreach(_.stop())
      check(streamExpected, path("stream-out"))
      streamingLayers(progress.all.drop(before), lagOf = _ => gen.truth.wireRecords)
      // single-threaded baseline: the same call at local[1]
      spark.stop()
      spark = newSession("local[1]", 1)
      val ok1 = StreamingCounters.parsedOk(StreamingCounters.parsePackedRecords(
        spark.read.format("graft-shards").load(dir), Schema, "data"))
      val out = path("out-local1")
      val n0 = System.nanoTime()
      Engine.run(ok1, "ts", cfg, source, new TimingPutter(out, 4, "local1"), Some("shard_id"))
      put("baseline.local1_records_per_s", gen.truth.userRecords / ((System.nanoTime() - n0) / 1e9), "1/s")
      check(expected, out)
    }
    finish(gen)
  }

  // ----------------------------------------------------------- stream_steady

  def steady(): Result = {
    val window = s"$WindowMs milliseconds"
    // the backlog of an outage: older events, which the queries, started
    // from an empty checkpoint, catch up on before the open loop begins
    val (gen, dir) = fixture("log", WindowMs)(_.writeStatic(BacklogRecords,
      System.currentTimeMillis() - (BacklogWindows + 30) * WindowMs, BacklogWindows * WindowMs,
      DelayMs / 2))
    val backlogRecords = gen.truth.userRecords
    val backlogWindows = Check.expectedStream(gen.truth, gen.truth.maxEventMs - DelayMs).size
    val (out, fail) = (path("out"), path("fail"))
    // the earlier set-ups start queries on an empty log and stop them; the
    // last set of queries reads the real log and stays running
    var cfg: AppConfig = null
    var qs = Map.empty[String, StreamingQuery]
    val samples = (1 to SetupSamples).map { i =>
      qs.values.foreach(_.stop())
      val t0 = System.nanoTime()
      cfg = restart(window, streaming = true)
      qs = if (i == SetupSamples) startStream(dir, cfg, out, fail, "steady")
        else {
          val empty = path(s"setup-empty-$i"); new File(empty).mkdirs()
          startStream(empty, cfg, path(s"setup-out-$i"), path(s"setup-fail-$i"), "setup")
        }
      secondsSince(t0)
    }
    val c0 = System.nanoTime()
    setupDone(samples, window)
    catchUp(c0, qs, "steady", backlogWindows, backlogRecords)
    val loop = new OpenLoop(gen, SteadyRate, DelayMs / 2)
    loop.start()
    try {
      Thread.sleep(SteadyWarmupMs)
      val regions = mutable.ArrayBuffer((System.currentTimeMillis(), 0L))
      Thread.sleep(args.seconds * 1000L)
      regions(0) = (regions(0)._1, System.currentTimeMillis())
      var tracedFrom = 0
      if (args.trace) {
        tracedFrom = progress.all.size
        traced {
          val s = System.currentTimeMillis()
          Thread.sleep(args.seconds * 1000L)
          regions += ((s, System.currentTimeMillis()))
        }
      }
      // keep sending until every window that ended during the regions is out
      val lastEnd = regions.map(_._2).max
      val due = gen.truth.synchronized(Check.expectedStream(gen.truth, lastEnd).size)
      if (!awaitPuts("steady", due, qs, 60000L)) valid = false
      loop.stop()
      qs.values.foreach(_.processAllAvailable())
      qs.values.foreach(_.stop())

      // every window ending by the region's end must be out; a later window
      // may be out too, and must then be right and not ahead of the watermark
      val emittedEnd = Check.readBack(spark, out).map(_.window + WindowMs).maxOption.getOrElse(0L)
      val expected = Check.expectedStream(gen.truth,
        math.min(math.max(lastEnd, emittedEnd), gen.truth.maxEventMs - DelayMs))
      val recs = check(expected, out)
      checkFailures(fail, gen.truth.corrupt)
      def latencies(from: Long, to: Long): Seq[Double] = recs.flatMap { r =>
        gen.truth.lastSend.get(r.window).filter(s => s >= from && s <= to)
          .map(s => (r.putMs - s).toDouble)
      }
      val written = loop.written.asScala.toSeq
      def sentBy(ms: Long) = written.filter(_._1 <= ms).lastOption.getOrElse((0L, 0L, 0L))
      def rate(from: Long, to: Long): Double =
        (sentBy(to)._3 - sentBy(from)._3) / ((to - from) / 1000.0)
      val (f0, t0) = regions.head
      val lat = latencies(f0, t0)
      log(s"latencies ${lat.sorted.map(_.toLong).mkString(" ")}")
      put("records_per_s", rate(f0, t0), "1/s")
      put("emit_latency_p50_ms", Stats.pct(lat, 50), "ms")
      put("latency.emit_p90_ms", Stats.pct(lat, 90), "ms")
      put("latency.samples", lat.size.toDouble, "count")
      val late = loop.lateMs.map(_.toDouble).toSeq
      put("gen.late_ms_p99", Stats.pct(late, 99), "ms")
      if (Stats.pct(late, 99) > MaxLateMs) valid = false
      if (args.trace) {
        val (f1, t1) = regions(1)
        val tl = latencies(f1, t1)
        put("trace.overhead_records_per_s", rate(f1, t1) - rate(f0, t0), "1/s")
        put("trace.overhead_emit_latency_p50_ms", Stats.pct(tl, 50) - Stats.pct(lat, 50), "ms")
        streamingLayers(progress.all.drop(tracedFrom), lagOf = ms => sentBy(ms)._2)
        layers(dir, cfg)
      }
    } finally {
      loop.stop()
      qs.values.foreach(_.stop())
    }
    finish(gen)
  }

  // ------------------------------------------------------------ shared parts

  /** Waits until `windows` window records are out, `t0` being when the
    * queries started, and reports the catch-up rate and state size.
    */
  private def catchUp(t0: Long, qs: Map[String, StreamingQuery], tag: String,
                      windows: Int, records: Long): Unit = {
    if (!awaitPuts(tag, windows, qs, 90000L)) valid = false
    val secs = secondsSince(t0)
    log(f"caught up on $records records in $secs%.3f s")
    put("streaming.catchup_records_per_s", records / secs, "1/s")
    val names = qs.values.map(_.name).toSet
    put("streaming.catchup_state_rows_max", (0L +: progress.all.filter(p => names(p.name))
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)).max.toDouble, "count")
  }

  private def awaitPuts(tag: String, n: Long, qs: Map[String, StreamingQuery],
                        timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    val s = TimingPutter.stats(tag)
    while (s.puts.get < n && System.currentTimeMillis() < end) {
      qs.values.flatMap(_.exception).headOption.foreach(e => throw e)
      Thread.sleep(5)
    }
    s.puts.get >= n
  }

  private def checkFailures(dir: String, injected: Long): Unit = {
    val n = if (new File(dir).isDirectory) spark.read.format("graft-shards").load(dir).count() else 0L
    put("sources.corrupt_records", n.toDouble, "count")
    if (n != injected) valid = false
  }

  /** Runs `body` with spans and the Spark listener on, recording the
    * listener's totals over it.
    */
  private def traced(body: => Unit): Unit = {
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    TimingPutter.traced = new TimingPutter.Stats
    val gcBefore = gcMs()
    val t0 = System.currentTimeMillis()
    Trace.on = true
    try body finally Trace.on = false
    val t1 = System.currentTimeMillis()
    Thread.sleep(200) // let the listener bus deliver the last events
    spark.sparkContext.removeSparkListener(jobs)
    val wall = (t1 - t0) / 1000.0
    put("spark.jobs", jobs.jobSpans.size.toDouble, "count")
    put("spark.tasks", jobs.tasks.toDouble, "count")
    put("spark.task_s_sum", jobs.taskNanos / 1e9, "s")
    put("spark.cpu_util", jobs.cpuNanos / 1e9 / (wall * cores), "ratio")
    put("spark.driver_gap_s", jobs.idleMs(t0, t1) / 1000.0, "s")
    put("spark.shuffle_write_mb", jobs.shuffleWrite / 1e6, "MB")
    put("spark.shuffle_read_mb", jobs.shuffleRead / 1e6, "MB")
    put("spark.spill_mb", jobs.spill / 1e6, "MB")
    put("spark.gc_s", (gcMs() - gcBefore) / 1000.0, "s")
    val sink = TimingPutter.traced
    val nanos = sink.putNanos.asScala.toSeq
    put("sinks.puts", sink.puts.get.toDouble, "count")
    put("sinks.put_ms_sum", nanos.sum / 1e6, "ms")
    put("sinks.put_ms_p99", Stats.pct(nanos.map(_ / 1e6), 99), "ms")
    put("sinks.put_failures", sink.failures.get.toDouble, "count")
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def layers(dir: String, cfg: AppConfig): Unit =
    metrics ++= Layers.measure(spark, dir, cfg, source)

  /** Micro-batch, state and lag metrics from the traced region's progress. */
  private def streamingLayers(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                              lagOf: Long => Long): Unit = {
    val counters = ps.filterNot(_.name.endsWith("failures"))
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val data = counters.filter(_.numInputRows > 0)
    put("streaming.queries", counters.map(_.id).distinct.size.toDouble, "count")
    put("streaming.batches", counters.size.toDouble, "count")
    put("streaming.batch_ms_p50", Stats.pct(data.map(d(_, "triggerExecution")), 50), "ms")
    put("streaming.batch_ms_p90", Stats.pct(data.map(d(_, "triggerExecution")), 90), "ms")
    put("streaming.planning_ms_p50", Stats.pct(data.map(d(_, "queryPlanning")), 50), "ms")
    put("streaming.add_batch_ms_p50", Stats.pct(data.map(d(_, "addBatch")), 50), "ms")
    put("streaming.wal_commit_ms_p50", Stats.pct(data.map(d(_, "walCommit")), 50), "ms")
    put("streaming.commit_offsets_ms_p50", Stats.pct(data.map(d(_, "commitOffsets")), 50), "ms")
    put("sources.latest_offset_ms_mean",
      counters.map(d(_, "latestOffset")).sum / math.max(1, counters.size), "ms")
    put("streaming.rows_per_batch_p50", Stats.pct(data.map(_.numInputRows.toDouble), 50), "count")
    val state = counters.flatMap(_.stateOperators.toSeq)
    put("streaming.state_commit_ms_p50", Stats.pct(state.map(_.commitTimeMs.toDouble), 50), "ms")
    put("streaming.state_rows_max", (0L +: state.map(_.numRowsTotal)).max.toDouble, "count")
    put("streaming.state_mb_max", (0L +: state.map(_.memoryUsedBytes)).max / 1e6, "MB")
    // each query's first batch, from its start
    val ids = counters.map(_.id).toSet
    val first = progress.all.filter(p => ids(p.id)).groupBy(_.id).values.map(_.head)
    put("streaming.first_batch_s", Stats.median(first.map(d(_, "triggerExecution") / 1000.0)), "s")
    val lags = data.map { p =>
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d(p, "triggerExecution").toLong
      val offsets = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.sources.head.endOffset)
      val read = offsets.properties().asScala.toSeq.map(_.getValue.asLong()).sum
      (lagOf(end) - read).toDouble
    }
    put("sources.lag_records_p50", Stats.pct(lags, 50), "count")
    put("sources.lag_records_max", (0.0 +: lags).max, "count")
  }

  /** Ends the run: the watermark drop count (must be 0), the verdict, and
    * the trace file.
    */
  private def finish(gen: Gen): Result = {
    // a layer a workload does not run reads 0
    if (args.trace) NotApplicable.foreach { case (k, unit) => if (!metrics.contains(k)) put(k, 0.0, unit) }
    val dropped = progress.all.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
    put("streaming.rows_dropped_by_watermark", dropped.toDouble, "count")
    if (dropped != 0) valid = false
    put("check.window_error_frac", verdict.errorFrac, "ratio")
    put("check.windows_expected", verdict.expected.toDouble, "count")
    put("check.corrupt_injected", gen.truth.corrupt.toDouble, "count")
    put("sources.log_bytes", gen.logBytes.toDouble, "bytes")
    if (args.trace) Trace.write(new File(args.traceOut))
    if (spark != null) spark.stop()
    Result(verdict, valid, metrics.toMap)
  }
}

object Workloads {
  val SourceArn = "arn:aws:kinesis:us-east-1:123456789012:stream/events-prod"
  val Shards = 8
  /** 2026-01-01T00:00:00Z: event time of the first record in a static log. */
  val T0 = 1767225600000L
  val WindowMs = 2000L
  val DelayMs = 2000L
  val SetupSamples = 3

  val BackfillRecords = 160000L
  val BackfillSpanMs = 30 * 60000L
  val BackfillWarmupCalls = 3
  val BacklogRecords = 60000L
  val BacklogWindows = 150L
  val SteadyRate = 1000.0
  val SteadyWarmupMs = 6000L
  /** A generator whose ticks run later than this at p99 makes the run invalid. */
  val MaxLateMs = 250.0

  /** Per-layer metrics that only one workload measures: the open loop's
    * lateness (`stream_steady`) and the `local[1]` baseline (`backfill`).
    */
  val NotApplicable: Seq[(String, String)] =
    Seq("gen.late_ms_p99" -> "ms", "baseline.local1_records_per_s" -> "1/s")

  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("action", StringType),
    StructField("page", LongType)))

  /** The one config every workload runs. `WINDOW` is filled per workload;
    * `audit` reads another stream, so routing must drop it.
    */
  val ConfigYaml: String =
    """required_version: ">= 0.1.0"
      |counters:
      |  - id: clicks
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/events-*"
      |    output_stream_arn: "arn:aws:kinesis:us-east-1:123456789012:stream/counts"
      |    target_expr: 'action == "click"'
      |    window_duration: '{{ env "WINDOW" "1 minute" }}'
      |    jq_expr: '.per_s = .value * 1000 / (.window_end - .window_start)'
      |  - id: users
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/events-*"
      |    output_stream_arn: "arn:aws:kinesis:us-east-1:123456789012:stream/counts"
      |    counter_type: approx_count_distinct
      |    target_column: user_id
      |    window_duration: '{{ env "WINDOW" "1 minute" }}'
      |  - id: total
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/events-*"
      |    output_stream_arn: "arn:aws:kinesis:us-east-1:123456789012:stream/counts"
      |    aggregate_stream_arn: "arn:aws:kinesis:us-east-1:123456789012:stream/partials"
      |    target_column: "*"
      |    window_duration: '{{ env "WINDOW" "1 minute" }}'
      |  - id: audit
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/audit-*"
      |    output_stream_arn: "arn:aws:kinesis:us-east-1:123456789012:stream/counts"
      |    target_column: "*"
      |    window_duration: '{{ env "WINDOW" "1 minute" }}'
      |""".stripMargin
}
