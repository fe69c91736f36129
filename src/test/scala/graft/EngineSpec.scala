package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.config.{AppConfig, Arn, ConfigLoader, CounterType}
import graft.operators.{Counters, Intermediate}
import graft.sinks.Sinks
import graft.sources.Deaggregate

/** End-to-end engine behavior: config → ARN routing → pipeline → jq → sink
  * (reference `counter.go:161-204` + `counter.go:514-555`), the explicit
  * intermediate-record topology (`counter.go:483-512`), and KPL
  * deaggregation (`deaggregate.go`).
  */
class EngineSpec extends SparkTestBase with Eventually {
  import spark.implicits._

  private val base = 1638357540000L
  private val n = 1200
  private lazy val events = (0 until n).map { i =>
    (new Timestamp(base + i * 60000L / n), i.toLong % 50, i % 4)
  }.toDF("ts", "user_id", "shard")

  private val yaml =
    """counters:
      |  - id: all_records
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out"
      |    target_column: "*"
      |    window_duration: 1 minute
      |  - id: users
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    target_column: user_id
      |    counter_type: approx_count_distinct
      |    window_duration: 1 minute
      |    jq_expr: '{"t": .window_start, "v": .value}'
      |  - id: other_stream
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/elsewhere"
      |    target_column: "*"
      |    window_duration: 1 minute
      |""".stripMargin

  private val source = Arn.unsafe("arn:aws:kinesis:ap-northeast-1:111122223333:stream/input")

  test("ARN routing selects matching counters only (counter.go:172-175)") {
    val cfg = ConfigLoader.fromYaml(yaml).fold(e => fail(e), identity)
    val outs = Engine.process(events, "ts", cfg, source)
    assert(outs.map(_._1.id) == Seq("all_records", "users"))
  }

  test("pipeline output matches direct Counters.run; jq transform applies") {
    val cfg = ConfigLoader.fromYaml(yaml).fold(e => fail(e), identity)
    val outs = Engine.process(events, "ts", cfg, source).toMap.map { case (c, df) => c.id -> df }
    val all = outs("all_records")
    assert(all.select("value").as[Long].collect().head == n)
    assert(all.columns.contains("event_source_arn"))
    val users = outs("users")
    assert(users.columns.toSeq == Seq("t", "v")) // jq projection
    assert(users.select("v").as[Long].collect().head == 50L)
  }

  test("sink routing: kinesis putter gets JSON records keyed by counter id") {
    val cfg = ConfigLoader.fromYaml(yaml).fold(e => fail(e), identity)
    Sinks.CollectingPutter.drain()
    Engine.run(events, "ts", cfg, source, new Sinks.CollectingPutter)
    val puts = Sinks.CollectingPutter.drain()
    // only all_records has an output ARN; users falls back to stdout
    assert(puts.size == 1)
    val (arn, pk, data) = puts.head
    assert(arn == "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out")
    assert(pk == "all_records")
    assert(data.contains("\"counter_id\":\"all_records\"") && data.contains(s""""value":$n"""))
  }

  private val out = "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out"
  private val agg = "arn:aws:kinesis:ap-northeast-1:111122223333:stream/agg"

  // count, ACD with jq, and a two-phase count over the shard column
  private val threeCounters =
    s"""counters:
      |  - id: cnt
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    target_column: "*"
      |    window_duration: 1 minute
      |  - id: acd_jq
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    target_column: user_id
      |    counter_type: approx_count_distinct
      |    window_duration: 1 minute
      |    jq_expr: '{"t": .window_start, "v": .value, "s": .shard_id}'
      |  - id: two_phase
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    aggregate_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/agg"
      |    target_column: "*"
      |    window_duration: 1 minute
      |""".stripMargin

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("run scans and parses the input once for all routed counters; output ≡ sequential sinks") {
    val cfg = ConfigLoader.fromYaml(threeCounters).fold(e => fail(e), identity)
    val cacheManager = spark.sharedState.cacheManager
    assert(cacheManager.isEmpty, "precondition: no cached data")
    val scanned = spark.sparkContext.longAccumulator("engine-run-scans")
    val input = events.as[(Timestamp, Long, Int)]
      .map { r => scanned.add(1); r }
      .toDF("ts", "user_id", "shard")

    Sinks.CollectingPutter.drain()
    Engine.run(input, "ts", cfg, source, new Sinks.CollectingPutter, Some("shard"))
    val shared = Sinks.CollectingPutter.drain()
    assert(scanned.sum == n, s"${scanned.sum} rows computed for $n input rows")
    assert(cacheManager.isEmpty)
    assert(input.storageLevel == StorageLevel.NONE)

    Engine.process(input, "ts", cfg, source, Some("shard"))
      .foreach { case (c, o) => Sinks.write(o, c, new Sinks.CollectingPutter) }
    val sequential = Sinks.CollectingPutter.drain()
    assert(scanned.sum > 2L * n, "sequential sinks re-scan the input per counter")
    assert(shared.map(_._2).toSet == Set("cnt", "acd_jq", "two_phase"))
    assert(shared.sorted == sequential.sorted)
  }

  test("run leaves an input the caller persisted cached at its own level") {
    val cfg = ConfigLoader.fromYaml(threeCounters).fold(e => fail(e), identity)
    val input = events.select($"ts", $"user_id", $"shard").persist(StorageLevel.MEMORY_ONLY)
    try {
      Engine.run(input, "ts", cfg, source, Sinks.NullPutter, Some("shard"))
      assert(input.storageLevel == StorageLevel.MEMORY_ONLY)
    } finally input.unpersist(blocking = true)
  }

  // every fan-out type in every topology, jq, heavy_hitters (its own
  // pipeline) and a second window width
  private val everyTopology =
    s"""counters:
      |  - id: clicks
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    target_expr: 'action == "click"'
      |    window_duration: 1 minute
      |    jq_expr: '{"w": .window_start, "n": .value, "s": .shard_id}'
      |  - id: users
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    counter_type: approx_count_distinct
      |    target_column: user_id
      |    window_duration: 1 minute
      |  - id: total_2p
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    aggregate_stream_arn: "$agg"
      |    target_column: "*"
      |    window_duration: 1 minute
      |  - id: users_2p
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    aggregate_stream_arn: "$agg"
      |    counter_type: approx_count_distinct
      |    target_column: user_id
      |    window_duration: 1 minute
      |  - id: spend
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    counter_type: value_sum
      |    target_column: amount
      |    window_duration: 1 minute
      |  - id: low_2p
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    aggregate_stream_arn: "$agg"
      |    counter_type: value_min
      |    target_column: amount
      |    window_duration: 1 minute
      |  - id: high
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    counter_type: value_max
      |    target_column: amount
      |    window_duration: 1 minute
      |  - id: top_users
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    counter_type: heavy_hitters
      |    target_column: user_id
      |    top_k: 3
      |    window_duration: 1 minute
      |  - id: clicks_30s
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    target_expr: 'action == "click"'
      |    window_duration: 30 seconds
      |  - id: total_30s_2p
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
      |    output_stream_arn: "$out"
      |    aggregate_stream_arn: "$agg"
      |    target_column: "*"
      |    window_duration: 30 seconds
      |""".stripMargin

  test("run puts what process then write put per counter, sharded and unsharded") {
    val cfg = ConfigLoader.fromYaml(everyTopology).fold(e => fail(e), identity)
    // 3 minutes; the shard an Int column; an amount that is sometimes null
    val input = (0 until n).map { i =>
      (new Timestamp(base + i * 150L), i.toLong % 50, i % 4, if (i % 3 == 0) "click" else "view",
        Option.when(i % 7 != 0)((i % 97) * 1.25))
    }.toDF("ts", "user_id", "shard", "action", "amount")
    for (shardCol <- Seq(Some("shard"), None)) {
      Sinks.CollectingPutter.drain()
      Engine.run(input, "ts", cfg, source, new Sinks.CollectingPutter, shardCol)
      val fanned = Sinks.CollectingPutter.drain()
      Engine.process(input, "ts", cfg, source, shardCol)
        .foreach { case (c, o) => Sinks.write(o, c, new Sinks.CollectingPutter) }
      val perCounter = Sinks.CollectingPutter.drain()
      assert(fanned.map(_._2).toSet == cfg.counters.map(_.id).toSet)
      // clicks: per shard and window when sharded; once per window if not
      assert(fanned.count(_._2 == "clicks") == (if (shardCol.isDefined) 12 else 3))
      assert(fanned.count(_._2 == "total_30s_2p") == 6)
      assert(fanned.sorted == perCounter.sorted, s"shard column $shardCol")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("run caches its input on disk only when two or more plans read it") {
    val oneWidth = ConfigLoader.fromYaml(threeCounters).fold(e => fail(e), identity)
    val every = ConfigLoader.fromYaml(everyTopology).fold(e => fail(e), identity)
    val twoWidths = every.copy(counters = every.counters.filter(_.counterType != CounterType.HeavyHitters))
    val widthAndHitters = every.copy(counters = every.counters.filter(_.windowDuration == "1 minute"))
    val dir = Files.createTempDirectory("engine-run-parquet").resolve("events").toString
    events.select($"ts", $"user_id", $"shard",
      when($"user_id" % 3 === 0, "click").otherwise("view").as("action"),
      ($"user_id" * 0.5).as("amount")).write.parquet(dir)
    val parquet = spark.read.parquet(dir)
    // the CLI's loader: parquet scan, ts normalization and spread repartition
    assert(Engine.readsParquetFiles(Tables.events(spark, sf0001).queryExecution.analyzed))
    assert(Engine.readsParquetFiles(
      parquet.where($"user_id" > 3).repartition(4, $"shard").queryExecution.analyzed))
    val parsed = parquet.as[(Timestamp, Long, Int, String, Double)].map(identity)
      .toDF(parquet.columns.toSeq: _*)
    assert(!Engine.readsParquetFiles(parsed.queryExecution.analyzed))

    /** The storage levels `input` had while `run` put its records. */
    def levelsDuringRun(input: DataFrame, cfg: AppConfig): Set[StorageLevel] = {
      EngineSpec.probed.set(input)
      EngineSpec.levels.clear()
      Engine.run(input, "ts", cfg, source, new EngineSpec.InputCacheProbe, Some("shard"))
      assert(spark.sharedState.cacheManager.isEmpty, "run left something cached")
      EngineSpec.levels.asScala.toSet
    }
    // one width: the width's aggregate is the input's only reader
    assert(levelsDuringRun(parsed, oneWidth) == Set(StorageLevel.NONE))
    // two readers: the input's copy is on disk only, since a copy in memory
    // would shrink the memory the aggregations can take, failing inputs
    // larger than memory that re-reading counts
    assert(levelsDuringRun(parsed, twoWidths) == Set(StorageLevel.DISK_ONLY))
    assert(levelsDuringRun(parsed, widthAndHitters) == Set(StorageLevel.DISK_ONLY))
    // a plain parquet read is read again by each plan
    assert(levelsDuringRun(parquet, twoWidths) == Set(StorageLevel.NONE))
  }

  test("a failing counter's sink fails run, cancels its siblings and drops the cache") {
    val cfg = ConfigLoader.fromYaml(threeCounters).fold(e => fail(e), identity)
    EngineSpec.slowPutStarted.set(false)
    EngineSpec.slowPutDone.set(false)
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      Engine.run(events, "ts", cfg, source, new EngineSpec.FailingPutter("two_phase", "cnt"),
        Some("shard"))
    }
    assert(!e.isInstanceOf[ExecutionException] && !e.isInstanceOf[InterruptedException])
    assert(causes(e).exists(t => String.valueOf(t.getMessage).contains(EngineSpec.Refused)), e)
    assert(spark.sharedState.cacheManager.isEmpty)
    // cnt's first put was in flight when two_phase failed; uncancelled, it
    // would hold its job for 30 s
    eventually(timeout(Span(5, Seconds))) {
      assert(EngineSpec.slowPutDone.get)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    }
    assert((System.nanoTime() - t0) / 1e9 < 20)
  }

  test("stdout fallback: each counter's lines stay contiguous, in config order") {
    val stdoutYaml =
      s"""counters:
        |  - id: first_stdout
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
        |    target_column: "*"
        |    window_duration: 1 minute
        |  - id: to_kinesis
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
        |    output_stream_arn: "$out"
        |    target_column: "*"
        |    window_duration: 1 minute
        |  - id: second_stdout
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
        |    target_column: user_id
        |    counter_type: approx_count_distinct
        |    window_duration: 1 minute
        |""".stripMargin
    val cfg = ConfigLoader.fromYaml(stdoutYaml).fold(e => fail(e), identity)
    // 30 one-minute windows × 4 shards: 120 records per counter
    val spread = (0 until n).map(i => (new Timestamp(base + i * 1500L), i.toLong % 50, i % 4))
      .toDF("ts", "user_id", "shard")
    val captured = new ByteArrayOutputStream()
    Sinks.CollectingPutter.drain()
    Console.withOut(captured) {
      Engine.run(spread, "ts", cfg, source, new Sinks.CollectingPutter, Some("shard"))
    }
    assert(Sinks.CollectingPutter.drain().map(_._2) == Seq.fill(120)("to_kinesis"))
    val ids = captured.toString("UTF-8").linesIterator
      .flatMap(l => "\"counter_id\":\"(\\w+)\"".r.findFirstMatchIn(l).map(_.group(1))).toSeq
    assert(ids == Seq.fill(120)("first_stdout") ++ Seq.fill(120)("second_stdout"))
  }

  test("multi-stage jq pipeline flows from YAML config through the engine") {
    val jqYaml =
      """counters:
        |  - id: piped
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
        |    target_column: "*"
        |    window_duration: 1 minute
        |    jq_expr: 'select(.value > 0) | {"t": .window_start, "v": (.value | tostring)}'
        |""".stripMargin
    val cfg = ConfigLoader.fromYaml(jqYaml).fold(e => fail(e), identity)
    val out = Engine.process(events, "ts", cfg, source).head._2
    assert(out.columns.toSeq == Seq("t", "v"))
    val r = out.as[(Long, String)].collect().head
    assert(r._1 == base && r._2 == n.toString) // tostring → string value
  }

  test("non-aggregate sharded topology emits per-shard records with shard_id (counter.go:423-425)") {
    val cfg = ConfigLoader.fromYaml(yaml).fold(e => fail(e), identity)
    val outs = Engine.process(events, "ts", cfg, source, shardCol = Some("shard"))
      .toMap.map { case (c, df) => c.id -> df }
    val all = outs("all_records")
    assert(all.columns.contains("shard_id"))
    val byShard = all.select("shard_id", "value").as[(String, Long)].collect().toMap
    assert(byShard.keySet == Set("0", "1", "2", "3"))
    assert(byShard.values.sum == n)
  }

  test("arn_match_compat widens routing to the reference's unanchored matcher") {
    val compatYaml =
      """arn_match_compat: true
        |counters:
        |  - id: mid_match
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
        |    target_column: "*"
        |    window_duration: 1 minute
        |""".stripMargin
    // 'stream/in' occurs mid-resource only — anchored glob rejects it
    val oblique = Arn.unsafe("arn:aws:kinesis:r:a:stream/x-stream/inner")
    val strict = ConfigLoader.fromYaml(compatYaml.replace("arn_match_compat: true\n", ""))
      .fold(e => fail(e), identity)
    assert(Engine.process(events, "ts", strict, oblique).isEmpty)
    val compat = ConfigLoader.fromYaml(compatYaml).fold(e => fail(e), identity)
    assert(compat.arnMatchCompat)
    assert(Engine.process(events, "ts", compat, oblique).map(_._1.id) == Seq("mid_match"))
  }

  test("intermediate records round-trip: serialize → parse → merge ≡ direct (counter.go:483-512)") {
    val c = ConfigLoader.fromYaml(yaml).toOption.get.counters.head
    val partial = Counters.partialState(events, "ts", "shard", c)
    val records = Intermediate.toRecords(partial, c, source.toString)
    val merged = Intermediate.mergeRecords(records, c, requiredVersion = Some(">=0.1.0"))
    assert(merged.select("value").as[Long].collect().head == n)
    // foreign counters' records are filtered out (counter.go:365-371)
    val foreign = Intermediate.mergeRecords(records, c.copy(id = "someone_else"))
    assert(foreign.count() == 0)
    // incompatible counter_version records are skipped (counter.go:366-368)
    val tooOld = Intermediate.mergeRecords(records, c, requiredVersion = Some(">=9.0.0"))
    assert(tooOld.count() == 0)
    // every single-column type but ACD (its own tolerance test below): the
    // record hop merges as the in-plan two-phase merge does
    val want = Map(CounterType.Count -> n.toLong,
      CounterType.ValueSum -> (0 until n).map(i => i % 50 * 100L).sum,
      CounterType.ValueMin -> 0L, CounterType.ValueMax -> 4900L)
    for ((t, value) <- want) {
      val ct = c.copy(counterType = t, targetColumn = Some("user_id"))
      val hop = Intermediate.mergeRecords(Intermediate.toRecords(
        Counters.partialState(events, "ts", "shard", ct), ct, source.toString), ct)
      val direct = Counters.runTwoPhase(events, "ts", "shard", ct)
      assert(hop.collect().toSet == direct.collect().toSet, t.name)
      assert(hop.select("value").as[Long].collect().toSeq == Seq(value), t.name)
    }
  }

  test("intermediate ACD records merge sketches across shards") {
    val c = ConfigLoader.fromYaml(yaml).toOption.get.counters(1)
    val partial = Counters.partialState(events, "ts", "shard", c)
    val merged = Intermediate.mergeRecords(
      Intermediate.toRecords(partial, c, source.toString), c)
    val est = merged.select("value").as[Long].collect().head
    assert(math.abs(est - 50.0) / 50.0 <= 0.05, s"estimate $est vs 50")
  }

  test("KPL deaggregation: envelope round-trip + passthrough (deaggregate.go)") {
    val subs = (0 until 5).map(i =>
      Deaggregate.SubRecord(s"pk$i", s"""{"user_id":$i}""".getBytes("UTF-8")))
    val blob = Deaggregate.aggregate(subs)
    val out = Deaggregate.deaggregate(blob)
    assert(out.map(_.partitionKey) == subs.map(_.partitionKey))
    assert(out.map(r => new String(r.data, "UTF-8")) ==
      subs.map(r => new String(r.data, "UTF-8")))
    // non-aggregated payloads pass through unchanged
    val plain = """{"user_id":1}""".getBytes("UTF-8")
    assert(Deaggregate.deaggregate(plain).map(r => new String(r.data, "UTF-8")) ==
      Seq("""{"user_id":1}"""))
    // corrupted checksum → passthrough, not failure
    val bad = blob.clone(); bad(bad.length - 1) = (bad.last ^ 0xff).toByte
    assert(Deaggregate.deaggregate(bad).size == 1)
  }

  test("KPL explode operator: 1→N over a binary column") {
    val subs = (0 until 3).map(i =>
      Deaggregate.SubRecord("pk", s"rec$i".getBytes("UTF-8")))
    val df = Seq(
      (1L, Deaggregate.aggregate(subs)),
      (2L, "plain".getBytes("UTF-8"))).toDF("seq", "data")
    val out = Deaggregate.explodeRecords(df, "data")
      .select(col("seq"), col("data").cast("string"))
      .as[(Long, String)].collect().sorted
    assert(out.toSeq == Seq((1L, "rec0"), (1L, "rec1"), (1L, "rec2"), (2L, "plain")))
  }
}

object EngineSpec {
  val Refused = "put refused for this counter"
  val slowPutStarted, slowPutDone = new AtomicBoolean

  /** Throws on `failId`'s puts once a put of `slowId` is in flight, so the
    * failure always meets a running sibling job. That first `slowId` put
    * blocks for 30 s unless its task is killed; other puts are dropped.
    */
  class FailingPutter(failId: String, slowId: String) extends Sinks.RecordPutter {
    def put(target: Arn, partitionKey: String, data: String): Unit =
      if (partitionKey == failId) {
        waitUntil(slowPutStarted.get)
        throw new IllegalStateException(Refused)
      } else if (partitionKey == slowId && slowPutStarted.compareAndSet(false, true)) {
        val ctx = TaskContext.get()
        // a kill may also interrupt the task thread, ending the sleep early
        try waitUntil(ctx.isInterrupted()) finally slowPutDone.set(true)
      }
  }

  val probed = new AtomicReference[DataFrame]
  val levels = new ConcurrentLinkedQueue[StorageLevel]

  /** Drops every record; notes the storage level of the `probed` frame
    * while a put runs.
    */
  class InputCacheProbe extends Sinks.RecordPutter {
    def put(target: Arn, partitionKey: String, data: String): Unit =
      levels.add(probed.get.storageLevel)
  }

  private def waitUntil(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
  }
}
