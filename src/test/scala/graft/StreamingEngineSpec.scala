package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.config.{AppConfig, Arn, ConfigLoader}
import graft.sinks.Sinks
import graft.sources.Deaggregate
import graft.streaming.{StreamingCounters, StreamingEngine}

/** `StreamingEngine.run`'s topology: one fan-out query per window width
  * plus the corrupt-record query. Pins that it puts exactly what one
  * `StreamingCounters.pipeline` query per counter puts, that no query is
  * left running when `run` fails, and that a failing sink stops every
  * counter of its width and nothing else.
  */
class StreamingEngineSpec extends SparkTestBase {
  import spark.implicits._
  import StreamingEngineSpec._

  private val base = 1638357540000L // 2021-12-01T11:19:00Z
  private def ts(offsetSec: Int) = new Timestamp(base + offsetSec * 1000L)
  private val source = Arn.unsafe("arn:aws:kinesis:ap-northeast-1:111122223333:stream/input")
  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("action", StringType)))

  private def json(user: Long, action: String): String =
    s"""{"user_id": $user, "action": "$action"}"""
  private def plain(user: Long, action: String): Array[Byte] = json(user, action).getBytes("UTF-8")
  private def packed(recs: (Long, String)*): Array[Byte] =
    Deaggregate.aggregate(recs.map { case (u, a) =>
      Deaggregate.SubRecord(s"pk$u", json(u, a).getBytes("UTF-8"))
    })

  private def config(yaml: String): AppConfig = ConfigLoader.fromYaml(yaml).fold(e => fail(e), identity)

  private def counter(id: String, window: String, extra: String): String =
    s"""  - id: $id
       |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
       |    window_duration: $window
       |$extra""".stripMargin

  test("one query per window width puts what one pipeline query per counter puts") {
    implicit val sc = spark.sqlContext
    val out = "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out"
    val cfg = config("counters:\n" + Seq(
      counter("all_1m", "1 minute",
        s"""    output_stream_arn: "$out"
           |    target_column: "*"
           |""".stripMargin),
      counter("buys_1m", "1 minute",
        s"""    output_stream_arn: "$out"
           |    target_expr: 'action == "buy"'
           |    jq_expr: '{"t": .window_start, "id": .counter_id, "n": .value}'
           |""".stripMargin),
      counter("users_2m", "2 minutes",
        s"""    output_stream_arn: "${out}2"
           |    counter_type: approx_count_distinct
           |    target_column: user_id
           |""".stripMargin),
      counter("clicks_2m", "2 minutes",
        s"""    output_stream_arn: "${out}2"
           |    target_expr: 'action == "click"'
           |""".stripMargin),
      counter("user_sum_1m", "1 minute",
        s"""    output_stream_arn: "$out"
           |    counter_type: value_sum
           |    target_column: user_id
           |""".stripMargin),
      counter("user_max_2m", "2 minutes",
        s"""    output_stream_arn: "${out}2"
           |    counter_type: value_max
           |    target_column: user_id
           |""".stripMargin),
      """  - id: elsewhere
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/other"
        |    target_column: "*"
        |""".stripMargin).mkString)
    val routed = cfg.counters.filter(_.matchesSource(source, cfg.arnMatchCompat))
    assert(routed.map(_.id) ==
      Seq("all_1m", "buys_1m", "users_2m", "clicks_2m", "user_sum_1m", "user_max_2m"))

    val input = MemoryStream[(Timestamp, Array[Byte])]
    val raw = input.toDF().toDF("ts", "value")
    val queries = StreamingEngine.run(raw, schema, "ts", cfg, source,
      new TaggedPutter("parity-new"), watermarkDelay = "5 seconds",
      failurePutter = Some(new TaggedPutter("parity-failures")), queryNamePrefix = "parity-new")
    // the old topology: one query per counter over the same stream
    val ok = StreamingCounters.parsedOk(StreamingCounters.parsePackedRecords(raw, schema))
    val oldQueries = routed.map { c =>
      val putter = new TaggedPutter("parity-old")
      StreamingCounters.pipeline(ok, "ts", c, "5 seconds", Some(source.toString))
        .writeStream.queryName(s"parity-old-${c.id}").outputMode("append")
        .foreachBatch((batch: DataFrame, _: Long) => Sinks.write(batch, c, putter))
        .start()
    }
    val all = queries.values.toSeq ++ oldQueries
    try {
      assert(queries.keySet == routed.map(_.id).toSet + "__failures__")
      assert(queries("all_1m") eq queries("buys_1m"))
      assert(queries("all_1m") eq queries("user_sum_1m"))
      assert(queries("users_2m") eq queries("clicks_2m"))
      assert(queries("users_2m") eq queries("user_max_2m"))
      assert(queries("all_1m").name == "parity-new-all_1m-buys_1m-user_sum_1m")
      val running = spark.streams.active.filter(_.name.startsWith("parity-new"))
      assert(running.length == 3, running.map(_.name).toSeq) // 2 widths + failures
      assert(queries.values.toSeq.distinct.size == 3)

      input.addData(
        (ts(0), packed(1L -> "click", 2L -> "buy", 3L -> "click")),
        (ts(5), plain(4L, "view")),
        (ts(10), "corrupt! not json".getBytes("UTF-8")),
        (ts(20), packed(1L -> "view", 5L -> "click")))
      all.foreach(_.processAllAvailable())
      // [60 s, 120 s) has no buy: buys_1m must still put its 0
      input.addData(
        (ts(65), packed(2L -> "click", 6L -> "view")),
        (ts(70), "{oops".getBytes("UTF-8")),
        (ts(75), plain(7L, "view")))
      all.foreach(_.processAllAvailable())
      input.addData((ts(400), plain(9L, "view"))) // closes every window above
      all.foreach(_.processAllAvailable())

      val got = taken("parity-new")
      val want = taken("parity-old")
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
        want.groupBy(identity).view.mapValues(_.size).toMap,
        s"\nnew: ${got.sorted.mkString("\n")}\nold: ${want.sorted.mkString("\n")}")
      // 1-minute windows [0, 60) and [60, 120); 2-minute windows
      // [-60 s, 60 s) and [60 s, 180 s)
      assert(got.count(_._2 == "all_1m") == 2 && got.count(_._2 == "users_2m") == 2, got)
      // the user ids of [0, 60 s) (1, 2, 3, 4, 1, 5) sum to 1600 cents; 7 is
      // the largest in [60 s, 180 s)
      assert(got.exists(p => p._2 == "user_sum_1m" && p._3.contains(s""""window_start":$base,""") &&
        p._3.contains(""""value":1600""")), got)
      assert(got.exists(p => p._2 == "user_max_2m" && p._3.contains(""""value":700""")), got)
      assert(got.contains((out, "buys_1m", s"""{"t":${base + 60000},"id":"buys_1m","n":0}""")), got)
      assert(taken("parity-failures").map(_._3).sorted == Seq("corrupt! not json", "{oops"))
    } finally all.foreach(_.stop())
  }

  test("counters that share an id each put their own records") {
    implicit val sc = spark.sqlContext
    val out = "    output_stream_arn: \"arn:aws:kinesis:ap-northeast-1:111122223333:stream/out\"\n"
    val cfg = config("counters:\n" +
      counter("dup", "1 minute", out + "    target_column: \"*\"\n") +
      counter("dup", "1 minute",
        out + "    counter_type: approx_count_distinct\n    target_column: user_id\n"))
    val routed = cfg.counters.filter(_.matchesSource(source, cfg.arnMatchCompat))
    assert(routed.map(_.counterType.name) == Seq("count", "approx_count_distinct"))
    val input = MemoryStream[(Timestamp, Array[Byte])]
    val raw = input.toDF().toDF("ts", "value")
    val queries = StreamingEngine.run(raw, schema, "ts", cfg, source,
      new TaggedPutter("dup-new"), watermarkDelay = "5 seconds", queryNamePrefix = "dup-new")
    val ok = StreamingCounters.parsedOk(StreamingCounters.parsePackedRecords(raw, schema))
    val oldQueries = routed.zipWithIndex.map { case (c, i) =>
      val putter = new TaggedPutter(s"dup-old-$i")
      StreamingCounters.pipeline(ok, "ts", c, "5 seconds", Some(source.toString))
        .writeStream.queryName(s"dup-old-$i").outputMode("append")
        .foreachBatch((batch: DataFrame, _: Long) => Sinks.write(batch, c, putter))
        .start()
    }
    val all = queries.values.toSeq.distinct ++ oldQueries
    try {
      input.addData((ts(0), packed(1L -> "click", 1L -> "buy", 2L -> "click")),
        (ts(5), plain(1L, "view")))
      all.foreach(_.processAllAvailable())
      input.addData((ts(70), plain(3L, "view"))) // closes [0, 60)
      all.foreach(_.processAllAvailable())
      val got = taken("dup-new")
      val want = taken("dup-old-0") ++ taken("dup-old-1")
      // one record per counter: count 4, distinct users 2
      assert(want.map(_._3).count(_.contains(""""counter_type":"count","value":4""")) == 1, want)
      assert(want.map(_._3)
        .count(_.contains(""""counter_type":"approx_count_distinct","value":2""")) == 1, want)
      assert(got.sorted == want.sorted,
        s"\nnew: ${got.sorted.mkString("\n")}\nold: ${want.sorted.mkString("\n")}")
    } finally all.foreach(_.stop())
  }

  test("run starts no query when a counter cannot plan, and stops what it started when a start fails") {
    implicit val sc = spark.sqlContext
    val raw = MemoryStream[(Timestamp, Array[Byte])].toDF().toDF("ts", "value")
    val before = spark.streams.active.map(_.id).toSet
    def leaked = spark.streams.active.filterNot(q => before(q.id)).map(_.name).toSeq
    val unplannable = config("counters:\n" +
      counter("count_1m", "1 minute", "    target_column: \"*\"\n") +
      counter("hitters_2m", "2 minutes",
        "    counter_type: heavy_hitters\n    target_column: user_id\n"))
    val e = intercept[IllegalArgumentException](StreamingEngine.run(raw, schema, "ts",
      unplannable, source, new TaggedPutter("leak"), queryNamePrefix = "leak"))
    assert(e.getMessage.contains("hitters_2m"), e.getMessage)
    assert(leaked.isEmpty, leaked)

    // the failures query's name is taken, so its start() throws after the
    // counter query has started
    val blocker = MemoryStream[Int].toDF().writeStream.format("noop")
      .queryName("leak2-failures").start()
    try {
      val plannable = config("counters:\n" + counter("count_1m", "1 minute", "    target_column: \"*\"\n"))
      val e2 = intercept[IllegalArgumentException](StreamingEngine.run(raw, schema, "ts",
        plannable, source, new TaggedPutter("leak"),
        failurePutter = Some(new TaggedPutter("leak")), queryNamePrefix = "leak2"))
      assert(e2.getMessage.contains("leak2-failures"), e2.getMessage)
      assert(leaked == Seq("leak2-failures"), leaked)
    } finally blocker.stop()
  }

  test("a counter id with a dot runs and puts its records") {
    implicit val sc = spark.sqlContext
    val out = "    output_stream_arn: \"arn:aws:kinesis:ap-northeast-1:111122223333:stream/out\"\n"
    val cfg = config("counters:\n" +
      counter("clicks.v2", "1 minute", out + "    target_expr: 'action == \"click\"'\n") +
      counter("users.v2", "1 minute",
        out + "    counter_type: approx_count_distinct\n    target_column: user_id\n"))
    val input = MemoryStream[(Timestamp, Array[Byte])]
    val queries = StreamingEngine.run(input.toDF().toDF("ts", "value"), schema, "ts", cfg, source,
      new TaggedPutter("dotted"), watermarkDelay = "5 seconds", queryNamePrefix = "dotted")
    try {
      input.addData((ts(0), packed(1L -> "click", 2L -> "view", 3L -> "click")),
        (ts(5), plain(1L, "click")))
      queries.values.foreach(_.processAllAvailable())
      input.addData((ts(70), plain(4L, "view"))) // closes [0, 60)
      queries.values.foreach(_.processAllAvailable())
      val puts = taken("dotted").filter(_._3.contains(s""""window_start":$base,"""))
      assert(puts.map(_._2).sorted == Seq("clicks.v2", "users.v2"), puts)
      assert(puts.exists(p => p._2 == "clicks.v2" && p._3.contains(""""value":3""")), puts)
      assert(puts.exists(p => p._2 == "users.v2" && p._3.contains(""""value":3""")), puts)
    } finally queries.values.foreach(_.stop())
  }

  test("a failing sink stops its width's query alone and re-puts nothing") {
    implicit val sc = spark.sqlContext
    val cfg = config("counters:\n" +
      counter("fine_1m", "1 minute",
        """    output_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out"
          |    target_column: "*"
          |""".stripMargin) +
      counter("broken_1m", "1 minute",
        """    output_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out2"
          |    target_column: "*"
          |""".stripMargin))
    val input = MemoryStream[(Timestamp, Array[Byte])]
    val queries = StreamingEngine.run(input.toDF().toDF("ts", "value"), schema, "ts", cfg, source,
      new FailingPutter("sink", "broken_1m", base + 60000), watermarkDelay = "5 seconds",
      failurePutter = Some(new TaggedPutter("sink-failures")), queryNamePrefix = "sink")
    val shared = queries("fine_1m")
    val failures = queries("__failures__")
    try {
      input.addData((ts(0), plain(1L, "view")), (ts(10), "bad one".getBytes("UTF-8")))
      queries.values.foreach(_.processAllAvailable())
      input.addData((ts(70), plain(2L, "view"))) // closes [0, 60): both put
      queries.values.foreach(_.processAllAvailable())
      assert(taken("sink").map(_._2).sorted == Seq("broken_1m", "fine_1m"))

      input.addData((ts(200), plain(3L, "view"))) // closes [60, 120): broken_1m throws
      intercept[StreamingQueryException](shared.processAllAvailable())
      assert(!shared.isActive)
      val causes = Iterator.iterate[Throwable](shared.exception.get)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(t => String.valueOf(t.getMessage).contains("sink down for broken_1m")))

      assert(failures.isActive)
      input.addData((ts(210), "bad two".getBytes("UTF-8")))
      failures.processAllAvailable()
      assert(taken("sink-failures").map(_._3).sorted == Seq("bad one", "bad two"))
      // the first window went out once per counter; of the failed batch's,
      // broken_1m put nothing and fine_1m at most its one record
      val puts = taken("sink")
      assert(puts.count(_._3.contains(s""""window_start":$base,""")) == 2, puts)
      assert(puts.count(_._3.contains(s""""window_start":${base + 60000},""")) <= 1, puts)
      assert(!puts.exists(p => p._2 == "broken_1m" &&
        p._3.contains(s""""window_start":${base + 60000},""")), puts)
    } finally queries.values.foreach(_.stop())
  }
}

object StreamingEngineSpec {
  private val puts = new ConcurrentLinkedQueue[(String, (String, String, String))]

  /** Puts (target, partition key, data) of one tag, in put order. */
  def taken(tag: String): Seq[(String, String, String)] =
    puts.asScala.toSeq.collect { case (t, p) if t == tag => p }

  /** Collects puts under `tag` in a JVM-wide buffer (executors run in the
    * test JVM in local mode).
    */
  class TaggedPutter(tag: String) extends Sinks.RecordPutter {
    def put(target: Arn, partitionKey: String, data: String): Unit =
      puts.add(tag -> ((String.valueOf(target), partitionKey, data)))
  }

  /** [[TaggedPutter]] that throws for counter `failing`'s record of the
    * window starting at `windowStart`.
    */
  class FailingPutter(tag: String, failing: String, windowStart: Long)
      extends TaggedPutter(tag) {
    override def put(target: Arn, partitionKey: String, data: String): Unit = {
      if (partitionKey == failing && data.contains(s""""window_start":$windowStart,"""))
        throw new IllegalStateException(s"sink down for $failing")
      super.put(target, partitionKey, data)
    }
  }
}
