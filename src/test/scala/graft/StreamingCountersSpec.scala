package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.config.{CounterDef, CounterType}
import graft.operators.Counters
import graft.streaming.StreamingCounters

/** Structured Streaming execution of the counter pipeline (SURVEY.md
  * O1/O2/O12 streaming semantics): tumbling event-time windows close via
  * watermark (the `isFinalInvokeForWindow` contract, counter.go:339-344),
  * state is engine-managed, corrupt records surface on a side channel
  * instead of failing the batch (counter.go:245-248).
  */
class StreamingCountersSpec extends SparkTestBase {
  import spark.implicits._

  private val base = 1638357540000L // 2021-12-01T11:19:00Z

  private def ts(offsetSec: Int) = new Timestamp(base + offsetSec * 1000L)

  test("percentile counter streams: closed windows quantile exactly once, matching batch") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Option[Double])]
    val hist = StreamingCounters.valueQuantileHistogram(
      input.toDF().toDF("ts", "value"), "ts", windowDuration = "1 minute",
      watermarkDelay = "5 seconds")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val query = hist.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= StreamingCounters.quantilesOfClosedWindows(batch)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }.start()
    try {
      // window [base, base+60s): values 1.00..4.00 → p50=200c, p90/p99=300c
      input.addData((ts(1), Some(1.0)), (ts(2), Some(2.0)),
        (ts(3), Some(3.0)), (ts(4), Some(4.0)))
      query.processAllAvailable()
      assert(got.isEmpty, "no quantiles before the watermark closes the window")
      // a VALUE-LESS heartbeat must still advance the watermark and close
      // the window (the watermark sits below the null filter)
      input.addData((ts(70), None))
      query.processAllAvailable()
      val w = got.filter(_._1 == base).map(t => t._2 -> t._3).toMap
      assert(w == Map(500000L -> 200L, 900000L -> 300L, 990000L -> 300L), s"$got")
      // exactly the batch operator's rows for the same data
      val batchRows = graft.relational.Temporal.windowValueQuantiles(
        Seq((ts(1), Some(1.0)), (ts(2), Some(2.0)), (ts(3), Some(3.0)),
          (ts(4), Some(4.0)), (ts(70), None))
          .toDF("ts", "value"), "1 minute")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.toSet == batchRows.filter(_._1 == base),
        "stream ≡ batch for the closed window")
    } finally query.stop()
  }

  test("config-surface streaming faces: O13 records for closed windows, null-safe") {
    import graft.config.{CounterDef, CounterType}
    implicit val sc = spark.sqlContext
    // window [0s, 60s): 1.5, 2.5, 3.5; window [60s, 120s): ten values with
    // a null among them; a value-less heartbeat at 130s closes both
    val first: Seq[(Timestamp, Option[Double])] =
      Seq((ts(1), Some(1.5)), (ts(2), Some(2.5)), (ts(3), Some(3.5)))
    val second: Seq[(Timestamp, Option[Double])] =
      Seq(7.5, 0.5, 9.5, 4.5, 2.5, 8.5, 1.5, 6.5, 3.5, 5.5).zipWithIndex
        .map { case (v, i) => (ts(61 + i), Option(v)) } :+ ((ts(75), None))
    val heartbeat: Seq[(Timestamp, Option[Double])] = Seq((ts(130), None))
    for (ppm <- Seq(10000L, 500000L, 900000L, 1000000L)) {
      val c = CounterDef("pc", CounterType.ValueQuantile, Some("v"),
        windowDuration = "1 minute", quantilePpm = ppm)
      val input = MemoryStream[(Timestamp, Option[Double])]
      val hist = StreamingCounters.counterHistogram(
        input.toDF().toDF("ts", "v"), "ts", c, watermarkDelay = "5 seconds")
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, String, Double)]
      val query = hist.writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= StreamingCounters.counterQuantileOfClosedWindows(batch, c)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
              r.getDouble(4)))
          ()
        }.start()
      try {
        input.addData(first: _*)
        query.processAllAvailable()
        assert(got.isEmpty, s"ppm $ppm: window still open")
        input.addData(second: _*)
        query.processAllAvailable()
        // value-less heartbeat advances the watermark past both windows
        input.addData(heartbeat: _*)
        query.processAllAvailable()
        if (ppm == 500000L)
          assert(got.find(_._1 == base).map(r => (r._3, r._4, r._5)) ==
            Some(("pc", "value_quantile", 2.5)), s"$got")
        // the batch counter over the same rows: its windows are exactly
        // the closed ones (the heartbeat's window has no values)
        val batchRows = Counters.run((first ++ second ++ heartbeat).toDF("ts", "v"), "ts", c)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
            r.getDouble(4)))
        assert(batchRows.length == 2)
        assert(got.sortBy(_._1).toSeq == batchRows.sortBy(_._1).toSeq,
          s"ppm $ppm: stream $got vs batch ${batchRows.toSeq}")
      } finally query.stop()
    }
  }

  test("heavy-hitter counter streams: closed windows rank exactly once, matching batch") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val counts = StreamingCounters.hitterCounts(
      input.toDF().toDF("ts", "user_id"), "ts", windowDuration = "1 minute",
      watermarkDelay = "5 seconds")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val query = counts.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= StreamingCounters.hittersOfClosedWindows(batch, k = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        ()
      }.start()
    try {
      // window [base, base+60s): user 1 ×3, user 2 ×2, user 3 ×1 → top-2
      input.addData((ts(1), 1L), (ts(2), 1L), (ts(3), 1L),
        (ts(4), 2L), (ts(5), 2L), (ts(6), 3L))
      query.processAllAvailable()
      assert(got.isEmpty, "no ranks before the watermark closes the window")
      input.addData((ts(70), 9L)) // advance the watermark, close the window
      query.processAllAvailable()
      val w = got.filter(_._1 == base)
      assert(w.map(r => (r._2, r._3, r._4)).toSet == Set((1L, 3L, 1L), (2L, 2L, 2L)),
        s"$got")
      // exactly the batch operator's rows for the closed window
      val batchRows = graft.relational.Temporal.windowHeavyHitters(
        Seq((ts(1), 1L), (ts(2), 1L), (ts(3), 1L), (ts(4), 2L), (ts(5), 2L),
          (ts(6), 3L), (ts(70), 9L)).toDF("ts", "user_id"), "1 minute", k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 == base).toSet
      assert(w.toSet == batchRows, "stream ≡ batch for the closed window")
    } finally query.stop()
  }

  test("every ranking face breaks a 9/10 tie: counters by string, Temporal by number") {
    import graft.operators.Intermediate
    import graft.relational.Temporal
    implicit val sc = spark.sqlContext
    // window [0s, 60s): users 9 and 10 four rows each, user 3 one row;
    // each shard holds two rows of 9 and two of 10, so every (window,
    // shard) ties them too
    val rows = (Seq.fill(4)(9L) ++ Seq.fill(4)(10L) :+ 3L).zipWithIndex
      .map { case (u, i) => (ts(1 + i), u, (i % 2).toLong) }
    val df = rows.toDF("ts", "user_id", "shard")
    val c = CounterDef("tie", CounterType.HeavyHitters, Some("user_id"),
      windowDuration = "1 minute", topK = 2)
    def members(out: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      out.collect().map(r => (r.getAs[String]("member"), r.getAs[Long]("rank")))
        .sortBy(_.swap).toSeq
    def users(out: Iterable[org.apache.spark.sql.Row]): Seq[(Long, Long)] =
      out.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("rank"))).toSeq.sortBy(_.swap)
    val byString = Seq(("10", 1L), ("9", 2L))
    val byNumber = Seq((9L, 1L), (10L, 2L))
    /** `face`'s rows of the closed first window of `rows` streamed
      * through `table`, closed by a later heartbeat row. */
    def streamed(table: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                 face: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Timestamp, Long)]
      val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val query = table(input.toDF().toDF("ts", "user_id")).writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= face(batch).collect(); ()
        }.start()
      try {
        input.addData(rows.map(r => (r._1, r._2)): _*)
        query.processAllAvailable()
        input.addData((ts(130), 99L))
        query.processAllAvailable()
      } finally query.stop()
      got.filter(_.getAs[Long]("window_start") == base).toSeq
    }

    assert(members(Counters.run(df, "ts", c)) == byString)
    assert(members(Counters.runTwoPhase(df, "ts", "shard", c)) == byString)
    val perShard = Counters.runPerShard(df, "ts", "shard", c)
    for (shard <- Seq("0", "1"))
      assert(members(perShard.where(col("shard_id") === shard)) == byString, s"shard $shard")
    val counterStream = streamed(
      StreamingCounters.counterMemberCounts(_, "ts", c, watermarkDelay = "5 seconds"),
      StreamingCounters.counterHittersOfClosedWindows(_, c))
    assert(counterStream.map(r => (r.getAs[String]("member"), r.getAs[Long]("rank")))
      .sortBy(_.swap) == byString)

    assert(users(Temporal.windowHeavyHitters(df, "1 minute", k = 2).collect()) == byNumber)
    val records = Intermediate.toHitterRecords(
      Temporal.partialHitterState(df, "ts", "shard", "1 minute"),
      "tie", "arn:aws:kinesis:us-east-1:000000000000:stream/agg")
    assert(users(Intermediate.mergeHitterRecords(records, "tie", k = 2).collect()) == byNumber)
    assert(users(streamed(
      StreamingCounters.hitterCounts(_, "ts", "1 minute", watermarkDelay = "5 seconds"),
      StreamingCounters.hittersOfClosedWindows(_, k = 2))) == byNumber)
  }

  test("streaming tumbling count emits a window once the watermark passes it") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val c = CounterDef("req", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val out = StreamingCounters.run(
      input.toDF().toDF("ts", "user_id"), "ts", c, watermarkDelay = "5 seconds")
    val query = out.writeStream.format("memory").queryName("stream_count")
      .outputMode("append").start()
    try {
      // window [11:19, 11:20): 30 rows
      input.addData((0 until 30).map(i => (ts(i), i.toLong)): _*)
      query.processAllAvailable()
      // advance event time past window end + watermark → closes the window
      input.addData((ts(70), 99L))
      query.processAllAvailable()
      input.addData((ts(140), 100L)) // push watermark again to flush [11:20,11:21)
      query.processAllAvailable()
      val rows = spark.table("stream_count")
        .select("window_start", "value").as[(Long, Long)].collect().toMap
      assert(rows(base) == 30L) // first window emitted exactly once, complete
    } finally query.stop()
  }

  test("streaming ACD with sketch state emits approximate distinct per window") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val c = CounterDef("u", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val out = StreamingCounters.run(
      input.toDF().toDF("ts", "user_id"), "ts", c, watermarkDelay = "5 seconds")
    val query = out.writeStream.format("memory").queryName("stream_acd")
      .outputMode("append").start()
    try {
      input.addData((0 until 200).map(i => (ts(i % 50), i.toLong % 40)): _*)
      query.processAllAvailable()
      input.addData((ts(140), 999L))
      query.processAllAvailable()
      val rows = spark.table("stream_acd")
        .select("window_start", "value").as[(Long, Long)].collect().toMap
      val est = rows(base)
      assert(math.abs(est - 40.0) / 40.0 <= 0.05, s"estimate $est vs 40")
    } finally query.stop()
  }

  test("corrupt JSON records surface as side-channel failures (counter.go:245-248)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
    val raw = Seq(Some("""{"user_id": 7}"""), Some("""not json at all"""),
      Some("""{"user_id": 9}"""), None).toDF("value")
    val parsed = StreamingCounters.parseRecords(raw, schema)
    assert(parsed.columns.toSeq == Seq("value", "user_id", "_corrupt"))
    // a null payload parses to one row of nulls, not to a failure
    assert(StreamingCounters.parsedOk(parsed).select("user_id").as[Option[Long]].collect()
      .toSeq.sortBy(_.getOrElse(-1L)) == Seq(None, Some(7L), Some(9L)))
    val failures = StreamingCounters.failures(parsed).as[String].collect()
    assert(failures.toSeq == Seq("not json at all"))
  }

  test("streaming aggregate-stream consumer merges intermediate records (EP3)") {
    implicit val sc = spark.sqlContext
    // per-shard partials for two windows, serialized as the stream payload;
    // `amount` differs across shards, so a wrong merge shows in sum/min/max
    val events = (0 until 40).map(i => (ts(i % 50), i.toLong % 4, (i * 7 % 40) / 4.0))
      .toDF("ts", "shard", "amount")
    val lateEvents = Seq((ts(600), 0L, 1.0)).toDF("ts", "shard", "amount") // much later window
    // ACD merges approximately: its own test below
    for (t <- Seq(CounterType.Count, CounterType.ValueSum, CounterType.ValueMin, CounterType.ValueMax)) {
      val target = if (t == CounterType.Count) "*" else "amount"
      val c = CounterDef("req", t, Some(target), windowDuration = "1 minute")
      def records(df: org.apache.spark.sql.DataFrame): Seq[String] =
        graft.operators.Intermediate.toRecords(
          graft.operators.Counters.partialState(df, "ts", "shard", c),
          c, "arn:aws:kinesis:ap-northeast-1:1:stream/agg")
          .select("value").as[String].collect().toSeq
      val input = MemoryStream[String]
      val out = StreamingCounters.mergeIntermediate(
        input.toDF().toDF("value"), c, watermarkDelay = "5 seconds")
      val query = out.writeStream.format("memory").queryName(s"stream_merge_${t.name}")
        .outputMode("append").start()
      try {
        input.addData(records(events): _*)
        query.processAllAvailable()
        input.addData(records(lateEvents): _*) // watermark past first window
        query.processAllAvailable()
        // the closed window is the in-plan two-phase merge's only window
        val got = spark.table(s"stream_merge_${t.name}").collect().toSet
        val want = graft.operators.Counters.runTwoPhase(events, "ts", "shard", c).collect().toSet
        assert(got == want, t.name)
        if (t == CounterType.Count) // all four shards' partials summed
          assert(got.map(r => r.getAs[Long]("window_start") -> r.getAs[Long]("value")) ==
            Set(base -> 40L))
      } finally query.stop()
    }
  }

  test("streaming merge UNIONS ACD sketches across shards (EP3 approx path)") {
    implicit val sc = spark.sqlContext
    val c = CounterDef("uniq", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    // 4 shards, user ids 0..19 spread with cross-shard overlap: the union
    // must dedupe ACROSS shard sketches, not sum the per-shard estimates
    val events = (0 until 40).map(i => (ts(i % 50), i.toLong % 20, i.toLong % 4))
      .toDF("ts", "user_id", "shard")
    val late = Seq((ts(600), 99L, 0L)).toDF("ts", "user_id", "shard")
    def records(df: org.apache.spark.sql.DataFrame): Seq[String] =
      graft.operators.Intermediate.toRecords(
        graft.operators.Counters.partialState(df, "ts", "shard", c),
        c, "arn:aws:kinesis:ap-northeast-1:1:stream/agg")
        .select("value").as[String].collect().toSeq
    val input = MemoryStream[String]
    val out = StreamingCounters.mergeIntermediate(
      input.toDF().toDF("value"), c, watermarkDelay = "5 seconds")
    val query = out.writeStream.format("memory").queryName("stream_merge_acd")
      .outputMode("append").start()
    try {
      input.addData(records(events): _*)
      query.processAllAvailable()
      input.addData(records(late): _*) // watermark past the first window
      query.processAllAvailable()
      val rows = spark.table("stream_merge_acd")
        .select("window_start", "value").as[(Long, Long)].collect().toMap
      // lgK=16 HLL is exact at cardinality 20
      assert(rows(base) == 20L)
    } finally query.stop()
  }

  test("KPL-packed payloads deaggregate, parse and count end-to-end (counter.go:163-169)") {
    implicit val sc = spark.sqlContext
    import graft.sources.Deaggregate
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
    def packed(ids: Seq[Long]): Array[Byte] =
      Deaggregate.aggregate(ids.map(id =>
        Deaggregate.SubRecord(s"pk$id", s"""{"user_id": $id}""".getBytes("UTF-8"))))
    val input = MemoryStream[(Timestamp, Array[Byte])]
    val c = CounterDef("packed_users", CounterType.Count, Some("user_id"),
      windowDuration = "1 minute")
    val parsed = StreamingCounters.parsePackedRecords(
      input.toDF().toDF("ts", "value"), schema)
    val out = StreamingCounters.run(
      StreamingCounters.parsedOk(parsed), "ts", c, watermarkDelay = "5 seconds")
    val query = out.writeStream.format("memory").queryName("stream_kpl")
      .outputMode("append").start()
    try {
      // 3 envelopes x 4 user records + 1 bare (non-aggregated) JSON payload
      input.addData(
        (ts(0), packed(Seq(1L, 2L, 3L, 4L))),
        (ts(5), packed(Seq(5L, 6L, 7L, 8L))),
        (ts(10), packed(Seq(9L, 10L, 11L, 12L))),
        (ts(15), """{"user_id": 13}""".getBytes("UTF-8")))
      query.processAllAvailable()
      input.addData((ts(140), packed(Seq(99L)))) // advance watermark
      query.processAllAvailable()
      val rows = spark.table("stream_kpl")
        .select("window_start", "value").as[(Long, Long)].collect().toMap
      assert(rows(base) == 13L) // 12 packed sub-records + 1 passthrough
    } finally query.stop()
  }

  test("a corrupt sub-record inside a KPL envelope fails alone") {
    import graft.sources.Deaggregate
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
    val env = Deaggregate.aggregate(Seq(
      Deaggregate.SubRecord("a", """{"user_id": 1}""".getBytes("UTF-8")),
      Deaggregate.SubRecord("b", """garbage""".getBytes("UTF-8")),
      Deaggregate.SubRecord("c", """{"user_id": 3}""".getBytes("UTF-8"))))
    val raw = Seq(env).toDF("value")
    val parsed = StreamingCounters.parsePackedRecords(raw, schema)
    assert(StreamingCounters.parsedOk(parsed).select("user_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    assert(StreamingCounters.failures(parsed).as[String].collect().toSeq == Seq("garbage"))
  }

  test("explicit CounterState protocol: count state carried across batches, emitted on window close") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val c = CounterDef("req", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val out = StreamingCounters.runCustomState(
      input.toDF().toDF("ts", "user_id"), "ts", c,
      valueCol = lit("x"), watermarkDelay = "5 seconds")
    val query = out.writeStream.format("memory").queryName("custom_count")
      .outputMode("append").start()
    try {
      input.addData((0 until 12).map(i => (ts(i), i.toLong)): _*)
      query.processAllAvailable() // state folded, nothing emitted yet
      assert(spark.table("custom_count").count() == 0)
      input.addData((0 until 18).map(i => (ts(20 + i), i.toLong)): _*)
      query.processAllAvailable() // second invoke folds into SAME state
      input.addData((ts(140), 999L)) // watermark past window end → final invoke
      query.processAllAvailable()
      val rows = spark.table("custom_count")
        .select("window_start", "value").as[(Long, Long)].collect().toMap
      assert(rows(base) == 30L) // both batches' rows in one record
      assert(!spark.table("custom_count").columns.contains("shard_id"))
    } finally query.stop()
  }

  test("explicit CounterState protocol: per-shard HLL sketch state, estimates on close") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long)]
    val c = CounterDef("u", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val out = StreamingCounters.runCustomState(
      input.toDF().toDF("ts", "user_id", "shard"), "ts", c,
      valueCol = col("user_id").cast("string"),
      watermarkDelay = "5 seconds", shardCol = Some("shard"))
    val query = out.writeStream.format("memory").queryName("custom_acd")
      .outputMode("append").start()
    try {
      // 2 shards × 40 distinct users each (disjoint ranges), two batches
      input.addData((0 until 100).map(i => (ts(i % 50), (i % 40).toLong, 0L)): _*)
      input.addData((0 until 100).map(i => (ts(i % 50), (100 + i % 40).toLong, 1L)): _*)
      query.processAllAvailable()
      input.addData((ts(140), 999L, 0L))
      query.processAllAvailable()
      val rows = spark.table("custom_acd")
        .where(col("window_start") === base)
        .select("shard_id", "value").as[(String, Long)].collect().toMap
      assert(rows.keySet == Set("0", "1"))
      rows.values.foreach(est =>
        assert(math.abs(est - 40.0) / 40.0 <= 0.05, s"estimate $est vs 40"))
    } finally query.stop()
  }

  test("oversized state warns once per group (Lambda 1 MB ceiling analog)") {
    implicit val sc = spark.sqlContext
    val before = graft.streaming.StreamingCounters.oversizedStateWarnings
    // threshold far below any real sketch: every ACD group trips it
    System.setProperty("graft.state.warn.bytes", "8")
    try {
      val input = MemoryStream[(Timestamp, Long)]
      val c = CounterDef("guard", CounterType.ApproxCountDistinct, Some("user_id"),
        windowDuration = "1 minute")
      val out = StreamingCounters.runCustomState(
        input.toDF().toDF("ts", "user_id"), "ts", c,
        valueCol = col("user_id").cast("string"), watermarkDelay = "5 seconds")
      val query = out.writeStream.format("memory").queryName("guard_warn")
        .outputMode("append").start()
      try {
        input.addData((0 until 50).map(i => (ts(i), i.toLong)): _*)
        query.processAllAvailable()
        // second batch, same group: the warn must NOT repeat per batch
        input.addData((ts(55), 1000L))
        query.processAllAvailable()
        assert(graft.streaming.StreamingCounters.oversizedStateWarnings == before + 1,
          "exactly one warning for the one oversized group")
      } finally query.stop()
    } finally System.clearProperty("graft.state.warn.bytes")
  }

  test("streaming pipeline applies the counter's jq_expr after the window closes") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val c = CounterDef("req", CounterType.Count, Some("*"), windowDuration = "1 minute",
      jqExpr = Some("""select(.value > 0) | {"t": .window_start, "v": (.value | tostring)}"""))
    val out = StreamingCounters.pipeline(
      input.toDF().toDF("ts", "user_id"), "ts", c, watermarkDelay = "5 seconds")
    val query = out.writeStream.format("memory").queryName("stream_jq")
      .outputMode("append").start()
    try {
      input.addData((0 until 25).map(i => (ts(i), i.toLong)): _*)
      query.processAllAvailable()
      input.addData((ts(140), 99L))
      query.processAllAvailable()
      val rows = spark.table("stream_jq").as[(Long, String)].collect().toMap
      assert(rows(base) == "25") // jq projection + tostring applied
    } finally query.stop()
  }

  test("streaming exact dedup drops repeats within the watermark horizon") {
    implicit val sc = spark.sqlContext
    import graft.streaming.StreamingDedup
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingDedup.dropExactDuplicates(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text",
      watermarkDelay = "1 minute")
    val query = out.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L, "alpha"), (ts(1), 2L, "beta"), (ts(2), 3L, "alpha"))
      query.processAllAvailable()
      // cross-batch repeat within the horizon is dropped too
      input.addData((ts(10), 4L, "beta"), (ts(11), 5L, "gamma"))
      query.processAllAvailable()
      val kept = spark.table("stream_dedup")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 5L)) // first alpha, first beta, gamma
    } finally query.stop()
  }

  test("streaming dedup passes null-content records through untouched") {
    implicit val sc = spark.sqlContext
    import graft.streaming.StreamingDedup
    val input = MemoryStream[(Timestamp, Long, Option[String])]
    val out = StreamingDedup.dropExactDuplicates(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text",
      watermarkDelay = "1 minute")
    val query = out.writeStream.format("memory").queryName("stream_dedup_null")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), 1L, Some("alpha")), (ts(1), 2L, None),
        (ts(2), 3L, None), (ts(3), 4L, Some("alpha")))
      query.processAllAvailable()
      val kept = spark.table("stream_dedup_null")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 3L)) // both nulls survive; dup alpha dropped
    } finally query.stop()
  }

  test("streaming near-dup drops same-LSH-bucket vectors within the horizon") {
    implicit val sc = spark.sqlContext
    import graft.streaming.StreamingDedup
    val input = MemoryStream[(Timestamp, Long, Option[Array[Float]])]
    val ones = Array.fill(64)(1.0f)
    val negs = Array.fill(64)(-1.0f)
    val out = StreamingDedup.dropNearDuplicatesWithinWatermark(
      input.toDF().toDF("ts", "doc_id", "embedding"), "ts", "embedding",
      nPlanes = 4, watermarkDelay = "1 minute")
    val query = out.writeStream.format("memory").queryName("stream_neardup")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), 1L, Some(ones)), (ts(1), 2L, Some(negs)), (ts(2), 3L, Some(ones)))
      query.processAllAvailable()
      // cross-batch same-bucket repeat within the horizon drops too;
      // null embeddings pass through untouched
      input.addData((ts(10), 4L, Some(ones)), (ts(11), 5L, None))
      query.processAllAvailable()
      val kept = spark.table("stream_neardup")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 5L)) // first of each bucket + the null
    } finally query.stop()
  }

  test("StreamingEngine composes KPL → parse → route → count → sink end-to-end") {
    implicit val sc = spark.sqlContext
    import graft.config.{Arn, ConfigLoader}
    import graft.sinks.Sinks
    import graft.sources.Deaggregate
    import graft.streaming.StreamingEngine
    val yaml =
      """counters:
        |  - id: packed_all
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
        |    output_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out"
        |    target_column: "*"
        |    window_duration: 1 minute
        |  - id: packed_users
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/in*"
        |    output_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out2"
        |    target_column: user_id
        |    counter_type: approx_count_distinct
        |    window_duration: 1 minute
        |    jq_expr: '{"t": .window_start, "v": .value}'
        |  - id: elsewhere
        |    input_stream_arn: "arn:aws:kinesis:*:*:stream/other"
        |    target_column: "*"
        |    window_duration: 1 minute
        |""".stripMargin
    val cfg = ConfigLoader.fromYaml(yaml).fold(e => fail(e), identity)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
    def packed(ids: Seq[Long]): Array[Byte] =
      Deaggregate.aggregate(ids.map(id =>
        Deaggregate.SubRecord(s"pk$id", s"""{"user_id": $id}""".getBytes("UTF-8"))))
    val input = MemoryStream[(Timestamp, Array[Byte])]
    Sinks.CollectingPutter.drain()
    // the failures sink runs on executors: collect through the static
    // buffer (a closure-captured local queue would be serialized per task
    // and the executor-side copy's writes lost)
    val queries = StreamingEngine.run(
      input.toDF().toDF("ts", "value"), schema, "ts", cfg,
      Arn.unsafe("arn:aws:kinesis:ap-northeast-1:111122223333:stream/input"),
      new Sinks.CollectingPutter, watermarkDelay = "5 seconds",
      failurePutter = Some(new Sinks.CollectingPutter), queryNamePrefix = "e2e")
    try {
      assert(queries.keySet == Set("packed_all", "packed_users", "__failures__"))
      input.addData(
        (ts(0), packed(Seq(1L, 2L, 3L))),
        (ts(5), packed(Seq(1L, 2L, 3L, 4L))),
        (ts(10), "corrupt! not json".getBytes("UTF-8")))
      queries.values.foreach(_.processAllAvailable())
      input.addData((ts(140), packed(Seq(9L)))) // close the window
      queries.values.foreach(_.processAllAvailable())
      val puts = Sinks.CollectingPutter.drain()
      val byArn = puts.groupBy(_._1)
      // counter 1: the 7 parsed sub-records (corrupt payload excluded by
      // the parsedOk gate)
      val allRec = byArn("arn:aws:kinesis:ap-northeast-1:111122223333:stream/out").head._3
      assert(allRec.contains("\"counter_id\":\"packed_all\"") && allRec.contains("\"value\":7"))
      // counter 2: jq-projected {t, v}, 4 distinct users
      val userRec = byArn("arn:aws:kinesis:ap-northeast-1:111122223333:stream/out2").head._3
      assert(userRec.contains("\"v\":4") && userRec.contains("\"t\":" + base))
      // the corrupt payload surfaced on the failures channel, not as an error
      val fails = puts.filter(_._2 == "failures")
      assert(fails.size == 1 && fails.head._3.contains("corrupt!"))
    } finally queries.values.foreach(_.stop())
  }

  test("streaming fanOut shares one aggregation across counters (O16)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val c1 = CounterDef("all", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val c2 = CounterDef("evens", CounterType.Count,
      targetExpr = Some("if(user_id % 2 == 0, 1, nil)"), windowDuration = "1 minute")
    val out = StreamingCounters.fanOut(
      input.toDF().toDF("ts", "user_id"), "ts", Seq(c1, c2), watermarkDelay = "5 seconds")
    val query = out.writeStream.format("memory").queryName("stream_fanout")
      .outputMode("append").start()
    try {
      input.addData((0 until 20).map(i => (ts(i), i.toLong)): _*)
      query.processAllAvailable()
      input.addData((ts(140), 99L))
      query.processAllAvailable()
      val rows = spark.table("stream_fanout")
        .where(col("window_start") === base)
        .select("counter_id", "value").as[(String, Long)].collect().toMap
      assert(rows("all") == 20L)
      assert(rows("evens") == 10L)
    } finally query.stop()
  }

  test("transformWithState carries CounterState across batches, emits on timer") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Timestamp, Long)]
      val c = CounterDef("req_tws", CounterType.Count, Some("*"), windowDuration = "1 minute")
      val out = StreamingCounters.runCustomStateTws(
        input.toDF().toDF("ts", "user_id"), "ts", c,
        valueCol = lit("x"), watermarkDelay = "5 seconds")
      val query = out.writeStream.format("memory").queryName("tws_count")
        .outputMode("append").start()
      try {
        input.addData((0 until 10).map(i => (ts(i), i.toLong)): _*)
        query.processAllAvailable()
        // second batch adds to the SAME window — state must carry
        input.addData((10 until 30).map(i => (ts(i), i.toLong)): _*)
        query.processAllAvailable()
        // watermark past window end + delay fires the event-time timer
        input.addData((ts(70), 99L))
        query.processAllAvailable()
        // collect as a Seq, not a Map: a Map would silently collapse a
        // double emission — the emit-once contract is the point here
        val rows = spark.table("tws_count")
          .select("window_start", "value").as[(Long, Long)].collect().toSeq
          .filter(_._1 == base)
        assert(rows == Seq((base, 30L)),
          s"window must emit once with both batches merged: $rows")
      } finally query.stop()
    } finally spark.conf.unset(key)
  }

  test("transformWithState quantile sketch carries across batches, emits once on close") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Timestamp, Option[Double])]
      val out = StreamingCounters.quantileSketchStream(
        input.toDF().toDF("ts", "value"), "ts", windowDuration = "1 minute",
        watermarkDelay = "5 seconds")
      val query = out.writeStream.format("memory").queryName("tws_qs")
        .outputMode("append").start()
      try {
        // window [base, base+60s): 1.00..20.00 split across two batches,
        // with a value-less heartbeat riding in batch one (must fold as a
        // no-op, not poison the sketch or stall the watermark)
        input.addData((1 to 10).map(i => (ts(i), Some(i.toDouble))) :+
          ((ts(11), None: Option[Double])): _*)
        query.processAllAvailable()
        assert(spark.table("tws_qs").where(col("window_start") === base).count() == 0,
          "no emission before the watermark closes the window")
        input.addData((11 to 20).map(i => (ts(i), Some(i.toDouble))): _*)
        query.processAllAvailable()
        input.addData((ts(70), Some(99.0))) // close the window
        query.processAllAvailable()
        val rows = spark.table("tws_qs")
          .where(col("window_start") === base)
          .select("n", "knots", "ranks").collect().toSeq
        assert(rows.size == 1, s"window must emit exactly once: $rows")
        val r = rows.head
        assert(r.getLong(0) == 20L, s"n must carry both batches: $r")
        // 20 inserts never trip the 256-entry flush: the summary is an
        // exact CDF, so every quantile query is exact
        val knots = r.getSeq[Long](1).toArray
        val ranks = r.getSeq[Long](2).toArray
        assert(graft.functions.QuantileSketch.query(knots, ranks, 10L) == 1000L,
          "p50 target rank 10 → 10.00 → 1000 cents")
        assert(graft.functions.QuantileSketch.query(knots, ranks, 20L) == 2000L,
          "max rank → 20.00 → 2000 cents")
      } finally query.stop()
    } finally spark.conf.unset(key)
  }

  test("transformWithState hitter sketch carries across batches, emits once on close") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Timestamp, Long)]
      val out = StreamingCounters.hitterSketchStream(
        input.toDF().toDF("ts", "user_id"), "ts", windowDuration = "1 minute",
        watermarkDelay = "5 seconds", capacity = 16)
      val query = out.writeStream.format("memory").queryName("tws_hh")
        .outputMode("append").start()
      try {
        // window [base, base+60s): user 7 dominates across TWO batches
        // (8 + 4 hits), users 1..4 get one hit each — under capacity, so
        // the Misra-Gries counts are exact and must carry between batches
        input.addData((0 until 8).map(i => (ts(i), 7L)): _*)
        query.processAllAvailable()
        assert(spark.table("tws_hh").where(col("window_start") === base).count() == 0,
          "no emission before the watermark closes the window")
        input.addData(((8 until 12).map(i => (ts(i), 7L)) ++
          (12 until 16).map(i => (ts(i), (i - 11).toLong))): _*)
        query.processAllAvailable()
        input.addData((ts(70), 99L)) // close the window
        query.processAllAvailable()
        val rows = spark.table("tws_hh")
          .where(col("window_start") === base)
          .select("keys", "counts").collect().toSeq
        assert(rows.size == 1, s"window must emit exactly once: $rows")
        val m = rows.head.getSeq[String](0).zip(rows.head.getSeq[Long](1)).toMap
        assert(m("7") == 12L, s"dominant key must carry both batches exactly: $m")
        for (u <- 1 to 4) assert(m(u.toString) == 1L, s"singleton $u: $m")
      } finally query.stop()
    } finally spark.conf.unset(key)
  }

  test("streaming CMS cells accumulate across batches and match the batch build on close") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = StreamingCounters.cmsCounterStream(
      input.toDF().toDF("ts", "user_id"), "ts", windowDuration = "1 minute",
      watermarkDelay = "5 seconds", depth = 3, width = 8)
    val query = out.writeStream.format("memory").queryName("cms_cells")
      .outputMode("append").start()
    try {
      // one window, events split across TWO batches — the native streaming
      // agg must accumulate the cells incrementally
      val batch1 = (0 until 6).map(i => (ts(i), 7L))
      val batch2 = (6 until 9).map(i => (ts(i), 7L)) ++
        (9 until 12).map(i => (ts(i), (i % 3 + 1).toLong))
      input.addData(batch1: _*)
      query.processAllAvailable()
      assert(spark.table("cms_cells").count() == 0,
        "no emission before the watermark closes the window")
      input.addData(batch2: _*)
      query.processAllAvailable()
      input.addData((ts(70), 99L)) // close the window
      query.processAllAvailable()
      val streamed = spark.table("cms_cells")
        .where(col("window_start") === base)
        .collect().map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
      val batch = graft.relational.Temporal.cmsCounters(
        (batch1 ++ batch2).toDF("ts", "user_id"), "ts", "1 minute",
        depth = 3, width = 8)
        .where(col("window_start") === base)
        .collect().map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
      assert(streamed == batch,
        s"streamed cells must equal the batch build: $streamed vs $batch")
      assert(streamed.values.sum == 12L * 3, "3 rows × 12 events mass")
    } finally query.stop()
  }

  test("transformWithState ACD carries the HLL sketch across batches") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Timestamp, Long)]
      val c = CounterDef("acd_tws", CounterType.ApproxCountDistinct,
        Some("user_id"), windowDuration = "1 minute")
      val out = StreamingCounters.runCustomStateTws(
        input.toDF().toDF("ts", "user_id"), "ts", c,
        valueCol = col("user_id"), watermarkDelay = "5 seconds")
      val query = out.writeStream.format("memory").queryName("tws_acd")
        .outputMode("append").start()
      try {
        // 40 distinct users split across two batches, 10 overlapping
        input.addData((0 until 25).map(i => (ts(i), i.toLong)): _*)
        query.processAllAvailable()
        input.addData((25 until 50).map(i => (ts(i), (i % 40).toLong)): _*)
        query.processAllAvailable()
        input.addData((ts(70), 99L)) // close the window
        query.processAllAvailable()
        val rows = spark.table("tws_acd")
          .select("window_start", "value").as[(Long, Long)].collect().toSeq
          .filter(_._1 == base)
        assert(rows.size == 1, s"window must emit once: $rows")
        // 40 true distincts; lgK=16 sketch is exact at this cardinality
        assert(math.abs(rows.head._2 - 40L) <= 2, s"sketch estimate off: $rows")
      } finally query.stop()
    } finally spark.conf.unset(key)
  }

  test("stream-stream interval join matches across micro-batches, within lookback") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Long)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "event_id")
    val out = graft.streaming.StreamingJoins.purchaseClickPairs(
      events, lookback = "1 minute")
    val query = out.writeStream.format("memory").queryName("stream_ivj")
      .outputMode("append").start()
    try {
      // batch 1: two clicks (user 1), one click (user 2)
      input.addData((ts(0), 1L, "click", 10L), (ts(30), 1L, "click", 11L),
        (ts(0), 2L, "click", 20L))
      query.processAllAvailable()
      // batch 2: purchase for user 1 at +40s — joins BOTH prior clicks
      // (cross-batch, both within the 1-minute lookback); user 2's
      // purchase at +90s is beyond its click's lookback → no match
      input.addData((ts(40), 1L, "purchase", 100L), (ts(90), 2L, "purchase", 200L))
      query.processAllAvailable()
      val rows = spark.table("stream_ivj")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((100L, 10L), (100L, 11L)), s"got $rows")
    } finally query.stop()
  }

  test("analytic session face: cross-batch merge, strict gap boundary, closed-only emission") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = StreamingCounters.analyticSessionStream(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id", gap = "1 minute")
    val query = sessions.writeStream.format("memory").queryName("e23_sessions")
      .outputMode("append").start()
    try {
      // batch 1: user 1 starts a session (0s, 10s); user 2 a singleton
      input.addData((ts(0), 1L), (ts(10), 1L), (ts(0), 2L))
      query.processAllAvailable()
      assert(spark.table("e23_sessions").isEmpty,
        "nothing closes before the watermark passes a session's reach")
      // batch 2: 20s MERGES into user 1's batch-1 partial session in the
      // state store; 80s sits EXACTLY at the 20s+gap reach and ALSO merges
      // (session_window's boundary is inclusive, ≡ the batch surface's
      // gap ≤ g — proved here, pinned at sessionsFromClosed); 141s is
      // strictly beyond 80s+gap and starts session 2
      input.addData((ts(20), 1L), (ts(80), 1L), (ts(141), 1L))
      query.processAllAvailable()
      // batch 3: heartbeat advances the watermark past every real session;
      // its own session stays unclosed and must never emit
      input.addData((ts(600), 3L))
      query.processAllAvailable()
      val out = graft.relational.Temporal
        .sessionsFromClosed(spark.table("e23_sessions"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(out == Set(
        (1L, 1L, base, base + 80000L, 4L, 80000L), // one row despite the batch split
        (1L, 2L, base + 141000L, base + 141000L, 1L, 0L), // gap > g = new session
        (2L, 1L, base, base, 1L, 0L)), s"got $out")
      // ≡ the batch gaps-and-islands surface over the same closed events,
      // exact-gap tie included (same inclusive convention on both sides)
      val batch = graft.relational.Temporal.userSessions(
        Seq((ts(0), 1L), (ts(10), 1L), (ts(20), 1L), (ts(80), 1L),
          (ts(141), 1L), (ts(0), 2L))
          .toDF("ts", "user_id").select(col("user_id"), col("ts")),
        gap = "1 minute")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(out == batch, s"stream ≡ batch: $batch")
    } finally query.stop()
  }
}
