package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.{CounterDef, CounterType}
import graft.operators.Counters

/** Counter pipeline semantics, mirroring the reference's test strategy
  * (`/root/reference/counter_test.go`): known n records over m distinct
  * users in one window; exact equality for count, ε=5% for HLL; explicit
  * partial→final merge equivalence (the aggregate-stream contract).
  */
class CountersSpec extends SparkTestBase {
  import spark.implicits._

  private val base = 1638357540000L // 2021-12-01T11:19:00Z — reference window
  private val n = 2000
  private val m = 100

  /** Reference-shaped synthetic events: n rows, m users, ~half on /my_page. */
  private lazy val synth = {
    val rows = (0 until n).map { i =>
      val uid = i % m
      (new Timestamp(base + i * 60000L / n), 1000L + i, uid.toLong,
        if (uid < m / 2) "/my_page" else "/", i % 3)
    }
    rows.toDF("ts", "request_id", "user_id", "path", "shard")
  }

  private def valueOf(df: org.apache.spark.sql.DataFrame): Long =
    df.select("value").as[Long].collect().head

  test("count with target_column '*' counts every record") {
    val c = CounterDef("req", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val out = Counters.run(synth, "ts", c)
    assert(out.count() == 1) // one window
    assert(valueOf(out) == n)
  }

  test("column count skips nulls (counter.go:274-276)") {
    val withNulls = synth.withColumn("maybe",
      when(col("user_id") < 10, col("user_id"))) // 10 users → 200 rows non-null
    val c = CounterDef("nn", CounterType.Count, Some("maybe"), windowDuration = "1 minute")
    assert(valueOf(Counters.run(withNulls, "ts", c)) == n / m * 10)
  }

  test("count vs ACD false-asymmetry: count drops false, ACD counts it") {
    // expr yields boolean false for half the rows, nil for none
    val cCount = CounterDef("b", CounterType.Count,
      targetExpr = Some("""string_contains(path, "my_page")"""), windowDuration = "1 minute")
    // count keeps non-null ∧ non-false → only the my_page half
    assert(valueOf(Counters.run(synth, "ts", cCount)) == n / 2)
    // ACD over the same expr counts BOTH distinct values {true, false}
    val cAcd = CounterDef("b2", CounterType.ApproxCountDistinct,
      targetExpr = Some("""string_contains(path, "my_page")"""), windowDuration = "1 minute")
    assert(valueOf(Counters.run(synth, "ts", cAcd)) == 2L)
  }

  test("boolean target_column counts false too (counter.go:271-276 vs 260-270)") {
    // A plain target_column only rejects absent/nil — boolean false IS
    // counted. Only the target_expr path drops false.
    val withBool = synth.withColumn("flag",
      when(col("user_id") < 10, col("user_id") % 2 === 0)) // 200 non-null, half false
    val viaColumn = CounterDef("bc", CounterType.Count, Some("flag"), windowDuration = "1 minute")
    assert(valueOf(Counters.run(withBool, "ts", viaColumn)) == n / m * 10)
    val viaExpr = CounterDef("be", CounterType.Count,
      targetExpr = Some("flag"), windowDuration = "1 minute")
    assert(valueOf(Counters.run(withBool, "ts", viaExpr)) == n / m * 10 / 2)
  }

  test("ACD ≈ m within 5% (counter_test.go:66 tolerance)") {
    val c = CounterDef("u", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val est = valueOf(Counters.run(synth, "ts", c))
    assert(math.abs(est - m.toDouble) / m <= 0.05, s"estimate $est vs exact $m")
  }

  test("siphash_key_hex routes into the sketched domain; any key stays within ε") {
    val defKey = CounterDef("u", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val keyed = defKey.copy(siphashKeyHex = "ffeeddccbbaa99887766554433221100")
    val estDefault = valueOf(Counters.run(synth, "ts", defKey))
    val estKeyed = valueOf(Counters.run(synth, "ts", keyed))
    // both keys estimate the same cardinality within tolerance...
    assert(math.abs(estDefault - m.toDouble) / m <= 0.05, s"default-key est $estDefault vs $m")
    assert(math.abs(estKeyed - m.toDouble) / m <= 0.05, s"keyed est $estKeyed vs $m")
    // ...but the key genuinely changed the sketched DOMAIN: at m=100 both
    // estimates are sparse-mode exact (both 100), so compare the partial
    // sketch BYTES — sparse sketches store the hashed coupons themselves,
    // and two keyed hash families virtually never coincide. Identical
    // bytes would mean the key was ignored (the round-2/3 gap).
    def sketchBytes(c: CounterDef): Seq[Seq[Byte]] =
      Counters.partialState(synth, "ts", "shard", c)
        .select("partial_sketch").collect()
        .map(_.getAs[Array[Byte]](0).toSeq).toSeq
    assert(sketchBytes(defKey) != sketchBytes(keyed),
      "different siphash keys must produce different sketch contents")
  }

  test("expr-valued ACD: login users ≈ m/2 (target_expr.yaml fixture)") {
    val c = CounterDef("login", CounterType.ApproxCountDistinct,
      targetExpr = Some("""if(string_contains(path, "my_page"), user_id, nil)"""),
      windowDuration = "1 minute")
    val est = valueOf(Counters.run(synth, "ts", c))
    assert(math.abs(est - m / 2.0) / (m / 2.0) <= 0.05, s"estimate $est vs ${m / 2}")
  }

  test("two-phase count ≡ single-phase (merge associativity, counter.go:373-379)") {
    val c = CounterDef("req2p", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val direct = valueOf(Counters.run(synth, "ts", c))
    val merged = valueOf(Counters.runTwoPhase(synth, "ts", "shard", c))
    assert(direct == merged && merged == n)
  }

  test("two-phase ACD: sketch union across shards ≈ exact (counter.go:380-399)") {
    val c = CounterDef("u2p", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val merged = valueOf(Counters.runTwoPhase(synth, "ts", "shard", c))
    assert(math.abs(merged - m.toDouble) / m <= 0.05, s"merged estimate $merged vs $m")
  }

  test("partial state is bounded and mergeable (IntermediateRecord analog)") {
    val c = CounterDef("u", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val partial = Counters.partialState(synth, "ts", "shard", c)
    assert(partial.count() == 3) // one sketch per shard
    assert(partial.columns.contains("partial_sketch"))
  }

  test("per-shard topology: shard_id in output, shards partition the count (counter.go:423-425)") {
    val c = CounterDef("req", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val out = Counters.runPerShard(synth, "ts", "shard", c)
    assert(out.columns.contains("shard_id"))
    val byShard = out.select("shard_id", "value").as[(String, Long)].collect().toMap
    assert(byShard.keySet == Set("0", "1", "2"))
    assert(byShard.values.sum == n)
    // ACD flavor: per-shard sketches estimate each shard's distinct users
    val acd = CounterDef("u", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val acdOut = Counters.runPerShard(synth, "ts", "shard", acd)
      .select("shard_id", "value").as[(String, Long)].collect().toMap
    // every user appears in every shard (i%3 cycles across i%m classes)
    acdOut.values.foreach(est =>
      assert(math.abs(est - m.toDouble) / m <= 0.05, s"estimate $est vs $m"))
  }

  test("tumbling windows bucket by floor(ts/w) (run.go:148-159)") {
    val c = CounterDef("req", CounterType.Count, Some("*"), windowDuration = "1 minute")
    // spread rows across two 1-minute windows
    val twoWin = synth.withColumn("ts",
      when(col("request_id") % 2 === 0, col("ts"))
        .otherwise(col("ts") + expr("INTERVAL 1 MINUTE")))
    val out = Counters.run(twoWin, "ts", c).orderBy("window_start")
    val rows = out.select("window_start", "window_end", "value")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 2)
    assert(rows(0)._1 == base && rows(0)._2 == base + 60000L)
    assert(rows(1)._1 == base + 60000L)
    assert(rows.map(_._3).sum == n)
  }

  test("output record shape matches counter.go:414-434 (epoch millis)") {
    val c = CounterDef("req", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val out = Counters.run(synth, "ts", c,
      eventSourceArn = Some("arn:aws:kinesis:ap-northeast-1:1:stream/s"))
    assert(out.columns.toSeq ==
      Seq("event_source_arn", "window_start", "window_end", "counter_id", "counter_type", "value"))
    val r = out.head()
    assert(r.getAs[Long]("window_start") == base)
    assert(r.getAs[Long]("window_end") == base + 60000L)
    assert(r.getAs[String]("counter_type") == "count")
  }

  test("fanOut: N counters share one pass, results match standalone runs") {
    val c1 = CounterDef("all", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val c2 = CounterDef("pages", CounterType.Count,
      targetExpr = Some("""if(string_contains(path, "my_page"), 1, nil)"""),
      windowDuration = "1 minute")
    val c3 = CounterDef("users", CounterType.ApproxCountDistinct, Some("user_id"),
      windowDuration = "1 minute")
    val out = Counters.fanOut(synth, "ts", Seq(c1, c2, c3))
      .select("counter_id", "value").as[(String, Long)].collect().toMap
    assert(out("all") == n)
    assert(out("pages") == n / 2)
    assert(math.abs(out("users") - m.toDouble) / m <= 0.05)
  }

  test("counter validation mirrors config.go:77-120") {
    assert(CounterDef("", CounterType.Count, Some("*")).validate.isLeft)
    assert(CounterDef("x", CounterType.Count).validate.isLeft)
    assert(CounterDef("x", CounterType.ApproxCountDistinct, Some("*")).validate.isLeft)
    assert(CounterDef("x", CounterType.Count, Some("*")).validate.isRight)
  }

  test("value_quantile counter: exact lower quantile; single ≡ two-phase ≡ per-shard merge") {
    // user_id serves as the ranked value: ids 0..99 uniform ⇒ p50 = 49
    // (lower discrete: cum 50% first reached at the 50th distinct value)
    val c = CounterDef("p50", CounterType.ValueQuantile, Some("user_id"),
      windowDuration = "1 minute", quantilePpm = 500000L)
    val single = Counters.run(synth, "ts", c)
    assert(single.count() == 1)
    assert(single.select("value").as[Long].collect().head == 49L)
    assert(single.columns.toSeq ==
      Seq("window_start", "window_end", "counter_id", "counter_type", "value"))
    val two = Counters.runTwoPhase(synth, "ts", "shard", c)
    assert(two.collect().toSeq == single.collect().toSeq,
      "the shard hop must be invisible")
    // boundary ppm: quantilePpm 10000 (1%) over 100 uniform values → 0
    val p1 = c.copy(quantilePpm = 10000L)
    assert(Counters.run(synth, "ts", p1).select("value").as[Long].collect().head == 0L)
  }

  test("heavy_hitters counter: string-tie-break rank, k bound; two-phase invisible") {
    // skew: user 7 double-weighted via concat trick — build explicit frame
    val rows = (0 until 300).map { i =>
      val uid = if (i % 3 == 0) 7L else (i % 10).toLong
      (new Timestamp(base + i * 100L), uid, (i % 4).toLong)
    }
    val df = rows.toDF("ts", "user_id", "shard")
    val c = CounterDef("top", CounterType.HeavyHitters, Some("user_id"),
      windowDuration = "1 minute", topK = 2)
    val out = Counters.run(df, "ts", c).collect()
    assert(out.length == 2)
    val first = out.find(_.getAs[Long]("rank") == 1L).get
    assert(first.getAs[String]("member") == "7", s"user 7 dominates: ${out.toSeq}")
    // 100 via i%3==0, plus the i%10==7 ∧ i%3≠0 residue (20 of 30)
    assert(first.getAs[Long]("value") == 120L)
    val two = Counters.runTwoPhase(df, "ts", "shard", c).collect()
    assert(two.sortBy(_.getAs[Long]("rank")).toSeq ==
      out.sortBy(_.getAs[Long]("rank")).toSeq, "the shard hop must be invisible")
  }

  test("count-table counters have no intermediate record: each entry point says runTwoPhase") {
    import graft.operators.Intermediate
    import graft.streaming.StreamingCounters
    // a counter's partial is {v, n} / {m: string, n}; the Temporal codecs
    // carry {c, n} / {u: long, n}, so pointing a user at them loses the key
    val arn = "arn:aws:kinesis:us-east-1:000000000000:stream/agg"
    val count = CounterDef("n", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val partial = Counters.partialState(synth, "ts", "shard", count)
    val records = Intermediate.toRecords(partial, count, arn)
    val entryPoints: Seq[(String, CounterDef => Any)] = Seq(
      "Intermediate.toRecords" -> (c => Intermediate.toRecords(partial, c, arn)),
      "Intermediate.parse" -> (c => Intermediate.parse(records, c)),
      "StreamingCounters.mergeIntermediate" ->
        (c => StreamingCounters.mergeIntermediate(records, c)))
    val temporalCodec = "(to|parse|merge)(Quantile|Hitter|Cms)".r
    for ((name, entry) <- entryPoints;
         c <- Seq(CounterDef("q", CounterType.ValueQuantile, Some("user_id")),
           CounterDef("h", CounterType.HeavyHitters, Some("user_id")))) {
      val msg = intercept[IllegalArgumentException](entry(c)).getMessage
      assert(msg.contains("Counters.runTwoPhase"), s"$name, ${c.counterType.name}: $msg")
      assert(temporalCodec.findFirstIn(msg).isEmpty, s"$name, ${c.counterType.name}: $msg")
    }
  }

  test("the Temporal record codecs refuse a counter's partial and say runTwoPhase") {
    import graft.operators.Intermediate
    // the counter partials reuse the column names partial_hist/partial_counts
    // with {v, n} / {m: string, n} entries: read back as {c, n} / {u, n} they
    // returned 0 rows, or one null-user row carrying the window total
    val arn = "arn:aws:kinesis:us-east-1:000000000000:stream/agg"
    val codecs: Seq[(String, DataFrame => DataFrame)] = Seq(
      "toQuantileRecords" -> (p => Intermediate.toQuantileRecords(p, "x", arn)),
      "toHitterRecords" -> (p => Intermediate.toHitterRecords(p, "x", arn)),
      "toCmsRecords" -> (p => Intermediate.toCmsRecords(p, "x", arn)))
    for (c <- Seq(
           CounterDef("q", CounterType.ValueQuantile, Some("user_id"), windowDuration = "1 minute"),
           CounterDef("h", CounterType.HeavyHitters, Some("user_id"), windowDuration = "1 minute"));
         (name, codec) <- codecs) {
      val partial = Counters.partialState(synth, "ts", "shard", c)
      val msg = intercept[IllegalArgumentException](codec(partial)).getMessage
      assert(msg.contains(s"Intermediate.$name") && msg.contains("Counters.runTwoPhase"),
        s"${c.counterType.name} through $name: $msg")
    }
  }

  test("value_quantile property: pick equals the sorted-array definition") {
    // random multisets and ppms: the windowed pick must equal the lower
    // discrete quantile "smallest v with |{x <= v}|*1e6 >= ppm*n"
    val rng = new scala.util.Random(20260814L)
    for (trial <- 1 to 8) {
      val n = 5 + rng.nextInt(40)
      val vals = Array.fill(n)(rng.nextInt(12).toLong)
      val ppm = 1L + rng.nextInt(1000000)
      val df = vals.zipWithIndex.map { case (v, i) =>
        (new Timestamp(base + i * 100L), v)
      }.toSeq.toDF("ts", "v")
      val c = CounterDef(s"q$trial", CounterType.ValueQuantile, Some("v"),
        windowDuration = "1 minute", quantilePpm = ppm)
      val got = Counters.run(df, "ts", c).select("value").as[Long].collect().head
      val sorted = vals.sorted
      val expected = sorted.find(v =>
        sorted.count(_ <= v).toLong * 1000000L >= ppm * n).get
      assert(got == expected, s"trial $trial: n=$n ppm=$ppm got $got want $expected")
    }
  }

  test("extension counter types: validation and fanOut guard") {
    assert(CounterDef("q", CounterType.ValueQuantile, Some("*")).validate.isLeft)
    assert(CounterDef("q", CounterType.ValueQuantile, Some("v"),
      quantilePpm = 0L).validate.isLeft)
    assert(CounterDef("q", CounterType.ValueQuantile, Some("v"),
      quantilePpm = 1000001L).validate.isLeft)
    assert(CounterDef("h", CounterType.HeavyHitters, Some("*")).validate.isLeft)
    assert(CounterDef("h", CounterType.HeavyHitters, Some("u"), topK = 0).validate.isLeft)
    assert(CounterDef("q", CounterType.ValueQuantile, Some("v")).validate.isRight)
    val ext = CounterDef("q", CounterType.ValueQuantile, Some("user_id"))
    intercept[IllegalArgumentException] {
      Counters.fanOut(synth, "ts", Seq(ext))
    }
  }

  test("value_sum counter: integer cents, two-phase invisible, fanOut-able, " +
       "non-numeric skipped, '*' rejected") {
    import org.apache.spark.sql.functions.{col, floor, pmod, sum => sqlSum}
    val c = CounterDef("cents", CounterType.ValueSum, Some("user_id"),
      windowDuration = "1 minute")
    val expected = synth
      .agg(sqlSum(floor(col("user_id").cast("double") * 100).cast("long")))
      .head().getLong(0)
    val single = Counters.run(synth, "ts", c).select("value").head().getLong(0)
    assert(single == expected)
    // two-phase merge must be invisible (long partials sum exactly)
    val sharded = synth.withColumn("shard", pmod(col("user_id"), org.apache.spark.sql.functions.lit(4)))
    val two = Counters.runTwoPhase(sharded, "ts", "shard", c.copy(id = "cents2p"))
      .select("value").head().getLong(0)
    assert(two == expected)
    // rides a fanOut pass beside a count
    val cnt = CounterDef("all", CounterType.Count, Some("*"), windowDuration = "1 minute")
    val fanned = Counters.fanOut(synth, "ts", Seq(cnt, c))
      .select("counter_id", "value").as[(String, Long)].collect().toMap
    assert(fanned("cents") == expected && fanned("all") == n)
    // non-numeric target values contribute nothing (try_cast skip-on-error)
    val strC = CounterDef("s", CounterType.ValueSum, Some("path"),
      windowDuration = "1 minute")
    assert(Counters.run(synth, "ts", strC).select("value").head().getLong(0) == 0L)
    // validation: '*' is illegal for value_sum
    assert(CounterDef("x", CounterType.ValueSum, Some("*")).validate.isLeft)
    assert(CounterDef("x", CounterType.ValueSum, Some("value")).validate.isRight)
  }

  test("value_min/value_max counters: cents extremes, two-phase invisible, " +
       "NULL on no numeric values, '*' rejected") {
    import org.apache.spark.sql.functions.{col, floor, pmod, lit,
      min => sqlMin, max => sqlMax}
    val cMin = CounterDef("vmin", CounterType.ValueMin, Some("user_id"),
      windowDuration = "1 minute")
    val cMax = CounterDef("vmax", CounterType.ValueMax, Some("user_id"),
      windowDuration = "1 minute")
    val exp = synth.agg(
      sqlMin(floor(col("user_id").cast("double") * 100).cast("long")),
      sqlMax(floor(col("user_id").cast("double") * 100).cast("long")))
      .head()
    val (eMin, eMax) = (exp.getLong(0), exp.getLong(1))
    assert(Counters.run(synth, "ts", cMin).select("value").head().getLong(0) == eMin)
    assert(Counters.run(synth, "ts", cMax).select("value").head().getLong(0) == eMax)
    // two-phase: per-shard extremes re-extremed must be invisible
    val sharded = synth.withColumn("shard", pmod(col("user_id"), lit(4)))
    assert(Counters.runTwoPhase(sharded, "ts", "shard", cMin.copy(id = "m2"))
      .select("value").head().getLong(0) == eMin)
    assert(Counters.runTwoPhase(sharded, "ts", "shard", cMax.copy(id = "x2"))
      .select("value").head().getLong(0) == eMax)
    // both ride one fanOut pass
    val fanned = Counters.fanOut(synth, "ts", Seq(cMin, cMax))
      .select("counter_id", "value").as[(String, Long)].collect().toMap
    assert(fanned("vmin") == eMin && fanned("vmax") == eMax)
    // no numeric values → NULL, not a fabricated 0 (unlike value_sum)
    val strMin = CounterDef("s", CounterType.ValueMin, Some("path"),
      windowDuration = "1 minute")
    assert(Counters.run(synth, "ts", strMin).select("value").head().isNullAt(0))
    // validation: '*' is illegal for the extremes
    assert(CounterDef("x", CounterType.ValueMin, Some("*")).validate.isLeft)
    assert(CounterDef("x", CounterType.ValueMax, Some("*")).validate.isLeft)
    assert(CounterDef("x", CounterType.ValueMax, Some("value")).validate.isRight)
  }
}
