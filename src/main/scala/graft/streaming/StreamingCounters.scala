package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

import graft.config.{CounterDef, CounterType}
import graft.functions.CountTables
import graft.operators.{Counters, Intermediate}
import graft.sources.{Deaggregate, JsonRecords}

/** Typed row shapes for the explicit-state path
  * ([[StreamingCounters.runCustomState]]). Top-level so `Encoder`s derive.
  * `ts` is the raw watermarked event-time column — it must survive into
  * the typed Dataset as a field, or the analyzer rejects the event-time
  * timeout ("Watermark must be specified").
  */
private[streaming] case class StateEvent(
    ts: java.sql.Timestamp,
    windowStart: Long, windowEnd: Long, shard: String, value: String)

/** The reference's `CounterState` tagged union (`counter.go:78-82`):
  * `{row_count}` for count, a serialized HLL sketch for ACD — here
  * DataSketches updatable bytes instead of gob'd clarkduvall HLL++
  * (merging the Go tool's sketches is a non-goal, SURVEY.md §4).
  */
private[streaming] case class CounterStateBuf(rowCount: Long, sketch: Array[Byte])

/** The CounterState fold/finalize protocol, shared by BOTH arbitrary-state
  * APIs ([[StreamingCounters.runCustomState]] on flatMapGroupsWithState and
  * [[CounterStateProcessor]] on transformWithState) so the two paths can
  * never drift: one accumulate, one finalize, exhaustive over the sealed
  * [[CounterType]].
  */
private[streaming] object CounterStateBuf {
  import org.apache.datasketches.hll.HllSketch

  def accumulate(prev: Option[CounterStateBuf], rows: Iterator[StateEvent],
                 ctype: CounterType): CounterStateBuf = ctype match {
    case CounterType.ValueQuantile | CounterType.HeavyHitters |
         CounterType.ValueSum | CounterType.ValueMin | CounterType.ValueMax =>
      // streaming faces: valueQuantileHistogram / hitterCounts (the
      // histogram/count-table IS the append-mode state); value_sum and
      // the extremes stream via the generic windowed-agg face (aggExpr)
      throw new IllegalArgumentException(
        s"custom-state protocol carries count/ACD states only; " +
          s"${ctype.name} streams via its generic face")
    case CounterType.Count =>
      CounterStateBuf(
        prev.map(_.rowCount).getOrElse(0L) + rows.count(_.value != null), null)
    case CounterType.ApproxCountDistinct =>
      val sk = prev.filter(_.sketch != null)
        .map(b => HllSketch.heapify(b.sketch))
        .getOrElse(new HllSketch(16))
      rows.foreach(r => if (r.value != null) sk.update(r.value))
      CounterStateBuf(0L, sk.toUpdatableByteArray)
  }

  def finalValue(buf: CounterStateBuf, ctype: CounterType): Long = ctype match {
    case CounterType.ValueQuantile | CounterType.HeavyHitters |
         CounterType.ValueSum | CounterType.ValueMin | CounterType.ValueMax =>
      throw new IllegalArgumentException(
        s"custom-state protocol carries count/ACD states only; " +
          s"${ctype.name} streams via its generic face")
    case CounterType.Count => buf.rowCount
    case CounterType.ApproxCountDistinct =>
      if (buf.sketch == null) 0L
      else math.round(HllSketch.heapify(buf.sketch).getEstimate)
  }

  /** Lambda state-ceiling guardrail analog (`counter.go:234-236,349-351`:
    * the reference warns and closes a window early when serialized state
    * nears the 1 MB Lambda-response limit). The disk-backed state store
    * has no cliff, so nothing terminates — but an unexpectedly large
    * per-group buffer is the same operational smell (runaway sketch,
    * mis-keyed state), so the same warning fires, once per group per run.
    * Threshold: `graft.state.warn.bytes` system property (default 1 MiB —
    * the Lambda ceiling; an HLL p=16 sketch tops out well below it, so a
    * hit always means something is wrong). `oversizedWarnings` makes the
    * guardrail observable to harnesses without log scraping.
    */
  // Per-JVM tally. In local mode (this harness) the executor IS the
  // driver, so the accessor sees it directly; on a real cluster the
  // cross-JVM aggregation rides the `acc` accumulator below instead —
  // this AtomicLong then only serves executor-local log dedup context.
  val oversizedWarnings = new java.util.concurrent.atomic.AtomicLong
  private val warnedGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // warnedGroups exists only to dedupe LOG LINES; past this many distinct
  // oversized groups the set stops growing (counting continues) — a
  // runaway-keying bug would otherwise leak one string per state group.
  private val MaxWarnedGroups = 4096
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def sizeOf(buf: CounterStateBuf): Long =
    16L + Option(buf.sketch).map(_.length.toLong).getOrElse(0L)

  def warnIfOversized(cid: String, groupKey: String, buf: CounterStateBuf,
                      acc: Option[org.apache.spark.util.LongAccumulator] = None): CounterStateBuf = {
    val threshold = java.lang.Long.getLong("graft.state.warn.bytes", 1L << 20)
    val sz = sizeOf(buf)
    if (sz > threshold) {
      val firstSeen = warnedGroups.size < MaxWarnedGroups && warnedGroups.add(s"$cid/$groupKey")
      if (firstSeen) {
        oversizedWarnings.incrementAndGet()
        acc.foreach(_.add(1L))
        log.warn(s"counter $cid: state for group $groupKey is $sz bytes " +
          s"(threshold $threshold) — the reference would terminate this " +
          "window early at the Lambda 1 MB ceiling; the disk-backed store " +
          "carries on, but check the counter's keying/target")
      }
    }
    buf
  }
}

private[streaming] case class StateOutput(
    window_start: Long, window_end: Long, counter_id: String,
    counter_type: String, shard_id: String, value: Long)

/** The CounterState protocol on Spark 4's `transformWithState` — the
  * modern arbitrary-state API ([[StreamingCounters.runCustomStateTws]]):
  * per-(window, shard) [[CounterStateBuf]] in a named `ValueState`, an
  * event-time TIMER at window end as the final invoke
  * (`counter.go:339-344`), emit-and-clear on expiry. Re-registered timers
  * are idempotent here: expiry emits only while state exists.
  */
private[streaming] class CounterStateProcessor(cid: String, ctype: CounterType,
    warnAcc: Option[org.apache.spark.util.LongAccumulator] = None)
    extends StatefulProcessor[(Long, Long, String), StateEvent, StateOutput] {
  @transient private var state: ValueState[CounterStateBuf] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[CounterStateBuf](
      "counterState", Encoders.product[CounterStateBuf], TTLConfig.NONE)

  override def handleInputRows(key: (Long, Long, String), rows: Iterator[StateEvent],
                               timerValues: TimerValues): Iterator[StateOutput] = {
    // ONE store read: the RocksDB-backed get() deserializes the whole
    // buffer (multi-KB for ACD sketches) on every call
    val prev = if (state.exists()) Some(state.get()) else None
    state.update(CounterStateBuf.warnIfOversized(cid, s"${key._1}/${key._2}/${key._3}",
      CounterStateBuf.accumulate(prev, rows, ctype), warnAcc))
    // final invoke when the watermark passes window end; strictly ahead of
    // the current watermark (late-arrival guard, same as runCustomState)
    getHandle.registerTimer(
      math.max(key._2, timerValues.getCurrentWatermarkInMs() + 1))
    Iterator.empty
  }

  override def handleExpiredTimer(key: (Long, Long, String), timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[StateOutput] = {
    // duplicate timers (re-registered each batch) no-op: state is gone
    if (!state.exists()) Iterator.empty
    else {
      val buf = state.get()
      state.clear()
      Iterator.single(StateOutput(key._1, key._2, cid, ctype.name, key._3,
        CounterStateBuf.finalValue(buf, ctype)))
    }
  }
}

/** One value-cents row of the streaming quantile sketch: window bounds in
  * epoch millis plus the cents value — None for value-less heartbeats,
  * which MUST ride to the processor (not be filtered out before the
  * watermark node) so they keep advancing event time; the processor
  * skips them at the fold.
  */
private[streaming] case class QsEvent(ts: java.sql.Timestamp, ws: Long, we: Long,
                                       cents: Option[Long])

/** Closed-window sketch emission — [[graft.relational.Temporal.quantileSummaries]]'
  * exact output shape, so [[graft.relational.Temporal.quantileGateFromSummaries]]
  * consumes either face unchanged.
  */
private[streaming] case class QsSummary(window_start: Long, knots: Array[Long],
                                        ranks: Array[Long], n: Long)

/** The GK-family quantile sketch as `transformWithState` state — the
  * streaming face of the unbounded-domain percentile counter (e13's
  * batch sketch): per-window [[QuantileSketch.Buf]] in a named
  * `ValueState`, folded in-place per micro-batch via the SAME
  * `Agg.reduce` the batch typed aggregation runs (one code path, two
  * topologies — the c16/c29 discipline), an event-time timer at window
  * end as the final invoke, emit-and-clear on expiry
  * ([[CounterStateProcessor]]'s protocol). Windows holding only
  * heartbeats (n = 0) close silently — the exact side has no rows for
  * them either.
  */
private[streaming] class QuantileSketchProcessor(epsPpm: Long)
    extends StatefulProcessor[(Long, Long), QsEvent, QsSummary] {
  import graft.functions.QuantileSketch
  @transient private var state: ValueState[QuantileSketch.Buf] = _
  @transient private lazy val agg = new QuantileSketch.Agg(epsPpm)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[QuantileSketch.Buf](
      "quantileSketch", Encoders.product[QuantileSketch.Buf], TTLConfig.NONE)

  override def handleInputRows(key: (Long, Long), rows: Iterator[QsEvent],
                               timerValues: TimerValues): Iterator[QsSummary] = {
    // ONE store read per call (the CounterStateProcessor discipline)
    var buf = if (state.exists()) state.get() else agg.zero
    rows.foreach(_.cents.foreach(c => buf = agg.reduce(buf, c)))
    state.update(buf)
    // final invoke when the watermark passes window end; strictly ahead
    // of the current watermark (late-arrival guard)
    getHandle.registerTimer(
      math.max(key._2, timerValues.getCurrentWatermarkInMs() + 1))
    Iterator.empty
  }

  override def handleExpiredTimer(key: (Long, Long), timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[QsSummary] = {
    // duplicate timers (re-registered each batch) no-op: state is gone
    if (!state.exists()) Iterator.empty
    else {
      val buf = agg.finish(state.get())
      state.clear()
      if (buf.n == 0L) Iterator.empty
      else Iterator.single(QsSummary(key._1, buf.knots, buf.ranks, buf.n))
    }
  }
}

/** One keyed row of the streaming heavy-hitter sketch: window bounds in
  * epoch millis plus the user key (non-null by the events contract; a
  * null key would fold into the sketch exactly as the batch face folds
  * it — no filter sits before the watermark either way).
  */
private[streaming] case class HhEvent(ts: java.sql.Timestamp, ws: Long, we: Long,
                                      key: String)

/** Closed-window sketch emission — [[graft.relational.Temporal.hitterSummaries]]'
  * exact output shape, so [[graft.relational.Temporal.hitterGateFromSummaries]]
  * consumes either face unchanged.
  */
private[streaming] case class HhSummary(window_start: Long, keys: Array[String],
                                        counts: Array[Long])

/** The Misra–Gries heavy-hitter sketch as `transformWithState` state —
  * the streaming face of the e14 sketch hitter counter, the
  * [[QuantileSketchProcessor]] protocol with [[FreqSketch.Buf]] state:
  * folded per micro-batch by the SAME `Agg.reduce` the batch typed
  * aggregation runs, event-time timer at window end, emit-and-clear on
  * expiry.
  */
private[streaming] class HitterSketchProcessor(capacity: Int)
    extends StatefulProcessor[(Long, Long), HhEvent, HhSummary] {
  import graft.functions.FreqSketch
  @transient private var state: ValueState[FreqSketch.Buf] = _
  @transient private lazy val agg = new FreqSketch.Agg(capacity)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[FreqSketch.Buf](
      "hitterSketch", Encoders.product[FreqSketch.Buf], TTLConfig.NONE)

  override def handleInputRows(key: (Long, Long), rows: Iterator[HhEvent],
                               timerValues: TimerValues): Iterator[HhSummary] = {
    var buf = if (state.exists()) state.get() else agg.zero
    rows.foreach(r => buf = agg.reduce(buf, r.key))
    state.update(buf)
    getHandle.registerTimer(
      math.max(key._2, timerValues.getCurrentWatermarkInMs() + 1))
    Iterator.empty
  }

  override def handleExpiredTimer(key: (Long, Long), timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[HhSummary] = {
    if (!state.exists()) Iterator.empty
    else {
      val buf = agg.finish(state.get())
      state.clear()
      Iterator.single(HhSummary(key._1, buf.keys, buf.counts))
    }
  }
}

/** Structured Streaming execution of the counter pipeline — the engine's
  * equivalent of the reference's Lambda tumbling-window invocation loop
  * (O1/O2/O12: `counter.go:150-204`, `run.go:17-53`).
  *
  * What the reference hand-implements, the streaming engine provides:
  *  - carried per-window state (`CounterState` JSON round-trip,
  *    `counter.go:210-231`) ↔ the state store + checkpoint;
  *  - window close / final invoke (`run.go:107-129`) ↔ watermark expiry in
  *    append mode;
  *  - per-shard readers (`run.go:38-48`) ↔ source partitions;
  *  - the cross-shard aggregate stream ↔ the shuffle between partial and
  *    final aggregation inside the streaming micro-batch.
  *
  * Sources are an I/O detail (`readStream.format("kafka"/"rate"/file)` — a
  * Kinesis connector slots in unchanged); these transforms only require a
  * streaming DataFrame with a timestamp column.
  */
object StreamingCounters {

  /** O4: parse raw JSON payloads (PERMISSIVE), keeping unparseable records
    * in a `_corrupt` column — the `batchItemFailures` side channel
    * (`counter.go:245-248`): bad rows are reported, never fatal. The
    * output is `raw`'s columns, then `schema`'s fields, then `_corrupt`.
    *
    * The parse is the [[JsonRecords]] generator over the STRING or BINARY
    * payload: one row per record, the rows `from_json` gives, with the
    * record's decoded chars handed to Jackson instead of a new stream
    * reader per record. It is a generator, not an expression expanded
    * through a projection (`__rec.*`), because Catalyst pushes
    * [[parsedOk]]'s `_corrupt` filter below such a projection and
    * substitutes the alias, so the plan would parse each record twice:
    * once in the filter, once in the projection. A filter on a
    * generator's output stays above it.
    */
  def parseRecords(raw: DataFrame, schema: StructType, payloadCol: String = "value"): DataFrame = {
    // bind by attribute, not by name: `col` reads a dot in a name as a field
    val payload = raw.queryExecution.analyzed.output(raw.schema.fieldIndex(payloadCol))
    raw.select(col("*"), ColumnBridge.column(JsonRecords(payload, schema)))
  }

  /** O3+O4 composed, the reference's exact ingest order: KPL-deaggregate
    * every payload BEFORE parsing (`counter.go:163-169` — the handler
    * deaggregates the batch, then `process` JSON-parses each sub-record).
    * Packed envelopes explode 1→N (partition-local generator, no shuffle);
    * non-aggregated payloads pass through unchanged; the corrupt side
    * channel then applies per SUB-record, so one bad user record inside a
    * KPL envelope fails alone, not the whole envelope.
    */
  def parsePackedRecords(raw: DataFrame, schema: StructType,
                         payloadCol: String = "value"): DataFrame =
    parseRecords(Deaggregate.explodeRecords(raw, payloadCol), schema, payloadCol)

  /** The failed-record side output (analog of `BatchItemFailures`). */
  def failures(parsed: DataFrame): DataFrame =
    parsed.where(col("_corrupt").isNotNull).select(col("_corrupt"))

  /** Qualifying rows only (parse succeeded). */
  def parsedOk(parsed: DataFrame): DataFrame =
    parsed.where(col("_corrupt").isNull).drop("_corrupt")

  /** Streaming counter: tumbling event-time window + watermark; in append
    * output mode a window's row is emitted exactly once, when the watermark
    * passes its end — the `isFinalInvokeForWindow` contract
    * (`counter.go:339-344`). The aggregation state (count or HLL buffer) is
    * engine-managed and mergeable, like `CounterState`.
    *
    * The returned frame has the reference's output shape (O13) and can be
    * wired to any sink via `writeStream` (`foreachBatch` for SDK puts —
    * O15).
    */
  def run(stream: DataFrame, tsCol: String, c: CounterDef,
          watermarkDelay: String = "10 seconds",
          eventSourceArn: Option[String] = None): DataFrame = {
    val watermarked = stream.withWatermark(tsCol, watermarkDelay)
    Counters.finalizeOutput(
      watermarked
        .groupBy(window(col(tsCol), c.windowDuration))
        .agg(Counters.aggExpr(stream, c).as("value")),
      c, eventSourceArn)
  }

  /** One counter's full STREAMING pipeline, mirroring the batch
    * `Engine.pipeline`: windowed aggregation ([[run]]) plus the counter's
    * optional `jq_expr` output transform (O14) — jq compiles to
    * projections/filters/generators, all legal after a streaming
    * aggregation in append mode.
    */
  def pipeline(stream: DataFrame, tsCol: String, c: CounterDef,
               watermarkDelay: String = "10 seconds",
               eventSourceArn: Option[String] = None): DataFrame = {
    val base = run(stream, tsCol, c, watermarkDelay, eventSourceArn)
    c.jqExpr match {
      case Some(jq) => graft.operators.JqTransform(base, jq)
      case None => base
    }
  }

  /** Multi-counter fan-out over one stream (O16): counters sharing the
    * window width share ONE streaming aggregation (single state store,
    * single shuffle), mirroring [[Counters.fanOut]].
    */
  def fanOut(stream: DataFrame, tsCol: String, counters: Seq[CounterDef],
             watermarkDelay: String = "10 seconds",
             eventSourceArn: Option[String] = None): DataFrame = {
    require(counters.nonEmpty, "fanOut requires at least one counter")
    require(counters.map(_.windowDuration).distinct.size == 1,
      "streaming fanOut requires a shared window duration")
    // Single aggregation + one generator (NOT an N-way union of the agg,
    // which would plan N streaming aggregations and be rejected).
    Counters.unpivotCounters(
      Counters.widthAggregate(stream.withWatermark(tsCol, watermarkDelay), tsCol, counters, None),
      counters, eventSourceArn)
  }

  /** Streaming sliding windows (ENGINE EXTENSION, batch parity with
    * [[Counters.runSliding]]): each record lands in window/slide
    * overlapping buckets; in append mode each bucket emits once when the
    * watermark passes its end. State grows by the overlap factor
    * (window/slide) relative to tumbling — same shuffle shape.
    */
  def runSliding(stream: DataFrame, tsCol: String, c: CounterDef, slide: String,
                 watermarkDelay: String = "10 seconds",
                 eventSourceArn: Option[String] = None): DataFrame =
    Counters.finalizeOutput(
      stream.withWatermark(tsCol, watermarkDelay)
        .groupBy(window(col(tsCol), c.windowDuration, slide))
        .agg(Counters.aggExpr(stream, c).as("value")),
      c, eventSourceArn)

  /** Streaming face of the percentile counter (ENGINE EXTENSION, batch
    * parity with `Temporal.windowValueQuantiles`): the per-(window, cents)
    * HISTOGRAM is the streaming aggregation — mergeable engine state, the
    * same shuffle shape as a count counter — and in append mode each
    * window's complete histogram emits exactly once, when the watermark
    * closes it. The quantile PICK runs downstream per micro-batch
    * ([[quantilesOfClosedWindows]] in `foreachBatch`): correct because a
    * closed window's histogram rows all arrive in the same batch, and the
    * pick is a tiny sort over distinct cents — state never holds raw
    * values, only (window, cents) → count.
    */
  def valueQuantileHistogram(stream: DataFrame, tsCol: String,
                             windowDuration: String = "1 hour",
                             watermarkDelay: String = "10 seconds"): DataFrame =
    // no row-level null filter anywhere in this plan: Catalyst would push
    // it below the watermark node and value-less heartbeats would stop
    // advancing event time (windows never close). Nulls ride through the
    // aggregation as one (window, NULL) row and drop at the pick.
    graft.relational.Temporal.valueCentsHistogram(
      stream.withWatermark(tsCol, watermarkDelay), tsCol, windowDuration)

  /** The per-batch quantile pick over [[valueQuantileHistogram]]'s closed
    * windows — call inside `foreachBatch`. Output: (window_start, p_ppm,
    * value_cents), identical to the batch operator's rows for every
    * closed window (the null-cents heartbeat row drops here, the same
    * stage the batch face drops it).
    */
  def quantilesOfClosedWindows(batch: DataFrame,
                               psPpm: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame =
    graft.functions.Quantiles.fromHistogram(
      graft.relational.Temporal.dropNullCents(batch),
      groupCol = "window_start", valueCol = "value_cents",
      cntCol = "cnt", psPpm = psPpm)

  /** Streaming face of the HEAVY-HITTER counter (the e07/e11 batch and
    * two-phase faces' third sibling, same pattern as the percentile
    * counter's [[valueQuantileHistogram]]): the per-(window, user) count
    * IS the append-mode state — bounded by active users per window, never
    * events — and windows emit exactly once when the watermark closes
    * them. The rank runs per CLOSED window in `foreachBatch`
    * ([[hittersOfClosedWindows]]): correct because a closed window's
    * user rows all arrive in the same batch, and the rank is a tiny
    * per-window sort over the aggregate, never the stream.
    */
  def hitterCounts(stream: DataFrame, tsCol: String,
                   windowDuration: String = "1 hour",
                   watermarkDelay: String = "10 seconds"): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("window.start")).as("window_start"),
        col("user_id"), col("n_events"))

  /** The per-batch rank over [[hitterCounts]]'s closed windows — call
    * inside `foreachBatch`. Output: (window_start, user_id, n_events,
    * rank), identical to
    * [[graft.relational.Temporal.windowHeavyHitters]]'s rows for every
    * closed window.
    */
  def hittersOfClosedWindows(batch: DataFrame, k: Int = 3): DataFrame =
    CountTables.topK(batch, Seq(col("window_start")), "n_events", "user_id", k)
      .select(col("window_start"), col("user_id"), col("n_events"), col("rank"))

  /** CONFIG-surface streaming face of a `value_quantile` COUNTER (the
    * generic twin of [[valueQuantileHistogram]], which is hardwired to
    * `events.value` cents): the per-(window, target-value) histogram IS
    * the append-mode state, bounded by distinct values per window; a
    * closed window's rows all emit in one batch, where
    * [[counterQuantileOfClosedWindows]] runs the same integer pick as
    * `Counters.run`. No row-level null filter before the watermark
    * (heartbeats must advance event time); nulls ride as their own group
    * and drop at the pick.
    */
  def counterHistogram(stream: DataFrame, tsCol: String, c: CounterDef,
                       watermarkDelay: String = "10 seconds"): DataFrame = {
    val value = Counters.valueColumn(c).getOrElse(throw new IllegalArgumentException(
      s"counter ${c.id}: value_quantile requires a target"))
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), c.windowDuration), value.as("__v"))
      .agg(count(lit(1)).as("__cnt"))
      .select(unix_millis(col("window.start")).as("window_start"),
        unix_millis(col("window.end")).as("window_end"), col("__v"), col("__cnt"))
  }

  /** The per-batch pick over [[counterHistogram]]'s closed windows — call
    * inside `foreachBatch`. Emits the counter's O13 record, identical to
    * `Counters.run(c)`'s row for every closed window.
    */
  def counterQuantileOfClosedWindows(batch: DataFrame, c: CounterDef): DataFrame =
    CountTables.quantilePick(batch.where(col("__v").isNotNull),
        Seq(col("window_start"), col("window_end")), c.quantilePpm)
      .select(col("window_start"), col("window_end"),
        lit(c.id).as("counter_id"), lit(c.counterType.name).as("counter_type"),
        col("value"))

  /** CONFIG-surface streaming face of a `heavy_hitters` COUNTER (generic
    * twin of [[hitterCounts]]): per-(window, member) counts as the
    * append-mode state, rank per closed window in `foreachBatch` via
    * [[counterHittersOfClosedWindows]]. Null members ride to the rank
    * stage and drop there (the watermark rule above).
    */
  def counterMemberCounts(stream: DataFrame, tsCol: String, c: CounterDef,
                          watermarkDelay: String = "10 seconds"): DataFrame = {
    val member = Counters.valueColumn(c).getOrElse(throw new IllegalArgumentException(
      s"counter ${c.id}: heavy_hitters requires a target"))
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), c.windowDuration), member.cast("string").as("member"))
      .agg(count(lit(1)).as("__cnt"))
      .select(unix_millis(col("window.start")).as("window_start"),
        unix_millis(col("window.end")).as("window_end"), col("member"), col("__cnt"))
  }

  /** The per-batch rank over [[counterMemberCounts]]'s closed windows —
    * the counter's O13 record with (member, rank), identical to
    * `Counters.run(c)`'s rows for every closed window.
    */
  def counterHittersOfClosedWindows(batch: DataFrame, c: CounterDef): DataFrame =
    CountTables.topK(batch.where(col("member").isNotNull),
        Seq(col("window_start"), col("window_end")), "__cnt", "member", c.topK)
      .select(col("window_start"), col("window_end"),
        lit(c.id).as("counter_id"), lit(c.counterType.name).as("counter_type"),
        col("member"), col("rank"), col("__cnt").as("value"))

  /** Streaming session windows (ENGINE EXTENSION, batch parity with
    * [[Counters.runSessions]]): consecutive records of one key merge into
    * a session while gaps stay under `gap`; in append mode a session row
    * emits exactly once, when the watermark passes the session's reach
    * (last event + gap). Spark's session-window state MERGES adjacent
    * partial sessions in the state store across micro-batches — the same
    * mergeable-state property the counter protocol is built on, applied
    * to variable-extent windows.
    */
  def runSessions(stream: DataFrame, tsCol: String, keyCol: String, c: CounterDef,
                  gap: String, watermarkDelay: String = "10 seconds"): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(Counters.aggExpr(stream, c).as("value"))
      .select(
        col(keyCol),
        unix_millis(col("session_window.start")).as("session_start"),
        unix_millis(col("session_window.end")).as("session_end"),
        lit(c.id).as("counter_id"),
        col("value"))

  /** STREAMING face of the ANALYTIC sessionization surface
    * ([[graft.relational.Temporal.userSessions]], e05): per-(key, session)
    * rows — start/end millis, event count — emitted exactly once, when the
    * watermark passes the session's reach (`last event + gap`, the c23
    * eviction convention; the final unclosed session per key never emits).
    * Spark's session-window state merges adjacent partial sessions across
    * micro-batches in the state store, so a session spanning any number of
    * batch boundaries emits ONE row, bit-identical to the batch
    * gaps-and-islands row (spec-pinned). `session_seq` is a property of the
    * accumulated CLOSED table, not of any single session — the
    * [[graft.relational.Temporal.sessionsFromClosed]] finishing pass adds
    * it (the e19/e20/e22 split: streamed state, batch-side read).
    *
    * Scale: one shuffle of the raw events on `keyCol` into the session
    * store; state is bounded by live (unclosed) sessions per key, not
    * history — closed rows leave the store on emit.
    */
  def analyticSessionStream(stream: DataFrame, tsCol: String, keyCol: String,
                            gap: String = "30 minutes",
                            watermarkDelay: String = "0 seconds"): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(
        unix_millis(min(col(tsCol))).as("start_ms"),
        unix_millis(max(col(tsCol))).as("end_ms"),
        count(lit(1)).as("n_events"))
      .select(col(keyCol), col("start_ms"), col("end_ms"), col("n_events"))

  /** The (window, shard, value) projection both arbitrary-state paths fold
    * over — ONE definition so [[runCustomState]] and [[runCustomStateTws]]
    * can never drift apart.
    */
  private def stateEvents(stream: DataFrame, tsCol: String, c: CounterDef,
                          valueCol: Column, watermarkDelay: String,
                          shardCol: Option[String]): org.apache.spark.sql.Dataset[StateEvent] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermarkDelay)
      .select(
        col(tsCol).as("ts"),
        unix_millis(window(col(tsCol), c.windowDuration).getField("start")).as("windowStart"),
        unix_millis(window(col(tsCol), c.windowDuration).getField("end")).as("windowEnd"),
        shardCol.map(col(_).cast("string")).getOrElse(lit("")).as("shard"),
        valueCol.cast("string").as("value"))
      .as[StateEvent]
  }

  /** Cumulative count of oversized-state warnings (the Lambda 1 MB
    * ceiling analog — see [[CounterStateBuf.warnIfOversized]]): lets a
    * harness observe the guardrail without log scraping. Driver-visible
    * on a real cluster via the registered accumulator (the JVM-static
    * tally alone only works in local mode); the max of the two covers
    * both deployments.
    */
  def oversizedStateWarnings: Long = math.max(
    CounterStateBuf.oversizedWarnings.get(),
    warnAccs.values.map(_.value.longValue).sum)

  // One registered LongAccumulator per application: state processors run
  // executor-side, so a plain JVM-static counter never reaches the driver
  // on a real cluster — the accumulator is the channel that does. Created
  // on the driver at plan-build time, captured by the processor closure.
  // (Task retries can over-count, as any accumulator in a transformation
  // can — acceptable for an operational warning tally.)
  private val warnAccs =
    new scala.collection.concurrent.TrieMap[String, org.apache.spark.util.LongAccumulator]
  private def warnAccFor(spark: org.apache.spark.sql.SparkSession): org.apache.spark.util.LongAccumulator =
    warnAccs.getOrElseUpdate(spark.sparkContext.applicationId,
      spark.sparkContext.longAccumulator("graft.oversizedStateWarnings"))

  /** The reference's EXPLICIT window-state protocol, on Spark's custom
    * state API: the Lambda contract hands the handler carried-forward
    * per-(window, shard) state and re-injects what it returns
    * (`counter.go:150-204`, state round-trip `counter.go:210-231`),
    * emitting the output record on `isFinalInvokeForWindow`
    * (`counter.go:339-344`). `flatMapGroupsWithState` is that exact
    * protocol: the state store carries a `CounterStateBuf` per
    * (window, shard) key across micro-batches — `row_count` for count, a
    * serialized DataSketches HLL (lgK=16, the reference's precision) for
    * ACD — and the event-time timeout at window end IS the final invoke,
    * where the record is emitted and the state dropped.
    *
    * [[run]] (engine-managed aggregation state) is the idiomatic path;
    * this one exists for state-protocol parity and for topologies needing
    * custom per-window state (it is also what a Lambda-style incremental
    * deployment would checkpoint). `valueCol`: null = row does not
    * qualify (the O5–O7 projection happens upstream); for
    * `target_column: "*"` pass a non-null literal.
    *
    * Scale: one shuffle on (window, shard) into the state store; state
    * size is bounded by live windows × shards × sketch size — the same
    * envelope as the reference's 1 MB Lambda state ceiling, minus the
    * ceiling (the store is disk-backed).
    */
  def runCustomState(stream: DataFrame, tsCol: String, c: CounterDef,
                     valueCol: Column,
                     watermarkDelay: String = "10 seconds",
                     shardCol: Option[String] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val counterType = c.counterType
    val cid = c.id
    val warnAcc = Some(warnAccFor(spark))
    val out = stateEvents(stream, tsCol, c, valueCol, watermarkDelay, shardCol)
      .groupByKey(e => (e.windowStart, e.windowEnd, e.shard))
      .flatMapGroupsWithState[CounterStateBuf, StateOutput](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((ws, we, shard), rows, state) =>
          if (state.hasTimedOut) {
            // the final invoke for the window (counter.go:339-344); a
            // timeout with no state (unreachable: state always precedes
            // the timeout) emits nothing, same as the TWS path
            val out = state.getOption.map(buf => StateOutput(
              ws, we, cid, counterType.name, shard,
              CounterStateBuf.finalValue(buf, counterType)))
            state.remove()
            out.iterator
          } else {
            state.update(CounterStateBuf.warnIfOversized(cid, s"$ws/$we/$shard",
              CounterStateBuf.accumulate(state.getOption, rows, counterType), warnAcc))
            // window close = watermark passing window end; keep the timeout
            // strictly ahead of the current watermark (late-arrival guard)
            state.setTimeoutTimestamp(math.max(we, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
    val df = out.toDF()
    if (shardCol.isDefined) df else df.drop("shard_id")
  }

  /** [[runCustomState]] re-expressed on Spark 4's `transformWithState` —
    * the NEW arbitrary-state API (named state variables, explicit
    * event-time timers, optional TTL) that supersedes
    * `flatMapGroupsWithState`. Same protocol, same output: per-(window,
    * shard) [[CounterStateBuf]], an event-time timer at window end as the
    * final invoke, emit-and-clear on expiry ([[CounterStateProcessor]]).
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`); the HDFS-backed
    * default does not support transformWithState's state layout. The
    * caller sets it before the stream starts (see `c29` in SparkEntry).
    */
  def runCustomStateTws(stream: DataFrame, tsCol: String, c: CounterDef,
                        valueCol: Column,
                        watermarkDelay: String = "10 seconds",
                        shardCol: Option[String] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val out = stateEvents(stream, tsCol, c, valueCol, watermarkDelay, shardCol)
      .groupByKey(e => (e.windowStart, e.windowEnd, e.shard))
      .transformWithState(
        new CounterStateProcessor(c.id, c.counterType, Some(warnAccFor(spark))),
        TimeMode.EventTime(), OutputMode.Append())
    val df = out.toDF()
    if (shardCol.isDefined) df else df.drop("shard_id")
  }

  /** Streaming face of the unbounded-domain PERCENTILE counter — the
    * e13 mergeable [[graft.functions.QuantileSketch]] held as
    * `transformWithState` state ([[QuantileSketchProcessor]]), closing
    * the sketch-counter family: count/sum/min/max/quantile/hitter all
    * now run in both topologies. Emits one
    * (window_start, knots, ranks, n) summary per window when the
    * watermark passes its end — feed the result (collected from the
    * sink) to [[graft.relational.Temporal.quantileGateFromSummaries]]
    * for the exact quantiles + measured ε-verdicts restricted to the
    * closed windows.
    *
    * Scale shape: the projection to (window bounds, cents) is stateless
    * and codegen'd; the one shuffle keys by window; state per window is
    * ONE O(1/ε) buffer regardless of the value domain (the histogram
    * face's state is per DISTINCT cents value — exactly what this
    * replaces for ns-latency domains). Value-less heartbeats ride to
    * the processor as `cents = None` (a pre-watermark filter would stop
    * them advancing event time and windows would never close — the
    * valueQuantileHistogram discipline) and fold as no-ops. Requires the
    * RocksDB state store provider (`transformWithState`).
    */
  def quantileSketchStream(stream: DataFrame, tsCol: String,
                           windowDuration: String = "1 hour",
                           watermarkDelay: String = "0 seconds",
                           epsPpm: Long = 5000L): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.withWatermark(tsCol, watermarkDelay)
      .select(
        col(tsCol).as("ts"),
        unix_millis(window(col(tsCol), windowDuration).getField("start")).as("ws"),
        unix_millis(window(col(tsCol), windowDuration).getField("end")).as("we"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[QsEvent]
      .groupByKey(e => (e.ws, e.we))
      .transformWithState(new QuantileSketchProcessor(epsPpm),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** STREAMING face of the count–min sketch counter
    * ([[graft.relational.Temporal.cmsCounters]]): the per-window counter
    * cells as a plain watermarked windowed aggregation — deliberately NO
    * custom state processor, because CMS cells are exactly what Spark's
    * native streaming agg already maintains incrementally (count per
    * (window, j, bucket) group, map-side combined per micro-batch).
    * Cells emit on window close (append mode, the c23 eviction
    * convention) and feed
    * [[graft.relational.Temporal.cmsGateFromCounters]] unchanged — the
    * e19/e20 division of labor (streamed summary state, batch-side gate
    * read). State is (live windows × depth × width) cells regardless of
    * key cardinality or event volume — the sketch's whole point, and the
    * boundedness the SCALING gate checks.
    */
  def cmsCounterStream(stream: DataFrame, tsCol: String,
                       windowDuration: String = "1 hour",
                       watermarkDelay: String = "0 seconds",
                       depth: Int = 3, width: Int = 64): DataFrame = {
    require(depth >= 1, "depth must be at least 1")
    require(width >= 2, "width must be at least 2")
    stream.withWatermark(tsCol, watermarkDelay)
      .select(window(col(tsCol), windowDuration).as("w"),
        col("user_id").cast("string").as("__key"))
      .select(col("w"),
        explode(array((0 until depth).map(j => lit(j)): _*)).as("j"),
        col("__key"))
      .select(col("w"), col("j"),
        pmod(graft.functions.PortableHash.md5Long60(
          concat(lit("cms"), col("j").cast("string"), lit(":"), col("__key"))),
          lit(width.toLong)).as("bucket"))
      .groupBy(col("w"), col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("w").getField("start")).as("window_start"),
        col("j"), col("bucket"), col("cnt"))
  }

  /** Streaming face of the sketch HEAVY-HITTER counter — e14's mergeable
    * Misra–Gries summary held as `transformWithState` state
    * ([[HitterSketchProcessor]]); with [[quantileSketchStream]] this
    * closes the family: every counter type now runs in both topologies.
    * Emits one (window_start, keys, counts) summary per window when the
    * watermark passes its end — feed the result (collected from the
    * sink) to [[graft.relational.Temporal.hitterGateFromSummaries]] for
    * the exact top-k + measured Misra–Gries-bound verdicts restricted to
    * the closed windows.
    *
    * Scale shape: stateless codegen projection to (window bounds, key);
    * ONE window-keyed shuffle; state per window is one O(capacity)
    * summary regardless of the key domain (the exact face's state is per
    * DISTINCT key). Requires the RocksDB state store provider.
    */
  def hitterSketchStream(stream: DataFrame, tsCol: String,
                         windowDuration: String = "1 hour",
                         watermarkDelay: String = "0 seconds",
                         capacity: Int = 16): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.withWatermark(tsCol, watermarkDelay)
      .select(
        col(tsCol).as("ts"),
        unix_millis(window(col(tsCol), windowDuration).getField("start")).as("ws"),
        unix_millis(window(col(tsCol), windowDuration).getField("end")).as("we"),
        col("user_id").cast("string").as("key"))
      .as[HhEvent]
      .groupByKey(e => (e.ws, e.we))
      .transformWithState(new HitterSketchProcessor(capacity),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Streaming consumer of the aggregate stream (EP3,
    * `counter.go:348-412`, ticker-driven close `run.go:201-270`): a stream
    * of intermediate-record JSON (from per-shard jobs shipping
    * [[Intermediate.toRecords]] payloads) is parsed, filtered to this
    * counter + compatible versions, and merged per window by its type's
    * `Counters.Summary` merge (`sum` of partial counts, HLL-sketch union,
    * …) with the watermark as the window-close signal. Re-windowing on
    * the records' own `window.start`
    * reproduces the original bucket (starts are aligned) while giving the
    * streaming engine a real event-time window to finalize.
    */
  def mergeIntermediate(records: DataFrame, c: CounterDef,
                        watermarkDelay: String = "10 seconds",
                        requiredVersion: Option[String] = None,
                        eventSourceArn: Option[String] = None): DataFrame = {
    val summary = Counters.summary(c)
    val parsed = Intermediate.parse(records, c, requiredVersion)
      .withColumn("__ws", col("window.start"))
      .drop("window")
      .withWatermark("__ws", watermarkDelay)
    val merged = parsed.groupBy(window(col("__ws"), c.windowDuration))
      .agg(summary.merge(col(summary.partial)).as("value"))
    Counters.finalizeOutput(merged, c, eventSourceArn)
  }
}
