package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CountTables, FreqSketch, Quantiles, QuantileSketch}

/** Temporal / event-sequence analytics over the `events` table — the
  * operator family a training-data pipeline needs for event attribution,
  * cohort accounting, and ordered-sequence features (and that the
  * reference's fixed counter pipeline lacks entirely).
  *
  * All three operators share one design rule for 100 TB: the only shuffle
  * is on the entity key (`user_id`), and everything ordered happens inside
  * that partition via window functions — no range joins, no per-key
  * `collect_list` materialization, no driver loops.
  */
object Temporal {

  /** As-of join: for each left row, the single most recent right row of
    * the same key with `right.ts <= left.ts` (inclusive, like DuckDB's
    * `ASOF JOIN ... ON l.ts >= r.ts`; left rows with no prior right row
    * survive with NULLs — a LEFT as-of join).
    *
    * Spark has no as-of join operator; the classic scale-safe encoding is
    * union-and-carry: tag both sides, union, and per key carry the last
    * right payload forward with `last(_, ignoreNulls)` over an
    * (ts, side)-ordered running frame. Right rows sort BEFORE left rows at
    * equal ts, which is exactly the inclusive bound. ONE shuffle + one
    * sort, wall-clock O(n log n) per partition, zero candidate blow-up —
    * versus the naive range-join (every left × every earlier right) which
    * is quadratic per key. Ties within the right side at identical
    * (key, ts) must be pre-deduplicated by the caller (otherwise "most
    * recent" is ambiguous).
    *
    * `leftCols` are carried through; the matched right payload lands as
    * nullable `matchCols`.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               leftCols: Seq[String], matchCols: Seq[String]): DataFrame = {
    val payload = struct(matchCols.map(col): _*)
    // Schema-aligned union: left rows carry a NULL right-payload; the
    // left projection is carried as a struct so both sides line up.
    val r = right.select(col(key), col(ts), lit(0).as("__side"),
      payload.as("__match"),
      lit(null).cast(left.select(leftCols.map(col): _*).schema).as("__left"))
    val l = left.select(col(key), col(ts), lit(1).as("__side"),
      lit(null).cast(right.select(matchCols.map(col): _*).schema).as("__match"),
      struct(leftCols.map(col): _*).as("__left"))
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("__carried", last(col("__match"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(
        leftCols.map(c => col(s"__left.$c").as(c)) ++
          matchCols.map(c => col(s"__carried.$c").as(c)): _*)
  }

  /** Purchase→click attribution: each purchase event joined (as-of) to the
    * user's most recent click at-or-before it, with the attribution gap in
    * milliseconds. The shape every "last touch before conversion" job
    * takes. (key, ts) pairs are unique per side in this corpus — ns
    * timestamps — so the as-of match is deterministic.
    */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), unix_millis(col("ts")).as("purchase_ms"))
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), unix_millis(col("ts")).as("click_ms"))
    asofJoin(purchases, clicks, key = "user_id", ts = "ts",
      leftCols = Seq("user_id", "purchase_id", "purchase_ms"),
      matchCols = Seq("click_id", "click_ms"))
      .withColumn("gap_ms", col("purchase_ms") - col("click_ms"))
  }

  /** Retention cohorts: users bucketed by first-seen day; for each
    * (cohort day, day offset) the number of cohort users active that day.
    * Classic DAU/retention triangle. Shuffles: one distinct on
    * (user, day), one first-seen aggregate on user (same key — AQE reuses
    * the exchange), one final small-group aggregate. Since each user has
    * exactly one cohort row, `count(*)` over (cohort, offset, user)
    * -distinct rows IS the distinct-user count — no count(DISTINCT) pass.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy(
        unix_millis(col("cohort_day").cast("timestamp")).as("cohort_ms"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered conversion funnel signup → click → purchase (strictly
    * increasing timestamps, each step within `maxStepDelay` of the
    * previous): each user's deepest stage reached, counted.
    * Two stacked running-min windows over the SAME (user, ts) sort — the
    * second window's sort collapses because the first already satisfies
    * its required ordering — then one per-user aggregate. This is the
    * sequence-matching shape (funnel(A,B,C) WITHIN t) that would
    * otherwise need a per-user `collect_list` + UDF; windows keep it
    * codegen'd and spill-safe on skewed users.
    */
  def funnelStages(events: DataFrame, maxStepDelay: String = "6 hours"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val step = expr(s"INTERVAL $maxStepDelay")
    def within(prev: Column): Column =
      prev < col("ts") && col("ts") <= prev + step
    val staged = events
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("sign_so_far",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("click_so_far",
        min(when(col("event_type") === "click" && within(col("sign_so_far")),
          col("ts"))).over(w))
    staged.groupBy("user_id")
      .agg(
        max(when(col("event_type") === "signup", 1).otherwise(0)).as("s"),
        max(when(col("event_type") === "click" && within(col("sign_so_far")), 1)
          .otherwise(0)).as("c"),
        max(when(col("event_type") === "purchase" && within(col("click_so_far")), 1)
          .otherwise(0)).as("p"))
      .groupBy(
        when(col("p") === 1, 3L).when(col("c") === 1, 2L)
          .when(col("s") === 1, 1L).otherwise(0L).as("funnel_stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Gaps-and-islands sessionization: one row per (user, session), where a
    * session is a maximal run of events with inter-event gap ≤ `gap`
    * (strictly larger gaps start a new session; `session_seq` numbers a
    * user's sessions 1, 2, … in time order). Unlike the engine's
    * `session_window` counters (c19/c21) this is the ANALYTIC surface —
    * per-session rows with start/end/duration for downstream behavioral
    * features, not a windowed count.
    *
    * One shuffle on `user_id`; the lag, the running new-session sum and the
    * final per-session aggregate all share that partitioning (the groupBy
    * keys lead with `user_id`, so AQE reuses the exchange). Equal-timestamp
    * ties are order-insensitive: a zero gap can never start a session, so
    * `session_seq` is deterministic whatever order the tie sorts in.
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc)
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newSession = when(
      col("__prev").isNull || col("ts") > col("__prev") + expr(s"INTERVAL $gap"),
      1L).otherwise(0L)
    events.select(col("user_id"), col("ts"))
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("session_seq", sum(newSession).over(run))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("end_ms"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
  }

  /** Finishing pass of the STREAMING analytic-session face (e23): takes the
    * accumulated closed-session table emitted by
    * [[graft.streaming.StreamingCounters.analyticSessionStream]] and adds
    * [[userSessions]]' `session_seq` — a per-user `row_number` over session
    * start. Closed sessions of one user never interleave with unclosed
    * earlier ones (a session closes when the watermark passes `end + gap`,
    * and an earlier session's reach precedes a later one's), so the closed
    * subset is always a PREFIX of the user's batch numbering and the seq
    * values match batch e05's for every emitted row.
    *
    * Boundary convention, pinned by spec: Spark's `session_window` merge
    * is INCLUSIVE at the gap reach — an event landing exactly at
    * `last + gap` joins the session — which is [[userSessions]]' `gap ≤ g`
    * convention exactly, so the two surfaces agree on every event stream
    * including exact-gap ties (the e23 oracle is e05's gaps-and-islands
    * verbatim, restricted to closed sessions).
    *
    * Scale: the window runs per user over SESSION rows (user-bounded,
    * already aggregated) — never raw events; one shuffle on `user_id`.
    */
  def sessionsFromClosed(closed: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("start_ms").asc)
    closed
      .withColumn("session_seq", row_number().over(byUser).cast("long"))
      .select(col("user_id"), col("session_seq"), col("start_ms"),
        col("end_ms"), col("n_events"),
        (col("end_ms") - col("start_ms")).as("duration_ms"))
  }

  /** Exact inter-event-gap quantiles per event type — the latency/cadence
    * distribution behind rate alerting and session-gap calibration
    * (what should [[userSessions]]' gap be? read p90 off this). Gaps
    * collapse to a (type, gap, count) histogram — distinct gaps ≪ events —
    * and [[graft.functions.Quantiles.fromHistogram]] picks the exact
    * lower discrete quantiles over it (shared with
    * `TextAnalysis.lengthQuantiles`). Gap multisets are tie-stable:
    * permuting equal timestamps never changes the sorted adjacent
    * differences, so the lag order is immaterial.
    */
  def gapQuantiles(events: DataFrame,
                   psPpm: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame = {
    val byUser = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts").asc)
    val gaps = events
      .select(col("event_type"), col("user_id"), col("ts"))
      .withColumn("gap_ms",
        unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(byUser)))
      .where(col("gap_ms").isNotNull)
    graft.functions.Quantiles.fromHistogram(
      gaps.groupBy(col("event_type"), col("gap_ms")).agg(count(lit(1)).as("cnt")),
      groupCol = "event_type", valueCol = "gap_ms", cntCol = "cnt", psPpm = psPpm)
  }

  /** Per-window value quantiles — the percentile COUNTER TYPE the
    * reference lacks (`count`/`approx_count_distinct` only): exact
    * p50/p90/p99 of the record `value` per tumbling window, e.g. latency
    * percentiles next to request counts. Values quantize to integer cents
    * (`floor(value·100)` — the same engine-exact money convention as the
    * relational ops), so the per-window HISTOGRAM is bounded by distinct
    * cents, never row count, and the shared exact-quantile window
    * ([[graft.functions.Quantiles.fromHistogram]]) runs over that
    * histogram only. The corpus-side work is ONE map-side-combined
    * groupBy — the same shuffle shape as the count counter itself.
    */
  def windowValueQuantiles(events: DataFrame, windowDuration: String = "1 hour",
                           psPpm: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame =
    graft.functions.Quantiles.fromHistogram(
      dropNullCents(valueCentsHistogram(events, "ts", windowDuration)),
      groupCol = "window_start", valueCol = "value_cents",
      cntCol = "cnt", psPpm = psPpm)

  /** The per-(window, cents) histogram both percentile-counter faces build
    * — ONE definition (batch here; streaming adds a watermark upstream in
    * `StreamingCounters.valueQuantileHistogram`) so the quantization can
    * never drift between them.
    *
    * Null values are NOT row-filtered here, deliberately: Catalyst pushes
    * any such predicate below `EventTimeWatermark`
    * (`PushPredicateThroughNonJoin` pushes every non-event-time
    * predicate), so in the streaming face a value-less heartbeat would
    * stop advancing the watermark and windows would never close. Instead
    * nulls aggregate into their own (window, NULL) histogram row —
    * reaching the watermark node and the state store (one extra row per
    * window) — and BOTH faces exclude that row at the quantile pick
    * ([[dropNullCents]]).
    */
  private[graft] def valueCentsHistogram(events: DataFrame, tsCol: String,
                                         windowDuration: String): DataFrame =
    events
      .groupBy(
        window(col(tsCol), windowDuration),
        floor(col("value") * 100).cast("long").as("value_cents"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("window.start")).as("window_start"),
        col("value_cents"), col("cnt"))

  /** The shared null-exclusion stage of the percentile pick — identical
    * in the batch and streaming faces.
    */
  private[graft] def dropNullCents(hist: DataFrame): DataFrame =
    hist.where(col("value_cents").isNotNull)

  /** Per-window quantiles by MERGEABLE SKETCH with a measured ε-gate —
    * the unbounded-domain percentile counter ([[windowValueQuantiles]]'s
    * cents histogram is exact but sized by distinct values; the
    * [[graft.functions.QuantileSketch]] summary is O(1/ε) regardless of
    * domain — the same trade, and the same GATED oracle pattern, as the
    * reference's HLL distinct counter / a01). Output per (window, p):
    * the EXACT lower-discrete quantile (DuckDB-reproducible), the
    * non-null count, and `within_eps` — the measured verdict that the
    * sketch estimate's covering rank range intersects
    * [target − ⌊gate·n⌋, target + ⌊gate·n⌋]. A sketch drifting past the
    * gate flips the verdict and breaks the hash — a gate, not an
    * abstention; the estimate itself is deliberately not hash-compared
    * (partition-order-dependent, like HLL).
    *
    * Scale shape: the sketch rides a typed aggregation
    * (ObjectHashAggregate) with PARTIAL merge — only O(1/ε) summaries
    * cross the (window) shuffle; the exact side reuses the cents
    * histogram machinery; the rank audit joins the (windows × ps)-sized
    * estimate table back to the histogram. Quantile definition shared
    * with [[graft.functions.Quantiles.fromHistogram]]:
    * rank = ((n−1)·p_ppm) div 10⁶ + 1.
    */
  def quantileSketchGate(events: DataFrame, windowDuration: String = "1 hour",
                         psPpm: Seq[Long] = Seq(500000L, 900000L, 990000L),
                         gateEpsPpm: Long = 50000L): DataFrame =
    quantileGateFromSummaries(events,
      quantileSummaries(events, "ts", windowDuration), windowDuration,
      psPpm, gateEpsPpm)

  /** The batch sketch pass of [[quantileSketchGate]]: per-window
    * [[graft.functions.QuantileSketch]] summaries over value cents —
    * (window_start, knots, ranks, n). The streaming face
    * ([[graft.streaming.StreamingCounters.quantileSketchStream]]) emits
    * the same shape from `transformWithState` state on window close, so
    * both feed [[quantileGateFromSummaries]] unchanged.
    */
  def quantileSummaries(events: DataFrame, tsCol: String = "ts",
                        windowDuration: String = "1 hour",
                        epsPpm: Long = 5000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cents = events
      .select(
        unix_millis(window(col(tsCol), windowDuration).getField("start")).as("ws"),
        floor(col("value") * 100).cast("long").as("c"))
      .where(col("c").isNotNull)
      .as[(Long, Long)]
    cents.groupByKey(_._1).mapValues(_._2)
      .agg(new QuantileSketch.Agg(epsPpm).toColumn.name("s"))
      .toDF("window_start", "s")
      .select(col("window_start"), col("s.knots").as("knots"),
        col("s.ranks").as("ranks"), col("s.n").as("n"))
  }

  /** The events-derived half of [[quantileGateFromSummaries]] — exposed so
    * the STREAMING entry can materialize it concurrently with the stream
    * drain (opt guide §2.6, r13): the two are independent until the final
    * windows-bounded joins. One definition, so gate and overlap callers
    * cannot desynchronize.
    */
  def quantileGateHistogram(events: DataFrame,
                            windowDuration: String = "1 hour"): DataFrame =
    dropNullCents(valueCentsHistogram(events, "ts", windowDuration))

  /** The gate half of [[quantileSketchGate]], over ANY summary source
    * with the (window_start, knots, ranks, n) shape — the batch typed
    * aggregation or the streaming state emission. Windows present in
    * `summaries` drive the output (inner joins): the streaming face
    * passes only watermark-closed windows and gets the e13 rows
    * restricted to exactly those.
    */
  def quantileGateFromSummaries(events: DataFrame, summaries: DataFrame,
                                windowDuration: String = "1 hour",
                                psPpm: Seq[Long] = Seq(500000L, 900000L, 990000L),
                                gateEpsPpm: Long = 50000L,
                                histPre: Option[DataFrame] = None): DataFrame = {
    val hist = histPre.getOrElse(quantileGateHistogram(events, windowDuration))
    val exact = Quantiles.fromHistogram(hist, "window_start", "value_cents",
      "cnt", psPpm)
    val est = summaries
      .select(col("window_start"), col("knots").as("__k"),
        col("ranks").as("__r"), col("n").as("n"))
      .select(col("window_start"), col("__k"), col("__r"), col("n"),
        explode(array(psPpm.map(lit): _*)).as("p_ppm"))
      .withColumn("__target", expr("((n - 1) * p_ppm) div 1000000") + lit(1L))
      .withColumn("__est", coalesce(
        try_element_at(filter(arrays_zip(col("__k"), col("__r")),
          s => s.getField("__r") >= col("__target")), lit(1)).getField("__k"),
        try_element_at(col("__k"), size(col("__k")))))
      .select(col("window_start"), col("p_ppm"), col("n"),
        col("__target"), col("__est"))
    // measured audit: the estimate is an inserted value, so it has a
    // histogram row; its covering rank range is (cum − cnt, cum]
    val cum = hist
      .withColumn("__cum", sum(col("cnt")).over(
        Window.partitionBy(col("window_start")).orderBy(col("value_cents"))))
      .select(col("window_start").as("__ws2"), col("value_cents").as("__v2"),
        col("cnt").as("__cnt2"), col("__cum"))
    val slack = expr("(n * " + gateEpsPpm + "L) div 1000000")
    val gated = est
      .join(cum, est("window_start") === col("__ws2") &&
        col("__v2") === col("__est"))
      .select(col("window_start"), col("p_ppm"), col("n"),
        ((col("__cum") >= col("__target") - slack) &&
          (col("__cum") - col("__cnt2") <= col("__target") - 1 + slack))
          .cast("long").as("within_eps"))
    exact.join(gated, Seq("window_start", "p_ppm"))
      .select(col("window_start"), col("p_ppm"), col("value_cents"),
        col("n"), col("within_eps"))
  }

  /** Per-window heavy hitters by MERGEABLE SKETCH with a measured bound
    * gate — the unbounded-domain hitter counter ([[windowHeavyHitters]]'s
    * exact count table is sized by distinct keys per window; the
    * [[graft.functions.FreqSketch]] Misra–Gries summary is O(capacity)
    * regardless of key domain — the same trade, and the same GATED oracle
    * pattern, as the HLL distinct counter (a01) and the quantile sketch
    * (e13)). Output per (window, top-k user): the EXACT count and rank
    * (DuckDB-reproducible — [[windowHeavyHitters]]'s shape), the window
    * total `n`, and `within_bound` — the measured verdict that the
    * sketch's estimate for that user obeys Misra–Gries' theorem
    * `exact − n div (capacity+1) ≤ est ≤ exact` (integer-exact on both
    * engines: est is an integer, so the real bound `exact − n/(k+1)`
    * floors). A sketch violating its own theorem flips the verdict and
    * breaks the hash — a gate, not an abstention; the summary contents
    * are deliberately not hash-compared (merge-order-dependent, like HLL).
    *
    * Scale shape: the sketch rides a typed aggregation
    * (ObjectHashAggregate) with PARTIAL merge — only ≤ capacity-entry
    * summaries cross the (window) shuffle; the exact side is the e07
    * machinery (rank over the per-(window, user) aggregate); the audit
    * joins the (windows × k)-sized rank table to the windows-sized
    * summary table.
    */
  def hitterSketchGate(events: DataFrame, windowDuration: String = "1 hour",
                       k: Int = 3, capacity: Int = 16): DataFrame =
    hitterGateFromSummaries(events,
      hitterSummaries(events, "ts", windowDuration, capacity),
      windowDuration, k, capacity)

  /** The batch sketch pass of [[hitterSketchGate]]: per-window Misra–Gries
    * summaries over user keys — (window_start, keys, counts). The
    * streaming face
    * ([[graft.streaming.StreamingCounters.hitterSketchStream]]) emits the
    * same shape from `transformWithState` state on window close, so both
    * feed [[hitterGateFromSummaries]] unchanged.
    */
  def hitterSummaries(events: DataFrame, tsCol: String = "ts",
                      windowDuration: String = "1 hour",
                      capacity: Int = 16): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(unix_millis(window(col(tsCol), windowDuration)
        .getField("start")).as("ws"),
        col("user_id").cast("string").as("key"))
      .as[(Long, String)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new FreqSketch.Agg(capacity).toColumn.name("s"))
      .toDF("window_start", "s")
      .select(col("window_start"), col("s.keys").as("keys"),
        col("s.counts").as("counts"))
  }

  /** The gate half of [[hitterSketchGate]], over ANY summary source with
    * the (window_start, keys, counts) shape — batch typed aggregation or
    * the streaming state emission. Windows present in `summaries` drive
    * the output (inner joins): the streaming face passes only
    * watermark-closed windows and gets the e14 rows restricted to
    * exactly those.
    */
  def hitterGateFromSummaries(events: DataFrame, summaries: DataFrame,
                              windowDuration: String = "1 hour",
                              k: Int = 3, capacity: Int = 16,
                              exactPre: Option[DataFrame] = None): DataFrame = {
    // exactPre: the [[windowHeavyHitters]] frame prebuilt by the caller
    // (the streaming entry overlaps it with the stream drain — §2.6, r13)
    val exact = exactPre.getOrElse(windowHeavyHitters(events, windowDuration, k))
    val totals = events
      .groupBy(unix_millis(window(col("ts"), windowDuration)
        .getField("start")).as("__ws"))
      .agg(count(lit(1)).as("n"))
    val s = summaries.select(col("window_start").as("__ws2"),
      col("keys").as("__keys"), col("counts").as("__counts"))
    // array_position yields 0 for a key the sketch decremented away —
    // a legitimate miss (est 0), and an index element_at must never see
    val pos = array_position(col("__keys"), col("user_id").cast("string"))
    val est = coalesce(
      when(pos > 0, try_element_at(col("__counts"), pos.cast("int"))),
      lit(0L))
    exact
      .join(totals, exact("window_start") === col("__ws"))
      .join(s, exact("window_start") === col("__ws2"))
      .select(col("window_start"), col("user_id"), col("n_events"),
        col("rank"), col("n"),
        (est <= col("n_events") &&
          est >= col("n_events") - expr(s"n div ${capacity + 1}L"))
          .cast("long").as("within_bound"))
  }

  /** Phase-1 partial state for the percentile counter through the
    * reference's explicit two-phase topology (`counter.go:483-512` analog
    * for the counter type the engine ADDS beyond count/ACD): per
    * (window, shard), the cents histogram as a sorted `[{c, n}]` array —
    * mergeable across shards by concatenate-and-resum, the histogram
    * analog of count's partial row count and ACD's sketch bytes. Built in
    * two aggregation steps so the corpus-sized work is the FIRST,
    * map-side-combinable groupBy (same quantization as
    * [[valueCentsHistogram]] — `floor(value·100)` cents); the second
    * shuffles only histogram-sized rows. Null values ride as a `{c: null}`
    * entry (same rationale as the single-phase face) and are excluded at
    * the quantile pick.
    */
  def partialQuantileState(events: DataFrame, tsCol: String, shardCol: String,
                           windowDuration: String = "1 hour"): DataFrame =
    CountTables.collectPartials(pinned(events
      .groupBy(window(col(tsCol), windowDuration),
        col(shardCol).cast("string").as("shard_id"),
        floor(col("value") * 100).cast("long").as("value_cents"))
      .agg(count(lit(1)).as("cnt"))),
      Seq(col("value_cents").as("c"), col("cnt").as("n")), "partial_hist")

  /** A per-(window, shard) count table repartitioned on exactly those
    * keys, which pins the parallelism of the partial states' collect
    * (r13, §2.5 — the d31 class): the count frame is a few hundred KB,
    * so AQE would coalesce the collect's exchange to ONE partition, and
    * the collect plus the record JSON encode/parse fused above it would
    * all serialize (measured 0.5 s single-task on e10). The collect
    * reuses this partitioning (no second exchange) and, being
    * user-specified, AQE keeps its width.
    */
  private def pinned(counts: DataFrame): DataFrame =
    counts.repartition(counts.sparkSession.sparkContext.defaultParallelism,
      col("window"), col("shard_id"))

  /** Phase-2 cross-shard merge (`counter.go:372-403` analog): histograms
    * concatenate and re-sum per (window, cents) — associative and
    * commutative like count's sum and ACD's sketch union — then the shared
    * exact-quantile pick runs over the merged histogram. Output matches
    * [[windowValueQuantiles]] exactly: (window_start, p_ppm, value_cents).
    */
  def mergeQuantilePartials(partial: DataFrame,
                            psPpm: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame = {
    val hist = CountTables.resumPartials(partial, "partial_hist",
        Seq(col("window"), col("h.c").as("value_cents")), "cnt")
      .select(unix_millis(col("window.start")).as("window_start"),
        col("value_cents"), col("cnt"))
    graft.functions.Quantiles.fromHistogram(dropNullCents(hist),
      groupCol = "window_start", valueCol = "value_cents", cntCol = "cnt",
      psPpm = psPpm)
  }

  /** Phase-1 partial state for the HEAVY-HITTER counter through the
    * reference's two-phase topology (`counter.go:483-512` analog, the
    * second counter type this engine adds beyond count/ACD): per
    * (window, shard), the user-count table as a sorted `[{u, n}]` array —
    * exact and mergeable by concatenate-and-resum, like e10's cents
    * histogram. The corpus-sized work is the FIRST, map-side-combinable
    * groupBy; the second shuffles only user-table-sized rows. State is
    * bounded by active users per (window, shard) — a SpaceSaving sketch
    * is the sub-memory alternative when even that is too big, at which
    * point exactness is the trade.
    */
  def partialHitterState(events: DataFrame, tsCol: String, shardCol: String,
                         windowDuration: String = "1 hour"): DataFrame =
    CountTables.collectPartials(pinned(events
      .groupBy(window(col(tsCol), windowDuration),
        col(shardCol).cast("string").as("shard_id"),
        col("user_id"))
      .agg(count(lit(1)).as("cnt"))),
      Seq(col("user_id").as("u"), col("cnt").as("n")), "partial_counts")

  /** Phase-2 cross-shard merge for the heavy-hitter counter: per-shard
    * user tables concatenate and re-sum per (window, user) — associative
    * and commutative — then the rank runs over the merged per-window
    * aggregate exactly as in [[windowHeavyHitters]], whose output shape
    * this matches (the shard hop must be invisible).
    */
  def mergeHitterPartials(partial: DataFrame, k: Int = 3): DataFrame =
    topUsers(CountTables.resumPartials(partial, "partial_counts",
      Seq(col("window"), col("h.u").as("user_id")), "n_events"), "window", k)

  /** The top `k` users of a (window column `w`, user_id, n_events) count
    * table per window, count desc then user asc (numeric order), as
    * (window_start, user_id, n_events, rank).
    */
  private def topUsers(counts: DataFrame, w: String, k: Int): DataFrame =
    CountTables.topK(counts, Seq(col(w)), "n_events", "user_id", k)
      .select(unix_millis(col(s"$w.start")).as("window_start"),
        col("user_id"), col("n_events"), col("rank"))

  /** Phase-1 partial state for the COUNT–MIN SKETCH counter through the
    * reference's two-phase topology (`counter.go:483-512` analog, the
    * third counter type this engine adds beyond count/ACD): per
    * (window, shard), the non-zero sketch cells as a sorted `[{j, b, n}]`
    * array. This is where CMS earns its place in the family: the sketch
    * is LINEAR, so the cross-shard merge is plain cell-wise sum —
    * associative, commutative, and BIT-IDENTICAL to the single-phase
    * [[cmsCounters]] build — and unlike the hitter table the state is
    * (depth × width)-bounded per (window, shard) no matter how many
    * distinct keys the shard saw, which is exactly the regime the
    * sketch exists for. The corpus-sized work is the first map-side-
    * combinable groupBy; the second shuffles only sketch-sized rows.
    */
  def partialCmsState(events: DataFrame, tsCol: String, shardCol: String,
                      windowDuration: String = "1 hour",
                      depth: Int = 3, width: Int = 64): DataFrame =
    CountTables.collectPartials(pinned(events
      .select(window(col(tsCol), windowDuration).as("window"),
        col(shardCol).cast("string").as("shard_id"),
        col("user_id").cast("string").as("__key"))
      .select(col("window"), col("shard_id"),
        explode(array((0 until depth).map(j => lit(j)): _*)).as("j"),
        col("__key"))
      .select(col("window"), col("shard_id"), col("j"),
        pmod(graft.functions.PortableHash.md5Long60(
          concat(lit("cms"), col("j").cast("string"), lit(":"), col("__key"))),
          lit(width.toLong)).as("b"))
      .groupBy(col("window"), col("shard_id"), col("j"), col("b"))
      .agg(count(lit(1)).as("n"))),
      Seq(col("j").cast("long").as("j"), col("b"), col("n")), "partial_cells")

  /** Phase-2 cross-shard merge for the CMS counter: cells concatenate
    * and re-sum per (window, j, bucket) — sketch linearity — yielding
    * exactly [[cmsCounters]]' (window_start, j, bucket, cnt) shape, so
    * the result feeds [[cmsGateFromCounters]] unchanged and the shard
    * hop is invisible in the e24 gate output.
    */
  def mergeCmsPartials(partial: DataFrame): DataFrame =
    CountTables.resumPartials(partial, "partial_cells",
      Seq(unix_millis(col("window.start")).as("window_start"),
        col("h.j").as("j"), col("h.b").as("bucket")), "cnt")

  /** Windowed heavy hitters (the leaderboard step on counter output): per
    * tumbling window, the top-`k` users by event count with their rank
    * (count desc, user asc tiebreak — deterministic).
    *
    * Exact, not sketched, and still scale-safe: the rank window runs over
    * the per-(window, user) AGGREGATE — bounded by active users per
    * window, not events — and that aggregate is map-side combinable. The
    * rank partitions by window, so no global sort ever happens. (A
    * SpaceSaving/count-min sketch is the sub-memory alternative when even
    * per-window user cardinality is too big to shuffle; at that point the
    * aggregate itself is the bottleneck, not the rank.)
    */
  def windowHeavyHitters(events: DataFrame, windowDuration: String = "1 hour",
                         k: Int = 3): DataFrame =
    topUsers(events
      .groupBy(window(col("ts"), windowDuration).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events")), "w", k)

  /** Count–min sketch counters (Cormode & Muthukrishnan 2005, "An
    * improved data stream summary: the count-min sketch and its
    * applications") per window — the sub-memory frequency summary
    * [[windowHeavyHitters]]' scaladoc names as the alternative when even
    * per-window key cardinality is too big to shuffle, and the LAST
    * member of the repo's mergeable-summaries matrix (HLL, GK, Misra–
    * Gries, Bloom) to land. Each event increments `depth` counters
    * `(j, md5Long60("cms" + j + ":" + key) % width)`; a point query
    * reads the MIN over its `depth` cells and can only OVER-count
    * (every cell holds the key's own events plus collisions — the
    * one-sided theorem the gate checks for free).
    *
    * Unlike the HLL faces, the whole sketch is DETERMINISTIC integer
    * arithmetic on the portable md5 channel — DuckDB rebuilds the exact
    * counter table cell-for-cell, so estimates AND verdicts are
    * hash-compared, not just declared. And the sketch is LINEAR
    * (cell-wise sums), which is what makes it the canonical cross-shard
    * two-phase counter: merging per-shard sketches is elementwise `sum`,
    * bit-identical to the single-phase build.
    *
    * Scale shape: one ×`depth` explode (a projection) into ONE
    * map-side-combinable groupBy; the shuffle carries at most
    * partitions × (windows × depth × width) combined cells — never raw
    * events — and the output frame is (windows × depth × width)-bounded
    * regardless of key cardinality, which is the entire point of the
    * sketch. Returns (window_start, j, bucket, cnt).
    */
  def cmsCounters(events: DataFrame, tsCol: String = "ts",
                  windowDuration: String = "1 hour",
                  depth: Int = 3, width: Int = 64): DataFrame = {
    require(depth >= 1, "depth must be at least 1")
    require(width >= 2, "width must be at least 2")
    events.select(
        unix_millis(window(col(tsCol), windowDuration).getField("start"))
          .as("window_start"),
        col("user_id").cast("string").as("__key"))
      .select(col("window_start"),
        explode(array((0 until depth).map(j => lit(j)): _*)).as("j"),
        col("__key"))
      .select(col("window_start"), col("j"),
        pmod(graft.functions.PortableHash.md5Long60(
          concat(lit("cms"), col("j").cast("string"), lit(":"), col("__key"))),
          lit(width.toLong)).as("bucket"))
      .groupBy(col("window_start"), col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[cmsCounters]] + the point-query gate in one call — the e14/e19
    * batch face: exact hourly top-k hitters hash-compared alongside the
    * sketch's estimate and its bound verdict. */
  def cmsHitterGate(events: DataFrame, windowDuration: String = "1 hour",
                    k: Int = 3, depth: Int = 3, width: Int = 64,
                    boundFactor: Long = 4L): DataFrame =
    cmsGateFromCounters(events,
      cmsCounters(events, "ts", windowDuration, depth, width),
      windowDuration, k, depth, width, boundFactor)

  /** The gate half of [[cmsHitterGate]], over ANY counter source with
    * the (window_start, j, bucket, cnt) shape — the batch build or the
    * streaming per-window emission
    * ([[graft.streaming.StreamingCounters.cmsCounterStream]]): windows
    * present in `counters` drive the output (inner joins), so the
    * streaming face passes only watermark-closed windows and gets the
    * batch rows restricted to exactly those.
    *
    * Per exact top-k hitter: `cms_est` = min over `depth` of the
    * hitter's cells, and `within_bound` =
    * `cms_est ≥ n_events` (the never-undercount THEOREM — a violation
    * means the sketch is broken, not unlucky) AND
    * `cms_est ≤ n_events + (boundFactor·n) div width` (the measured
    * ε-slack, the a01/e13/e14 gate discipline; CMS guarantees it per
    * query with probability 1 − (1/boundFactor)^depth, and because the
    * hashes are deterministic the verdict is the SAME integer on both
    * engines — the oracle computes it, never declares it).
    *
    * Scale shape: probes are k·depth rows per window joining a
    * (windows × depth × width)-bounded counter frame — both sides
    * window-keyed aggregates, never events.
    */
  def cmsGateFromCounters(events: DataFrame, counters: DataFrame,
                          windowDuration: String = "1 hour",
                          k: Int = 3, depth: Int = 3, width: Int = 64,
                          boundFactor: Long = 4L,
                          exactPre: Option[DataFrame] = None): DataFrame = {
    // exactPre: see [[hitterGateFromSummaries]] — the streaming entry's
    // §2.6 overlap hook (r13); identical frame either way
    val exact = exactPre.getOrElse(windowHeavyHitters(events, windowDuration, k))
    val totals = events
      .groupBy(unix_millis(window(col("ts"), windowDuration)
        .getField("start")).as("__ws"))
      .agg(count(lit(1)).as("n"))
    val probes = exact.select(col("window_start"), col("user_id"))
      .withColumn("j", explode(array((0 until depth).map(j => lit(j)): _*)))
      .withColumn("bucket", pmod(graft.functions.PortableHash.md5Long60(
        concat(lit("cms"), col("j").cast("string"), lit(":"),
          col("user_id").cast("string"))), lit(width.toLong)))
    val c = counters.select(col("window_start").as("__ws2"),
      col("j").as("__j"), col("bucket").as("__b"), col("cnt"))
    val ests = probes
      .join(c, probes("window_start") === col("__ws2") &&
        probes("j") === col("__j") && probes("bucket") === col("__b"))
      .groupBy(probes("window_start").as("__wse"),
        col("user_id").as("__ue"))
      .agg(min(col("cnt")).as("cms_est"))
    exact
      .join(totals, exact("window_start") === col("__ws"))
      .join(ests, exact("window_start") === col("__wse") &&
        exact("user_id") === col("__ue"))
      .select(col("window_start"), col("user_id"), col("n_events"),
        col("rank"), col("n"), col("cms_est"),
        (col("cms_est") >= col("n_events") &&
          col("cms_est") <= col("n_events") +
            expr(s"(${boundFactor}L * n) div ${width.toLong}L"))
          .cast("long").as("within_bound"))
  }

  /** Hour-over-hour count deltas — the raw DERIVATIVE read beside
    * [[countSpikes]]' thresholded flags: per (event_type, hour), the
    * count, the previous OBSERVED hour's count, the signed delta, and
    * `gap_hours` exposing calendar gaps (delta is vs the previous
    * observed hour, not a fabricated zero for absent hours — the
    * value_min/value_max NULL discipline: the first observed hour per
    * type carries NULL prev/delta). All integer-exact.
    *
    * Scale shape: the lag window runs over the per-(type, hour)
    * map-side-combinable AGGREGATE — hours × types rows, never events —
    * partitioned by type, so no global sort.
    */
  def countDeltas(events: DataFrame, windowDuration: String = "1 hour"): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        unix_millis(window(col("ts"), windowDuration).getField("start")).as("hour_ms"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_ms"))
    hourly
      .withColumn("prev_n", lag(col("n_events"), 1).over(w))
      .withColumn("prev_ms", lag(col("hour_ms"), 1).over(w))
      .select(col("event_type"), col("hour_ms"), col("n_events"),
        col("prev_n"),
        (col("n_events") - col("prev_n")).as("delta"),
        expr("(hour_ms - prev_ms) div 3600000").as("gap_hours"))
  }

  /** Count spike detection — the alerting step a production counter
    * pipeline bolts onto its windowed counts: per (event_type, hour), flag
    * hours whose count is > `zThreshold` standard deviations above the
    * trailing `trailHours`-hour mean (current hour excluded from its own
    * baseline; a RANGE frame on the epoch-hour number, so absent hours
    * genuinely age out rather than stretching the frame).
    *
    * The z² test is evaluated in EXACT integer arithmetic — with trailing
    * count C, sum S, sum-of-squares Q:  z² > t²  ⟺  (n·C − S)² > t²·(C·Q − S²)
    * (both sides ≥0 once n·C > S is required) — so the flag is
    * engine-exact, no float variance/sqrt to disagree on. The quadratic
    * terms ride DECIMAL(38,0)/HUGEINT: at 10⁹ events/hour the square hits
    * ~10²³, past int64. A constant baseline (variance 0) flags ANY
    * positive deviation — the conventional degenerate-σ reading.
    *
    * Like [[rollingActivity]], the window input is the per-hour aggregate —
    * calendar-bounded (≤ 8,760 rows/type/year) regardless of event volume;
    * the corpus-sized work is all in the map-side-combinable groupBy.
    */
  def countSpikes(events: DataFrame, trailHours: Int = 24, minTrail: Int = 12,
                  zThreshold: Int = 3): DataFrame =
    spikesFromHourly(
      events
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events")),
      trailHours, minTrail, zThreshold)

  /** The z² flagging half of [[countSpikes]], split out so the STREAMING
    * face can reuse it verbatim over closed hourly windows (the flag for
    * an hour depends only on the trailing `trailHours` CLOSED hours, and
    * hours close in order — so running this per batch over the
    * accumulated closed-hour table reproduces the batch operator row for
    * row). Input: (event_type, hour timestamp, n_events).
    */
  def spikesFromHourly(hourly: DataFrame, trailHours: Int = 24,
                       minTrail: Int = 12, zThreshold: Int = 3): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // floor division, matching the oracle's `//`: plain `/` is double
    // division truncated toward ZERO, which diverges on pre-1970 hours
    // and would mis-size the trailing RANGE frame
    val numbered = hourly
      .withColumn("hn", floor(unix_seconds(col("hour")) / 3600).cast("long"))
    val w = Window.partitionBy("event_type").orderBy(col("hn"))
      .rangeBetween(-trailHours, -1)
    val dev = col("n_events") * col("trail_cnt") - col("trail_sum")
    val varTimesC2 = // C·Q − S², i.e. C²·σ² — ≥ 0 by Cauchy–Schwarz
      dec(col("trail_cnt")) * col("trail_sumsq") - dec(col("trail_sum")) * dec(col("trail_sum"))
    numbered
      .select(
        unix_millis(col("hour")).as("hour_ms"),
        col("event_type"), col("n_events"),
        count(lit(1)).over(w).as("trail_cnt"),
        coalesce(sum(col("n_events")).over(w), lit(0L)).as("trail_sum"),
        coalesce(sum(dec(col("n_events")) * dec(col("n_events"))).over(w),
          dec(lit(0L))).as("trail_sumsq"))
      .withColumn("is_spike",
        (col("trail_cnt") >= minTrail && dev > 0 &&
          dec(dev) * dec(dev) > lit(zThreshold * zThreshold) * varTimesC2)
          .cast("long"))
      .drop("trail_sumsq")
  }

  /** Robust count anomalies via trailing MEDIAN/MAD — the resistant twin
    * of [[countSpikes]]' mean/σ z² flag: a level shift or a prior spike
    * INSIDE the trailing window contaminates mean and variance (masking —
    * the spike raises its own baseline), while the median and the median
    * absolute deviation tolerate up to half the window being garbage
    * (breakdown point ½, Hampel's classic identifier). MAD also flags
    * DROPS — an outage hour deviates below the median just as far — which
    * the one-sided z² test deliberately ignores.
    *
    * Integer-exact (the e06 discipline, no float quantiles): the trailing
    * `trailHours` closed-hour counts collect into a ≤ trailHours-element
    * array per row, and both statistics are LOWER medians — sorted[(n−1)/2]
    * — so `med`/`mad` are exact longs both engines replay;
    * `is_anomaly = trail_cnt ≥ minTrail AND |C − med| > k·MAD`, with a
    * constant baseline (MAD 0) flagging any deviation, the e06 convention.
    *
    * Scale shape: identical to [[spikesFromHourly]] — the window runs over
    * the per-hour aggregate (calendar-bounded, ≤ 8,760 rows/type/year
    * regardless of event volume; the corpus-sized work is the map-side-
    * combinable groupBy), and the collected trailing array is ≤ trailHours
    * elements, so the per-row sort/fold cost is a constant.
    */
  def madAnomalies(events: DataFrame, trailHours: Int = 24, minTrail: Int = 12,
                   kThreshold: Int = 5): DataFrame =
    madFromHourly(
      events
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events")),
      trailHours, minTrail, kThreshold)

  /** The median/MAD flagging half of [[madAnomalies]], split out like
    * [[spikesFromHourly]] so a streaming face can run it over closed
    * hourly windows. Input: (event_type, hour timestamp, n_events).
    */
  def madFromHourly(hourly: DataFrame, trailHours: Int = 24,
                    minTrail: Int = 12, kThreshold: Int = 5): DataFrame = {
    // lower median of a non-empty integer array: sorted[(n−1)/2], 0-based
    def lowerMedian(arr: Column): Column =
      element_at(array_sort(arr),
        (floor((size(arr) - lit(1)) / lit(2)) + lit(1)).cast("int"))
    val numbered = hourly
      .withColumn("hn", floor(unix_seconds(col("hour")) / 3600).cast("long"))
    val w = Window.partitionBy("event_type").orderBy(col("hn"))
      .rangeBetween(-trailHours, -1)
    numbered
      .select(
        unix_millis(col("hour")).as("hour_ms"),
        col("event_type"), col("n_events"),
        collect_list(col("n_events")).over(w).as("tr"))
      .withColumn("trail_cnt", size(col("tr")).cast("long"))
      .withColumn("med",
        when(col("trail_cnt") > 0, lowerMedian(col("tr"))))
      .withColumn("mad",
        when(col("trail_cnt") > 0,
          lowerMedian(transform(col("tr"), v => abs(v - col("med"))))))
      .select(col("hour_ms"), col("event_type"), col("n_events"),
        col("trail_cnt"), col("med"), col("mad"),
        when(col("trail_cnt") >= minTrail &&
            abs(col("n_events") - col("med")) > lit(kThreshold.toLong) * col("mad"),
          lit(1L)).otherwise(lit(0L)).as("is_anomaly"))
  }

  /** CUSUM drift detection (Page 1954) over hourly event counts — the
    * SUSTAINED-shift reader that completes the anomaly family: e06's z²
    * flags one loud hour, e16's MAD survives contaminated baselines, but
    * a rate that creeps up 10% and STAYS there never trips a per-hour
    * deviation test — the cumulative sum accumulates the small excesses
    * until they cross the decision interval (the classic quickest-
    * detection property). The training-pipeline read: a crawler or
    * producer whose volume has drifted (config change, new source, bot
    * onset) pages here first.
    *
    * Integer-exact via the prefix-minimum identity: the textbook
    * recursion `S_t = max(0, S_{t−1} + (n_t − k))` is NOT a window
    * function, but with `P_t = Σ_{i≤t}(n_i − k)` it equals
    * `S_t = P_t − min(0, min_{j≤t} P_j)` — two stock window aggregates
    * over the SAME (type, hour-asc) window, one shuffle, whole-stage
    * codegen, no recursion (and the oracle replays the identity
    * verbatim). Reference level `k = lower-median(type's hourly counts)
    * + allowance` (the e16 lower-median, exact), alarm when
    * `S_t > hFactor · max(med, 1)` — all-long comparisons, no boundary
    * ulps. Hours absent from the aggregate (zero events) contribute
    * nothing: this is observation-indexed CUSUM, the right form when
    * absence itself is tracked by e15's deltas.
    *
    * Scale shape: the corpus-sized work is ONE map-side-combinable
    * groupBy to hourly counts; medians and windows run over the
    * calendar-bounded hourly frame (the e06/e16 discipline), and the
    * per-type median table broadcasts back onto it.
    *
    * Output: (event_type, hour_ms, n_events, med, cusum, is_alarm).
    */
  def cusumDrift(events: DataFrame, allowance: Long = 1L,
                 hFactor: Long = 4L): DataFrame =
    cusumFromHourly(
      events
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events")),
      allowance, hFactor)

  /** The flagging half of [[cusumDrift]] over a prepared
    * (event_type, hour, n_events) frame — the [[spikesFromHourly]]
    * split, reusable by a streaming face over closed hourly windows.
    */
  def cusumFromHourly(hourly0: DataFrame, allowance: Long = 1L,
                      hFactor: Long = 4L): DataFrame = {
    def lowerMedian(arr: Column): Column =
      element_at(array_sort(arr),
        (floor((size(arr) - lit(1)) / lit(2)) + lit(1)).cast("int"))
    // the hourly aggregate feeds TWO consumers (the median and the window
    // side of the join) — without a checkpoint the corpus-sized groupBy
    // runs twice; the frame is calendar-bounded (hours × types), so lazy
    // localCheckpoint materializes it once (the minhash/CC discipline)
    val hourly = hourly0.localCheckpoint(eager = false)
    val med = hourly.groupBy(col("event_type"))
      .agg(lowerMedian(collect_list(col("n_events"))).as("med"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .join(broadcast(med), Seq("event_type"))
      .withColumn("__pf",
        sum(col("n_events") - col("med") - lit(allowance)).over(w))
      .withColumn("cusum",
        col("__pf") - least(lit(0L), min(col("__pf")).over(w)))
      .select(col("event_type"), unix_millis(col("hour")).as("hour_ms"),
        col("n_events"), col("med"), col("cusum"),
        (col("cusum") > lit(hFactor) * greatest(col("med"), lit(1L)))
          .cast("long").as("is_alarm"))
  }

  /** Hour-of-day SEASONALITY profile — the traffic-shape read behind
    * capacity planning and anomaly-threshold tuning (e06/e16 flag
    * deviations from a trailing baseline; this is the CYCLE the baseline
    * breathes with — an "anomaly" at the daily peak hour is usually just
    * the peak): per event type, each UTC hour-of-day's event count, its
    * integer-ppm share of the type's volume, and an `is_peak` flag under
    * the (count desc, hour asc) total order.
    *
    * Scale shape: ONE map-side-combinable groupBy over the events; the
    * share and peak windows run over the types×24-bounded profile, the
    * e07 window-over-aggregate discipline. All columns exact integers.
    */
  def hourOfDayProfile(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("__tot", sum(col("n_events")).over(w))
      .withColumn("__peak",
        max(struct(col("n_events"), (-col("hour_of_day")).as("nh"))).over(w))
      .select(col("event_type"), col("hour_of_day"), col("n_events"),
        expr("n_events * 1000000 div __tot").as("share_ppm"),
        when(col("__peak.n_events") === col("n_events") &&
            -col("__peak.nh") === col("hour_of_day"), 1L).otherwise(0L)
          .as("is_peak"))
  }

  /** Rolling 7-day activity: per calendar day, that day's event volume and
    * distinct users, plus RANGE-framed trailing-week sums (`RANGE BETWEEN
    * 6 PRECEDING` over the epoch-day number — a range frame, not a row
    * frame, so absent days genuinely age out of the window).
    *
    * The rolling window is unpartitioned BY DESIGN: it runs over the
    * per-day aggregate, whose cardinality is calendar-bounded (365 rows a
    * year no matter how many trillion events) — the corpus-sized work all
    * happens in the partial/final groupBy before it. Rolling DISTINCT
    * users is deliberately not offered this way (distinct doesn't
    * decompose over a frame); `roll7_user_days` sums per-day distincts,
    * the standard DAU-style accounting.
    */
  def rollingActivity(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("dn", unix_date(col("day")))
    val w = Window.orderBy(col("dn")).rangeBetween(-6, Window.currentRow)
    daily.select(
      unix_millis(col("day").cast("timestamp")).as("day_ms"),
      col("n_events"), col("n_users"),
      sum(col("n_events")).over(w).as("roll7_events"),
      sum(col("n_users")).over(w).as("roll7_user_days"))
  }
}
