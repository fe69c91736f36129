package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, IntegerType, LongType, StringType}

import graft.config.{CounterDef, CounterType}
import graft.functions.{Canonical, CountTables, TargetExpr}

/** The counter pipeline (reference operators O4–O14, O16) as declarative
  * DataFrame transforms:
  *
  * {{{
  * qualify (project/filter, O5–O7)
  *   → groupBy(window(ts, w) [, shard]) (O12)
  *   → count | approx_count_distinct (O8/O9)
  *   → finalize projection (O13) [→ jq transform (O14)]
  * }}}
  *
  * Scale notes (the whole point of the Spark re-expression):
  *  - The qualifying predicate is a `Column`, so Catalyst pushes it below
  *    the aggregate and into the parquet scan (`PushedFilters`) — at 100 TB
  *    the filter runs in the reader, not per-row in an interpreter.
  *  - `groupBy(window, ...)` compiles to partial `HashAggregateExec` →
  *    shuffle on the group keys → final merge. That shuffle IS the
  *    reference's IntermediateRecord hop (`counter.go:331-337, 348-412`),
  *    done natively with map-side combine: each of 1000 executors ships one
  *    partial row (or one HLL sketch) per (window, counter), not raw rows.
  *  - The number of groups is bounded by windows×shards — tiny relative to
  *    input — so the aggregation output never becomes a shuffle hotspot.
  *  - `approx_count_distinct(col, rsd=0.0041)` is Spark's native HLL++ at
  *    the reference's precision 16 (`counter.go:206-208`): a fixed 64 KiB
  *    buffer per group regardless of cardinality, mergeable across
  *    partitions exactly like the reference's gob-serialized sketch.
  */
object Counters {

  /** rsd for Spark's HLL++ matching the reference's fixed precision p=16
    * (`counter.go:206-208`): 1.04 / sqrt(2^16) ≈ 0.0040625.
    */
  val ReferenceRsd: Double = 1.04 / math.sqrt(1 << 16)

  /** Resolve the counter's target value column (O5/O7).
    * None means "every record" (`target_column: "*"`).
    */
  def valueColumn(c: CounterDef): Option[Column] =
    c.targetExpr match {
      case Some(src) => Some(TargetExpr.compile(src))
      case None =>
        c.targetColumn match {
          case Some("*") => None
          case Some(name) => Some(col(name))
          case None => None
        }
    }

  /** Count-semantics qualifying predicate for the `target_expr` path (O7):
    * keep a row iff the evaluated value is non-null AND not boolean false
    * (`counter.go:260-270`). Type-directed: only boolean-typed values can
    * be "false", so the false-rejection only applies when the resolved
    * type is BooleanType — mirroring the reference, where any non-bool,
    * non-nil value qualifies.
    *
    * NOT applied to the plain `target_column` path: there the reference
    * counts every present non-nil value, boolean `false` included
    * (`counter.go:271-276`) — see [[countAgg]].
    */
  def countPredicate(df: DataFrame, value: Column): Column = {
    val dt = df.select(value.as("__v")).schema.head.dataType
    dt match {
      case BooleanType => coalesce(value, lit(false)) === lit(true)
      case _ => value.isNotNull
    }
  }

  /** The count aggregate honoring the reference's path asymmetry:
    * `target_expr` → non-null ∧ non-false (`counter.go:260-270`);
    * `target_column` → non-null only, `false` counts (`counter.go:271-276`);
    * `*` → every record (`counter.go:273`).
    */
  private def countAgg(df: DataFrame, c: CounterDef): Column =
    (c.targetExpr, valueColumn(c)) match {
      case (_, None) => count(lit(1)) // target_column "*": every record
      case (Some(_), Some(value)) => count(when(countPredicate(df, value), lit(1)))
      case (None, Some(value)) => count(value) // count() already skips NULLs
    }

  /** ACD qualifying predicate (O6): non-null only — boolean false IS a
    * countable distinct value (`counter.go:296-313`), unlike count.
    */
  def acdPredicate(value: Column): Column = value.isNotNull

  /** The `value_sum` aggregate (ENGINE EXTENSION): per-window sum of the
    * target value in integer CENTS — `floor(value·100)` is one IEEE
    * double multiply + floor on both engines, and the summed longs are
    * shuffle-order-exact (the repo-wide exact-money discipline). Non-
    * numeric / null values contribute nothing (`try_cast` → NULL, which
    * `sum` skips — the skip-on-error analog shared with tonumber); an
    * all-null group emits 0, like count.
    *
    * DELIBERATE parity-over-accuracy trade: `floor`, not `round`. IEEE
    * representation makes e.g. 29.99·100 = 2998.9999…, so floor yields
    * 2998 cents where a currency-true conversion would round to 2999.
    * Both engines (this aggregate and the DuckDB oracle SQL) compute the
    * identical floor, so results are bit-equal and deterministic; callers
    * that ingest true currency should materialize integer cents upstream
    * rather than rely on a double column.
    */
  private def sumAgg(df: DataFrame, c: CounterDef): Column = {
    val value = valueColumn(c).getOrElse(throw new IllegalArgumentException(
      s"counter ${c.id}: value_sum requires a target"))
    coalesce(sum(centsOf(value)), lit(0L))
  }

  /** The shared exact-money conversion (see [[sumAgg]]'s doc for the
    * deliberate floor-over-round trade): non-numeric/null → NULL, which
    * every aggregate here skips.
    */
  private def centsOf(value: Column): Column =
    floor(value.try_cast("double") * lit(100d)).cast("long")

  /** The `value_min` / `value_max` aggregates (ENGINE EXTENSIONS): the
    * per-window extreme of the target value in integer cents — the
    * latency-floor/spike companion of [[sumAgg]], same conversion, same
    * skip-on-non-numeric. NO empty-group identity: a window with no
    * numeric values emits NULL (0 would be a fabricated extreme).
    */
  private def extremeAgg(df: DataFrame, c: CounterDef): Column = {
    val value = valueColumn(c).getOrElse(throw new IllegalArgumentException(
      s"counter ${c.id}: ${c.counterType.name} requires a target"))
    if (c.counterType == CounterType.ValueMin) min(centsOf(value))
    else max(centsOf(value))
  }

  /** One single-column counter type's mergeable summary — its member of
    * the reference's `CounterState` tagged union (`counter.go:78-82`):
    * `partial` names the per-(window, shard) state column that
    * [[partialState]] writes and [[mergePartials]] reads, `state` the
    * intermediate record's `counter_state` field, `encode`/`decode` map
    * one to the other (`graft.operators.Intermediate`), and `merge` is the
    * cross-shard aggregate over partials.
    */
  private[graft] final case class Summary(partial: String, state: String,
                                          encode: Column => Column, decode: Column => Column,
                                          merge: Column => Column)

  /** The types with one aggregate Column, the types a fan-out aggregation
    * carries ([[fanOut]], [[widthAggregate]]). `value_quantile` and
    * `heavy_hitters` pick or rank per window over a count table
    * ([[Tables]]). The two extremes share one record field: the
    * `counter_type` tag tells them apart.
    */
  private val Summaries: ListMap[CounterType, Summary] = {
    def plain(partial: String, state: String, merge: Column => Column) =
      Summary(partial, state, identity, identity, merge)
    ListMap(
      CounterType.Count -> plain("partial_count", "row_count", sum(_).cast("long")),
      CounterType.ApproxCountDistinct -> Summary("partial_sketch", "base64_hll",
        base64, unbase64, p => hll_sketch_estimate(hll_union_agg(p))),
      CounterType.ValueSum -> plain("partial_sum", "sum_cents", sum(_).cast("long")),
      CounterType.ValueMin -> plain("partial_extreme", "extreme_cents", min(_).cast("long")),
      CounterType.ValueMax -> plain("partial_extreme", "extreme_cents", max(_).cast("long")))
  }

  /** Whether `c` has one aggregate Column ([[aggExpr]], [[partialAgg]]),
    * so that it can share a groupBy with other counters.
    */
  def fansOut(c: CounterDef): Boolean = Summaries.contains(c.counterType)

  /** `c`'s [[Summary]], for the intermediate-record codec and its
    * consumers. A count-table type has no serialized record: its two-phase
    * path is [[runTwoPhase]] (the `Temporal` record codecs carry other
    * state shapes, which a counter's partial does not parse into).
    */
  private[graft] def summary(c: CounterDef): Summary =
    Summaries.getOrElse(c.counterType, throw new IllegalArgumentException(
      s"counter ${c.id}: ${c.counterType.name} has no serialized intermediate " +
        "record; run it two-phase through Counters.runTwoPhase"))

  /** The per-counter aggregate expression, usable standalone or fanned out
    * (several counters in ONE groupBy pass — see [[fanOut]]).
    * Conditional form: rows not qualifying contribute NULL, which both
    * `count` and `approx_count_distinct` ignore — this is what lets N
    * differently-filtered counters share a single shuffle.
    */
  def aggExpr(df: DataFrame, c: CounterDef): Column =
    c.counterType match {
      case CounterType.Count => countAgg(df, c)
      case CounterType.ApproxCountDistinct => acdAgg(df, acdValue(c), c.siphashKeyHex)
      case CounterType.ValueSum => sumAgg(df, c)
      case CounterType.ValueMin | CounterType.ValueMax => extremeAgg(df, c)
      case CounterType.ValueQuantile | CounterType.HeavyHitters =>
        // quantile pick / per-window rank can't be one aggregate Column;
        // their run/runPerShard/runTwoPhase paths dispatch before this
        throw new IllegalArgumentException(
          s"counter ${c.id}: ${c.counterType.name} has no single-Column " +
            "aggregate — use Counters.run/runPerShard/runTwoPhase " +
            "(sliding/session/fanOut topologies support " +
            Summaries.keys.map(_.name).mkString("/") + " only)")
    }

  /** `c`'s per-(window, shard) partial state as one aggregate Column: the
    * IntermediateRecord's state (`counter.go:483-491`), merged by
    * [[mergePartials]]. An ACD counter's partial is its HLL sketch; the
    * other types' partials are their own aggregates (a count, a cents sum,
    * an extreme), which merge by sum, min or max.
    */
  private[graft] def partialAgg(df: DataFrame, c: CounterDef): Column =
    if (c.counterType == CounterType.ApproxCountDistinct)
      hll_sketch_agg(sketchInput(df, acdValue(c), c.siphashKeyHex), lit(16))
    else aggExpr(df, c)

  private def acdValue(c: CounterDef): Column = valueColumn(c).getOrElse(
    throw new IllegalArgumentException(s"counter ${c.id}: approx_count_distinct requires a target"))

  /** The ACD aggregate: DataSketches HLL at lgConfigK=16 — the reference's
    * precision (`counter.go:206-208`) — via `hll_sketch_agg`, which runs in
    * `ObjectHashAggregateExec` with one heap sketch object per group.
    *
    * Deliberately NOT Spark's `approx_count_distinct(rsd≈0.004)`: that is an
    * `ImperativeAggregate` whose buffer is a flat 2^16-register row — ~52 KiB
    * of fixed-width aggregation-buffer per group materialized in the hash
    * map of EVERY partial task — measured 10× slower at p=16 (sf0.01:
    * 12.6 s vs 1.3 s for the identical query via DataSketches).
    *
    * The sketched domain is the reference's exactly: SipHash-2-4 with the
    * per-counter `siphash_key_hex` over the canonical JSON encoding
    * (`counter.go:314-319` marshals, `counter.go:593-601` hashes with the
    * configured key, then adds to HLL). Routing the keyed hash into the
    * sketch means changing `siphash_key_hex` genuinely changes the
    * sketched domain here too — not just config parity. The `siphash64`
    * expression is codegen'd and paper-vector-verified (`SipHashSpec`);
    * requires [[graft.GraftExtensions]] in the session.
    */
  def acdAgg(df: DataFrame, value: Column,
             keyHex: String = CounterDef.DefaultSipHashKeyHex): Column =
    hll_sketch_estimate(hll_sketch_agg(sketchInput(df, value, keyHex), lit(16)))

  /** Keyed 64-bit sketch input shared by the single-phase ([[acdAgg]]) and
    * two-phase ([[partialState]]) ACD paths.
    */
  private def sketchInput(df: DataFrame, value: Column, keyHex: String): Column = {
    // Every ACD counter routes through the registered `siphash64` (the
    // reference's keyed sketch domain) — fail here with an actionable
    // message instead of Catalyst's generic UNRESOLVED_ROUTINE later.
    if (!df.sparkSession.catalog.functionExists("siphash64"))
      throw new IllegalStateException(
        "approx_count_distinct requires the siphash64 function: build the " +
          "session with .config(\"spark.sql.extensions\", \"graft.GraftExtensions\")")
    val dt = df.select(value.as("__v")).schema.head.dataType
    Canonical.siphashCanonicalTyped(dt, value, keyHex)
  }

  /** Exact-distinct twin of an ACD counter — used by the oracle harness
    * (DuckDB can check it bit-exactly) and by ε-tests as ground truth.
    */
  def exactDistinctExpr(c: CounterDef): Column = {
    val value = valueColumn(c).getOrElse(
      throw new IllegalArgumentException(s"counter ${c.id} requires a target"))
    count_distinct(value)
  }

  /** `df` grouped by `c`'s window, then `shard` (as `shard_id`), then `keys`. */
  private def windowed(df: DataFrame, tsCol: String, c: CounterDef,
                       shard: Option[Column] = None, keys: Seq[Column] = Nil) =
    df.groupBy(window(col(tsCol), c.windowDuration) +: (shard.map(_.as("shard_id")).toSeq ++
      keys): _*)

  /** A count-table counter type: its state is a count table,
    * (window[, shard], key) → n, finished per window by `finish`
    * (`graft.functions.CountTables`), which reads the count from column
    * `n` and partitions by its second argument. The key is the target
    * value through `keyOf`, as column `key`; the two-phase partial is
    * column `partial`, a sorted array of `{field, n}` structs. `extra`
    * are the output fields the finished rows carry beside `value`.
    */
  private final case class Table(key: String, keyOf: Column => Column, field: String,
                                 partial: String, n: String, extra: Seq[Column],
                                 finish: (DataFrame, Seq[Column], CounterDef) => DataFrame)

  /** `value_quantile` picks its value from a value histogram (exact lower
    * discrete quantile at `c.quantilePpm`: the smallest v with
    * cum·10⁶ ≥ ppm·total); `heavy_hitters` ranks the members' counts
    * (top `c.topK`, count desc, member asc as a string), adding `member`
    * and `rank` beside the count in `value`. Distinct values or members
    * ≪ rows, so the window step runs over a small table.
    */
  private val Tables: Map[CounterType, Table] = Map(
    CounterType.ValueQuantile -> Table("__v", identity, "v", "partial_hist", "__cnt", Nil,
      (t, part, c) => CountTables.quantilePick(t, part, c.quantilePpm)),
    CounterType.HeavyHitters -> Table("member", _.cast("string"), "m", "partial_counts", "value",
      Seq(col("member"), col("rank")),
      (t, part, c) => CountTables.topK(t, part, "value", "member", c.topK)))

  /** `c`'s count table per (window[, shard], key), the count as column
    * `n`; rows with a null target drop here.
    */
  private def countTable(df: DataFrame, tsCol: String, c: CounterDef, t: Table,
                         shard: Option[Column], n: String): DataFrame = {
    val value = valueColumn(c).getOrElse(throw new IllegalArgumentException(
      s"counter ${c.id}: ${c.counterType.name} requires a target"))
    windowed(df.where(value.isNotNull), tsCol, c, shard, Seq(t.keyOf(value).as(t.key)))
      .agg(count(lit(1)).as(n))
  }

  /** `c`'s finished rows per window (and `shard`, as `shard_id`): its
    * aggregate, or its count table's [[Table]] finish.
    */
  private def aggregate(df: DataFrame, tsCol: String, c: CounterDef,
                        shard: Option[Column]): DataFrame =
    Tables.get(c.counterType) match {
      case Some(t) => t.finish(countTable(df, tsCol, c, t, shard, t.n),
        col("window") +: shard.map(_ => col("shard_id")).toSeq, c)
      case None => windowed(df, tsCol, c, shard).agg(aggExpr(df, c).as("value"))
    }

  /** The O13 record of finished rows ([[finalizeOutput]]), with the
    * `member` and `rank` fields of a `heavy_hitters` counter.
    */
  private def finish(agg: DataFrame, c: CounterDef, eventSourceArn: Option[String],
                     includeShard: Boolean = false): DataFrame =
    finalizeOutput(agg, c, eventSourceArn, includeShard,
      Tables.get(c.counterType).fold(Seq.empty[Column])(_.extra))

  /** Single-phase counter (O8/O9/O12/O13): the standard path. */
  def run(df: DataFrame, tsCol: String, c: CounterDef,
          eventSourceArn: Option[String] = None): DataFrame =
    finish(aggregate(df, tsCol, c, None), c, eventSourceArn)

  /** Exact-distinct variant of [[run]] for oracle checking. */
  def runExactDistinct(df: DataFrame, tsCol: String, c: CounterDef,
                       eventSourceArn: Option[String] = None): DataFrame =
    finalizeOutput(
      windowed(df, tsCol, c).agg(exactDistinctExpr(c).as("value")),
      c, eventSourceArn)

  /** Per-shard (non-aggregate) topology: one output record per
    * (window, shard), with `shard_id` included in the emitted record —
    * the reference does exactly this when a counter has no aggregate
    * stream (`counter.go:338-345`, conditional shard_id at
    * `counter.go:423-425`). Same single shuffle as [[run]], just with the
    * shard in the grouping key.
    */
  def runPerShard(df: DataFrame, tsCol: String, shardCol: String, c: CounterDef,
                  eventSourceArn: Option[String] = None): DataFrame =
    finish(aggregate(df, tsCol, c, Some(col(shardCol).cast("string"))),
      c, eventSourceArn, includeShard = true)

  /** Explicit two-phase topology (O10/O11): per-shard partial aggregate,
    * then cross-shard merge — the reference's aggregate-stream architecture
    * (`counter.go:331-412`) made visible as two aggregation steps.
    *
    * Spark already does partial→final inside one `groupBy`; this exists to
    * (a) prove merge associativity in tests and (b) model the topology
    * where partials are materialized (e.g. per-Kinesis-shard jobs shipping
    * sketches through an intermediate stream). For ACD the partial is a
    * DataSketches HLL sketch (`hll_sketch_agg`, lgConfigK=16 — the
    * reference's precision), merged with `hll_union_agg`: serializable,
    * mergeable bytes, exactly like the reference's `base64_hllpp` state.
    */
  def runTwoPhase(df: DataFrame, tsCol: String, shardCol: String, c: CounterDef,
                  eventSourceArn: Option[String] = None): DataFrame =
    finish(mergePartials(partialState(df, tsCol, shardCol, c), c), c, eventSourceArn)

  /** Phase 1: per-(window, shard) partial state — the IntermediateRecord
    * (`counter.go:483-491`): [[partialAgg]] in its [[Summary]]'s column,
    * e.g. a partial row count or HLL sketch bytes (mergeable, bounded
    * size); for a count-table type, its [[Table]]'s sorted `{field, n}`
    * array.
    */
  def partialState(df: DataFrame, tsCol: String, shardCol: String, c: CounterDef): DataFrame = {
    val shard = Some(col(shardCol))
    Tables.get(c.counterType) match {
      case Some(t) => CountTables.collectPartials(countTable(df, tsCol, c, t, shard, "__cnt"),
        Seq(col(t.key).as(t.field), col("__cnt").as("n")), t.partial)
      case None => windowed(df, tsCol, c, shard)
        .agg(partialAgg(df, c).as(Summaries(c.counterType).partial))
    }
  }

  /** Phase 2: merge partials across shards (`counter.go:372-403`): the
    * [[Summary]]'s `merge` (count → sum of partial counts; ACD → HLL
    * union + estimate; …); for a count-table type, explode + re-sum, then
    * the same [[Table]] finish as single-phase (the shard hop must be
    * invisible).
    */
  def mergePartials(partial: DataFrame, c: CounterDef): DataFrame =
    Tables.get(c.counterType) match {
      case Some(t) => t.finish(CountTables.resumPartials(partial, t.partial,
        Seq(col("window"), col(s"h.${t.field}").as(t.key)), t.n), Seq(col("window")), c)
      case None =>
        val s = Summaries(c.counterType)
        partial.groupBy(col("window")).agg(s.merge(col(s.partial)).as("value"))
    }

  /** ENGINE EXTENSION beyond the reference (tumbling-only, README.md:44):
    * sliding-window counter — each record contributes to
    * `window/slide` overlapping windows. Same partial/final aggregation
    * shape as [[run]]; group count scales by the overlap factor, still
    * bounded by windows×counters, never by rows.
    */
  def runSliding(df: DataFrame, tsCol: String, c: CounterDef,
                 slide: String,
                 eventSourceArn: Option[String] = None): DataFrame =
    finalizeOutput(
      df.groupBy(window(col(tsCol), c.windowDuration, slide))
        .agg(aggExpr(df, c).as("value")),
      c, eventSourceArn)

  /** ENGINE EXTENSION: session-window counter — consecutive records of one
    * `keyCol` merge into a session while gaps stay under `gap`; a gap ≥
    * `gap` starts a new session (Spark's `session_window` semantics:
    * a session's reach is last-event + gap, end-exclusive). The natural
    * fit for per-user activity metrics the reference can't express.
    * Output: (key, session_start/end epoch millis, value).
    */
  def runSessions(df: DataFrame, tsCol: String, keyCol: String, c: CounterDef,
                  gap: String): DataFrame =
    df.groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(aggExpr(df, c).as("value"))
      .select(
        col(keyCol),
        unix_millis(col("session_window.start")).as("session_start"),
        unix_millis(col("session_window.end")).as("session_end"),
        lit(c.id).as("counter_id"),
        col("value"))

  /** O13 final projection: epoch-millisecond window bounds + counter
    * identity, matching the reference's output record
    * (`counter.go:414-434`, millis at `counter.go:418-419`); `includeShard`
    * adds the conditional `shard_id` field the reference emits for
    * per-shard topologies (`counter.go:423-425`).
    */
  def finalizeOutput(agg: DataFrame, c: CounterDef,
                     eventSourceArn: Option[String] = None,
                     includeShard: Boolean = false,
                     extraFields: Seq[Column] = Nil): DataFrame = {
    val base = Seq(
      unix_millis(col("window.start")).as("window_start"),
      unix_millis(col("window.end")).as("window_end"),
      lit(c.id).as("counter_id"),
      lit(c.counterType.name).as("counter_type")) ++
      (if (includeShard) Seq(col("shard_id")) else Nil) ++
      extraFields :+
      col("value")
    val withArn = eventSourceArn match {
      case Some(arn) => lit(arn).as("event_source_arn") +: base
      case None => base
    }
    agg.select(withArn: _*)
  }

  /** O16 multi-counter fan-out: ALL counters sharing a window width run in
    * ONE groupBy pass — one scan, one shuffle — as conditional aggregates
    * ([[widthAggregate]]); the per-counter rows are then unpivoted from the
    * (tiny) aggregated result by a single `explode` (not an N-way
    * self-union, so the aggregation exists once in the plan — which also
    * makes this legal after a streaming aggregation). At 100 TB this is the
    * difference between N full scans and 1.
    */
  def fanOut(df: DataFrame, tsCol: String, counters: Seq[CounterDef],
             eventSourceArn: Option[String] = None): DataFrame = {
    require(counters.nonEmpty, "fanOut requires at least one counter")
    // the conditional-aggregate trick needs one agg Column per counter;
    // quantile/rank counters have their own shapes — run them via `run`
    require(counters.forall(fansOut),
      "fanOut supports " + Summaries.keys.map(_.name).mkString("/") +
        " counters only; run value_quantile/heavy_hitters counters individually")
    byWidth(counters).sortBy(_.head.windowDuration).map { cs =>
      unpivotCounters(widthAggregate(df, tsCol, cs, None), cs, eventSourceArn)
    }.reduce(_.union(_))
  }

  /** `cs` grouped by window width, the widths and each width's counters in
    * `cs`'s order.
    */
  private[graft] def byWidth(cs: Seq[CounterDef]): Seq[Seq[CounterDef]] =
    cs.map(_.windowDuration).distinct.map(w => cs.filter(_.windowDuration == w))

  /** The counters `cs` of one window width as ONE aggregation grouped by
    * window (and `shard_id`, the shard column as a string, when the input
    * is sharded), with column `__agg_<i>` for `cs(i)`: its partial state
    * ([[partialAgg]]) for a two-phase counter over a sharded input, its
    * finished value ([[aggExpr]]) otherwise. Its rows grow with windows ×
    * shards, not with input rows. The batch and streaming engines and
    * both [[fanOut]]s build their aggregations here.
    */
  private[graft] def widthAggregate(df: DataFrame, tsCol: String, cs: Seq[CounterDef],
                                    shardCol: Option[String]): DataFrame = {
    val aggs = cs.zipWithIndex.map { case (c, i) =>
      val agg = if (twoPhase(c, shardCol.isDefined)) partialAgg(df, c) else aggExpr(df, c)
      agg.as(s"__agg_$i")
    }
    val keys = window(col(tsCol), cs.head.windowDuration) +:
      shardCol.map(s => col(s).cast("string").as("shard_id")).toSeq
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Each of `cs`'s rows of `agg`, a [[widthAggregate]] over `cs` or a
    * micro-batch of one, as `graft.Engine.pipeline` emits them before jq:
    * `cs(i)` reads column `__agg_<i>`, so counters that share an id keep
    * their own rows. A two-phase counter's partials merge across shards
    * ([[mergePartials]]); a per-shard counter keeps `shard_id`.
    */
  private[graft] def counterRows(agg: DataFrame, cs: Seq[CounterDef], sharded: Boolean,
                                 arn: Option[String]): Seq[DataFrame] =
    cs.zipWithIndex.map { case (c, i) =>
      val v = col(s"__agg_$i")
      if (twoPhase(c, sharded))
        finalizeOutput(mergePartials(agg.withColumn(Summaries(c.counterType).partial, v), c), c, arn)
      else finalizeOutput(agg.withColumn("value", v), c, arn, includeShard = sharded)
    }

  private def twoPhase(c: CounterDef, sharded: Boolean): Boolean =
    sharded && c.aggregateStreamArn.isDefined

  /** Unpivot one wide aggregated row (window, __agg_0, …, __agg_<N-1>) into
    * N output records via a single generator — the one-frame output of the
    * batch and streaming [[fanOut]]s. Column `__agg_<i>` holds counter
    * `cs(i)`'s value: named by position, since a counter id may contain a
    * dot, which `col` would read as a struct field.
    */
  private[graft] def unpivotCounters(agged: DataFrame, cs: Seq[CounterDef],
                                     eventSourceArn: Option[String]): DataFrame = {
    val recs = explode(array(cs.zipWithIndex.map { case (c, i) => struct(
      lit(c.id).as("counter_id"),
      lit(c.counterType.name).as("counter_type"),
      col(s"__agg_$i").cast("long").as("value")) }: _*))
    val base = Seq(
      unix_millis(col("window.start")).as("window_start"),
      unix_millis(col("window.end")).as("window_end"),
      col("r.counter_id").as("counter_id"),
      col("r.counter_type").as("counter_type"),
      col("r.value").as("value"))
    val cols = eventSourceArn match {
      case Some(arn) => lit(arn).as("event_source_arn") +: base
      case None => base
    }
    agged.select(col("window"), recs.as("r")).select(cols: _*)
  }
}
