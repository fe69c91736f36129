package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{ConfigLoader, CounterDef, VersionConstraint}

/** The reference's `IntermediateRecord` — the per-shard partial aggregate
  * shipped over the aggregate stream for the cross-shard merge phase
  * (`/root/reference/counter.go:483-512`): `{event_source_arn, shard_id,
  * counter_id, counter_type, counter_version, window{start,end},
  * counter_state}` with `counter_state` a tagged union `{row_count}` |
  * `{base64_hllpp}` (`counter.go:78-82`).
  *
  * Inside one Spark query this hop IS the shuffle between partial and final
  * `HashAggregateExec` — nothing to build. This codec exists for the
  * reference's *explicit two-job topology*: per-shard jobs serialize
  * partials as JSON records onto a stream; a separate merge job reads,
  * filters, version-checks and merges them (`counter.go:354-403`). The
  * state bytes are a DataSketches HLL sketch (mergeable, bounded), not the
  * reference's gob-encoded clarkduvall HLL++ — merging sketches produced by
  * the Go tool is a non-goal (SURVEY.md §4); estimates are the observable.
  */
object Intermediate {

  /** Pin the record-parse parallelism for the BATCH merge consumers (r13,
    * opt guide §2.5 — the d31 lesson): the records frame is
    * (windows × shards)-bounded and a few hundred KB, so AQE coalesces
    * the partial-state exchange to ONE partition — byte-blind to the
    * CPU-dense per-record work behind it (from_json of histogram/
    * hitter-list/CMS-cell payloads; measured 0.55 s single-task stages on
    * e10/e11). The key is the record string itself (deterministic,
    * retry-stable, unique per (window, shard)); REPARTITION_BY_NUM
    * survives AQE. The streaming consumer ([[graft.streaming.StreamingCounters.mergeIntermediate]])
    * deliberately does NOT take this — micro-batch parallelism is the
    * source's business (`Tables.spreadStream`).
    */
  private def spreadRecords(records: DataFrame): DataFrame = {
    val par = records.sparkSession.sparkContext.defaultParallelism
    records.repartition(par, pmod(xxhash64(col("value")), lit(par * 64)))
  }

  /** Serialize per-(window, shard) partials ([[Counters.partialState]])
    * into one JSON string column `value` per record, plus the Kinesis
    * `partition_key` (= counter id, `counter.go:530`).
    */
  def toRecords(partial: DataFrame, c: CounterDef,
                eventSourceArn: String,
                counterVersion: String = ConfigLoader.EngineVersion): DataFrame = {
    val s = Counters.summary(c)
    envelope(partial, c.id, c.counterType.name, eventSourceArn, counterVersion,
      s.state, s.encode(col(s.partial)))
  }

  /** The one record envelope (`counter.go:483-512`): `partial`'s rows as
    * intermediate-record JSON, tagged `counterId`/`counterType`, with
    * `state` as the `counter_state` union member `field`.
    */
  private def envelope(partial: DataFrame, counterId: String, counterType: String,
                       eventSourceArn: String, counterVersion: String,
                       field: String, state: Column): DataFrame =
    partial.select(
      lit(counterId).as("partition_key"),
      to_json(struct(
        lit(eventSourceArn).as("event_source_arn"),
        col("shard_id").cast("string").as("shard_id"),
        lit(counterId).as("counter_id"),
        lit(counterType).as("counter_type"),
        lit(counterVersion).as("counter_version"),
        struct(
          date_format(col("window.start"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("start"),
          date_format(col("window.end"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("end")
        ).as("window"),
        struct(state.as(field)).as("counter_state"))).as("value"))

  /** Column `state` of a `Temporal` partial, checked to be what `builder`
    * makes: an array of structs of exactly the integer `fields`. A
    * `value_quantile` or `heavy_hitters` counter's partial carries the same
    * column name with other fields (`{v, n}`, `{m: string, n}`), whose key
    * the record parse would read back as null: 0 rows, or one null-user
    * row carrying the window total.
    */
  private def temporalState(partial: DataFrame, state: String, fields: Seq[String],
                            codec: String, builder: String): Column = {
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val found = partial.schema.find(_.name == state).map(_.dataType)
    require(found.exists {
      case ArrayType(s: StructType, _) =>
        s.fieldNames.toSeq == fields && s.fields.forall(f => integral(f.dataType))
      case _ => false
    }, s"Intermediate.$codec expects `$state` as an array of integer structs " +
      s"{${fields.mkString(", ")}}, as $builder builds it; got " +
      s"${found.fold("no such column")(_.simpleString)}. A value_quantile or " +
      "heavy_hitters counter's partial has no serialized intermediate record: " +
      "run it two-phase through Counters.runTwoPhase")
    col(state)
  }

  private val recordSchema: StructType = StructType(Seq(
    StructField("event_source_arn", StringType),
    StructField("shard_id", StringType),
    StructField("counter_id", StringType),
    StructField("counter_type", StringType),
    StructField("counter_version", StringType),
    StructField("window", StructType(Seq(
      StructField("start", TimestampType),
      StructField("end", TimestampType)))),
    // counter_state is the reference's tagged union {row_count} |
    // {base64_hllpp} (counter.go:78-82) plus the engine-extension members
    // {sum_cents}, {extreme_cents} (value_sum, value_min/value_max),
    // {histogram}, {counts} and {cells} (the Temporal percentile, hitter
    // and CMS counters) — from_json leaves absent members null, which is
    // exactly the union's tag
    StructField("counter_state", StructType(Seq(
      StructField("row_count", LongType),
      StructField("base64_hll", StringType),
      StructField("sum_cents", LongType),
      StructField("extreme_cents", LongType),
      StructField("histogram", ArrayType(StructType(Seq(
        StructField("c", LongType),
        StructField("n", LongType))))),
      StructField("counts", ArrayType(StructType(Seq(
        StructField("u", LongType),
        StructField("n", LongType))))),
      StructField("cells", ArrayType(StructType(Seq(
        StructField("j", LongType),
        StructField("b", LongType),
        StructField("n", LongType))))))))))

  /** The `required_version` gate (`counter.go:366-368` → `config.go:122-138`)
    * compiled to a pure `Column` predicate — no Scala UDF, so the
    * intermediate-record parse plan stays entirely inside whole-stage
    * codegen. Semantics mirror [[VersionConstraint.check]] with its
    * throw-on-invalid treated as `false` (the reference warns and skips the
    * record): the version core is the prefix before any `-`/`+`, its first
    * three dot-parts must be numeric (missing parts default to 0, extra
    * parts are ignored — exactly `SemVer.parse`), and every clause of the
    * conjunction must hold.
    */
  def versionCheck(vc: VersionConstraint, v: Column): Column = {
    // Trailing dots: Java's String.split drops trailing empty strings, so
    // the driver parses "1.2." as 1.2.0 — strip them so Spark's split
    // (limit -1, keeps them) agrees. Degenerate dots-only strings (".",
    // "..") split to an EMPTY array in Java, which SemVer.parse reads as
    // 0.0.0 — normalize them to "0" so both engines accept them.
    // Known (strictly-safer) divergence: the driver's Integer.parseInt
    // accepts Unicode digits ("١.2.3"); this gate accepts ASCII only.
    val core0 = split(v, "[-+]", 2).getItem(0)
    val core = when(core0.rlike("^\\.+$"), lit("0"))
      .otherwise(regexp_replace(core0, "\\.+$", ""))
    val parts = split(core, "\\.")
    // try_element_at (not element_at): ANSI mode makes a short version like
    // "0.1" an out-of-bounds error rather than a null for the missing patch
    def rawPart(i: Int): Column = try_element_at(parts, lit(i + 1))
    def num(i: Int): Column =
      when(rawPart(i).isNull, lit(0)).otherwise(rawPart(i).try_cast("int"))
    // A present-but-non-numeric part makes the version unparseable (SemVer
    // .parse throws → check() is false); guard explicitly so a null from a
    // bad minor can't be masked by a short-circuiting `||` on the major.
    // Digits-only rlike: Spark's string→int cast TRIMS whitespace that
    // Scala's toIntOption rejects (" 1".toIntOption = None), so the cast
    // alone would accept versions the driver check refuses. try_cast
    // (not cast) on top: under ANSI a plain cast throws on the very
    // garbage this gate exists to reject, and it still rejects overflow.
    def numericPart(i: Int): Column =
      rawPart(i).rlike("^[0-9]+$") && rawPart(i).try_cast("int").isNotNull
    val valid = v.isNotNull && (0 to 2).map(i =>
      rawPart(i).isNull || numericPart(i)).reduce(_ && _)
    val (maj, min_, pat) = (num(0), num(1), num(2))
    def cmp(c: VersionConstraint.SemVer): (Column, Column, Column) = {
      val eq = maj === c.major && min_ === c.minor && pat === c.patch
      val gt = maj > c.major ||
        (maj === c.major && (min_ > c.minor ||
          (min_ === c.minor && pat > c.patch)))
      (eq, gt, !eq && !gt)
    }
    val clauseCols = vc.clauses.map { case (op, c) =>
      val (eq, gt, lt) = cmp(c)
      op match {
        case "="  => eq
        case "!=" => !eq
        case ">"  => gt
        case ">=" => gt || eq
        case "<"  => lt
        case "<=" => lt || eq
        case "~>" => // pessimistic: ~>1.2.3 ⇒ [1.2.3, 1.3); ~>1.2 ⇒ [1.2, 2.0)
          (gt || eq) && maj === c.major &&
            (if (c.patchSpecified) min_ === c.minor else lit(true))
      }
    }
    valid && clauseCols.reduce(_ && _)
  }

  /** Parse a stream of intermediate-record JSON strings back into the
    * partial-state shape, keeping only records addressed to counter `c`
    * (`counter.go:365-371`) whose `counter_version` satisfies
    * `requiredVersion` (`counter.go:366-368` → `config.go:122-138`).
    * Unparseable or foreign records are dropped, mirroring the reference's
    * warn-and-skip (`counter.go:356-363,387-394`).
    */
  def parse(records: DataFrame, c: CounterDef,
            requiredVersion: Option[String] = None): DataFrame = {
    val s = Counters.summary(c)
    fromRecords(records, c.id, c.counterType.name, requiredVersion,
      s.decode(col(s"r.counter_state.${s.state}")).as(s.partial))
  }

  /** The one record parser: `records`' JSON addressed to `counterId` and
    * tagged `counterType` whose version passes `requiredVersion`, as
    * (window, shard_id, `state`), an expression over the parsed record
    * `r`.
    */
  private def fromRecords(records: DataFrame, counterId: String, counterType: String,
                          requiredVersion: Option[String], state: Column): DataFrame = {
    val versionOk = requiredVersion.map(VersionConstraint(_))
      .fold(lit(true))(vc => versionCheck(vc, col("r.counter_version")))
    records
      .select(from_json(col("value"), recordSchema).as("r"))
      .where(col("r").isNotNull &&
        col("r.counter_id") === counterId &&
        col("r.counter_type") === counterType &&
        versionOk)
      .select(
        struct(col("r.window.start").as("start"), col("r.window.end").as("end")).as("window"),
        col("r.shard_id"),
        state)
  }

  /** The full aggregate-stream consumer (`counter.go:348-412`): parse +
    * filter + merge + final projection.
    */
  def mergeRecords(records: DataFrame, c: CounterDef,
                   requiredVersion: Option[String] = None,
                   eventSourceArn: Option[String] = None): DataFrame =
    Counters.finalizeOutput(
      Counters.mergePartials(parse(spreadRecords(records), c, requiredVersion), c),
      c, eventSourceArn)

  // ---- percentile counter through the same hop (ENGINE EXTENSION) ----

  /** The name the quantile counter's records carry in the `counter_type`
    * tag — the engine-extension third member of the reference's
    * count/approx_count_distinct pair.
    */
  val QuantilesTypeName = "quantiles"

  /** [[toRecords]] for the percentile counter
    * ([[graft.relational.Temporal.partialQuantileState]] partials): the
    * per-(window, shard) cents histogram serializes as the
    * `counter_state.histogram` union member — same envelope, partition
    * key, and version field as count/ACD (`counter.go:483-512`).
    */
  def toQuantileRecords(partial: DataFrame, counterId: String,
                        eventSourceArn: String,
                        counterVersion: String = ConfigLoader.EngineVersion): DataFrame =
    envelope(partial, counterId, QuantilesTypeName, eventSourceArn, counterVersion,
      "histogram", temporalState(partial, "partial_hist", Seq("c", "n"),
        "toQuantileRecords", "Temporal.partialQuantileState"))

  /** [[parse]] for quantile records: same warn-and-skip filtering
    * (id + type tag + version gate), state lands back as `partial_hist`.
    * Note: `to_json` omits null struct fields, so a null-cents entry
    * `{c: null, n: k}` round-trips as `{"n": k}` → c null — the union
    * tag convention applied one level down.
    */
  def parseQuantiles(records: DataFrame, counterId: String,
                     requiredVersion: Option[String] = None): DataFrame =
    fromRecords(records, counterId, QuantilesTypeName, requiredVersion,
      col("r.counter_state.histogram").as("partial_hist"))

  /** Full consumer for the quantile counter — parse + filter + merge +
    * quantile pick, the [[mergeRecords]] twin.
    */
  def mergeQuantileRecords(records: DataFrame, counterId: String,
                           requiredVersion: Option[String] = None,
                           psPpm: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame =
    graft.relational.Temporal.mergeQuantilePartials(
      parseQuantiles(spreadRecords(records), counterId, requiredVersion), psPpm)

  // ---- heavy-hitter counter through the same hop (ENGINE EXTENSION) ----

  /** The `counter_type` tag of the heavy-hitter counter's records — the
    * fourth union member beside count/ACD/quantiles.
    */
  val HittersTypeName = "heavy_hitters"

  /** [[toRecords]] for the heavy-hitter counter
    * ([[graft.relational.Temporal.partialHitterState]] partials): the
    * per-(window, shard) user-count table serializes as the
    * `counter_state.counts` union member — same envelope, partition key,
    * and version field as the other counter types (`counter.go:483-512`).
    */
  def toHitterRecords(partial: DataFrame, counterId: String,
                      eventSourceArn: String,
                      counterVersion: String = ConfigLoader.EngineVersion): DataFrame =
    envelope(partial, counterId, HittersTypeName, eventSourceArn, counterVersion,
      "counts", temporalState(partial, "partial_counts", Seq("u", "n"),
        "toHitterRecords", "Temporal.partialHitterState"))

  /** [[parse]] for heavy-hitter records: the same warn-and-skip filtering
    * (id + type tag + version gate); state lands back as `partial_counts`.
    */
  def parseHitters(records: DataFrame, counterId: String,
                   requiredVersion: Option[String] = None): DataFrame =
    fromRecords(records, counterId, HittersTypeName, requiredVersion,
      col("r.counter_state.counts").as("partial_counts"))

  /** Full consumer for the heavy-hitter counter — parse + filter + merge +
    * rank, the [[mergeRecords]] twin. Output matches
    * [[graft.relational.Temporal.windowHeavyHitters]] exactly.
    */
  def mergeHitterRecords(records: DataFrame, counterId: String,
                         requiredVersion: Option[String] = None,
                         k: Int = 3): DataFrame =
    graft.relational.Temporal.mergeHitterPartials(
      parseHitters(spreadRecords(records), counterId, requiredVersion), k)

  // ---- count–min sketch counter through the same hop (ENGINE EXTENSION) ----

  /** The `counter_type` tag of the CMS counter's records — the fifth
    * union member beside count/ACD/quantiles/heavy-hitters.
    */
  val CmsTypeName = "cms_counters"

  /** [[toRecords]] for the CMS counter
    * ([[graft.relational.Temporal.partialCmsState]] partials): the
    * per-(window, shard) non-zero sketch cells serialize as the
    * `counter_state.cells` union member — same envelope, partition key,
    * and version field as the other counter types (`counter.go:483-512`).
    */
  def toCmsRecords(partial: DataFrame, counterId: String,
                   eventSourceArn: String,
                   counterVersion: String = ConfigLoader.EngineVersion): DataFrame =
    envelope(partial, counterId, CmsTypeName, eventSourceArn, counterVersion,
      "cells", temporalState(partial, "partial_cells", Seq("j", "b", "n"),
        "toCmsRecords", "Temporal.partialCmsState"))

  /** [[parse]] for CMS records: the same warn-and-skip filtering
    * (id + type tag + version gate); state lands back as `partial_cells`.
    */
  def parseCms(records: DataFrame, counterId: String,
               requiredVersion: Option[String] = None): DataFrame =
    fromRecords(records, counterId, CmsTypeName, requiredVersion,
      col("r.counter_state.cells").as("partial_cells"))

  /** Full consumer for the CMS counter — parse + filter + cell-wise
    * merge, the [[mergeRecords]] twin. Output matches
    * [[graft.relational.Temporal.cmsCounters]] exactly (sketch
    * linearity), so it feeds `cmsGateFromCounters` unchanged.
    */
  def mergeCmsRecords(records: DataFrame, counterId: String,
                      requiredVersion: Option[String] = None): DataFrame =
    graft.relational.Temporal.mergeCmsPartials(
      parseCms(spreadRecords(records), counterId, requiredVersion))
}
