package graft.config

/** Counter configuration model — the reference's YAML config
  * (`/root/reference/config.go:25-38`) re-expressed as Scala case classes.
  * A `CounterDef` is the whole "query plan" of the reference engine; here it
  * compiles to a declarative DataFrame pipeline (graft.operators.Counters)
  * so Catalyst owns optimization.
  */
sealed abstract class CounterType(val name: String)
object CounterType {
  case object Count extends CounterType("count")
  case object ApproxCountDistinct extends CounterType("approx_count_distinct")

  /** ENGINE EXTENSIONS beyond the reference's two-member enum
    * (`countertype.go:8-11`): the exact per-window quantile of the target
    * value (latency percentiles beside request counts) and the per-window
    * top-k member ranking — both configured exactly like count/ACD and
    * run through the same single-phase / per-shard / two-phase
    * topologies. A reference config never names these, so its semantics
    * are untouched.
    */
  case object ValueQuantile extends CounterType("value_quantile")
  case object HeavyHitters extends CounterType("heavy_hitters")

  /** Third ENGINE EXTENSION: per-window SUM of the target value in
    * integer cents (`floor(value*100)` — the repo-wide exact-money
    * discipline), the one basic aggregate users most often miss in the
    * reference (revenue per window beside request counts). Its partial
    * state is a single long — the simplest mergeable state of all — so
    * it rides every topology count does, including the serialized
    * intermediate-record hop.
    */
  case object ValueSum extends CounterType("value_sum")

  /** Fourth/fifth ENGINE EXTENSION: per-window MIN / MAX of the target
    * value in integer cents (the same `floor(value*100)` discipline as
    * [[ValueSum]]) — the latency-floor/spike read beside the sum.
    * Partial state is one long, mergeable by min/max, so both ride every
    * topology value_sum does. Unlike the sum (whose empty-group identity
    * is 0), extremes have no identity: a window with no numeric values
    * emits NULL.
    */
  case object ValueMin extends CounterType("value_min")
  case object ValueMax extends CounterType("value_max")

  val values: Seq[CounterType] =
    Seq(Count, ApproxCountDistinct, ValueQuantile, HeavyHitters, ValueSum,
      ValueMin, ValueMax)
  def fromName(s: String): Either[String, CounterType] =
    values.find(_.name == s).toRight(s"unknown counter type: $s")
}

/** One counter (`config.go:25-38`).
  *
  * @param id            counter id; becomes `counter_id` in the output
  * @param counterType   count | approx_count_distinct | value_sum |
  *                      value_min | value_max | value_quantile |
  *                      heavy_hitters
  * @param targetColumn  top-level field to count; `"*"` counts every record
  *                      (count only; illegal for ACD, `config.go:106-108`)
  * @param targetExpr    alternative: expression in the target_expr dialect
  * @param inputStreamArn  wildcard ARN pattern routing events to this counter
  * @param outputArn     concrete sink ARN (`config.go:81-86`); informational
  *                      in batch mode
  * @param aggregateStreamArn  if set, run the explicit two-phase (per-shard
  *                      partial → cross-shard merge) topology (O10/O11)
  * @param windowDuration  tumbling window width, Spark interval string
  * @param jqExpr        optional output-record transform (O14), object-
  *                      construction jq subset
  * @param siphashKeyHex per-counter hash key (`config.go:33`), honored
  *                      END-TO-END by the ACD paths: both the single-phase
  *                      aggregate (`Counters.acdAgg`) and the two-phase
  *                      partial sketch (`Counters.partialState`) sketch
  *                      `SipHash-2-4(keyHex, canonical JSON)` — the
  *                      reference's exact sketched domain
  *                      (`counter.go:314-319`, `593-601`). Backed by the
  *                      codegen'd `siphash64` Catalyst expression
  *                      (paper-vector-verified, `SipHashSpec`); changing
  *                      the key changes the sketched domain, as it does in
  *                      the reference. Sketch BYTES still differ from the
  *                      reference's HLL++ state — only estimates are
  *                      observable in its output (SURVEY.md §4).
  */
final case class CounterDef(
    id: String,
    counterType: CounterType,
    targetColumn: Option[String] = None,
    targetExpr: Option[String] = None,
    inputStreamArn: Option[Arn] = None,
    outputArn: Option[Arn] = None,
    aggregateStreamArn: Option[Arn] = None,
    windowDuration: String = "1 hour",
    jqExpr: Option[String] = None,
    siphashKeyHex: String = CounterDef.DefaultSipHashKeyHex,
    quantilePpm: Long = 500000L,
    topK: Int = 3) {

  /** Mirror of the reference's validation (`config.go:77-120`). */
  def validate: Either[String, CounterDef] = {
    if (id.isEmpty) Left("counter id is required")
    else if (targetColumn.isEmpty && targetExpr.isEmpty)
      Left(s"counter $id: target_column or target_expr is required")
    // '*' (every record) is a count: the reference forbids it for ACD
    // (config.go:106-108), and the extension types need a real value or
    // member to operate on
    else if (targetColumn.contains("*") && counterType != CounterType.Count)
      Left(s"counter $id: target_column '*' is not allowed for ${counterType.name}")
    else if (outputArn.exists(!_.isConcrete))
      Left(s"counter $id: output ARN must be concrete")
    else if (aggregateStreamArn.exists(!_.isConcrete))
      Left(s"counter $id: aggregate stream ARN must be concrete")
    else if (aggregateStreamArn.exists(_.service != "kinesis"))
      Left(s"counter $id: aggregate stream must be a kinesis stream")
    // extension-type parameters must be in range
    else if (counterType == CounterType.ValueQuantile &&
      (quantilePpm <= 0L || quantilePpm > 1000000L))
      Left(s"counter $id: quantile_ppm must be in (0, 1000000]")
    else if (counterType == CounterType.HeavyHitters && topK < 1)
      Left(s"counter $id: top_k must be >= 1")
    else Right(this)
  }

  /** ARN routing (O16): does this counter apply to `eventSource`?
    * `refCompat` selects the reference-exact unanchored matcher.
    */
  def matchesSource(eventSource: Arn, refCompat: Boolean = false): Boolean =
    inputStreamArn.forall(_.matches(eventSource, refCompat))
}

object CounterDef {
  /** Default SipHash key (`/root/reference/config.go:73-75`). */
  val DefaultSipHashKeyHex = "0ad102230405360708090a0b0c0d0e0f"

  /** The CLI "instant counter" (`config.go:141-150`): id `__instant__`,
    * type count, column `*`.
    */
  def instant(window: String = "1 minute"): CounterDef =
    CounterDef(id = "__instant__", counterType = CounterType.Count,
      targetColumn = Some("*"), windowDuration = window)
}
