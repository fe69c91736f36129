package graft

import graft.config.{AppConfig, Arn, ConfigLoader, CounterDef, CounterType}
import graft.sinks.Sinks

/** CLI entry point — the engine's equivalent of the reference's
  * `cmd/kinesis-data-counter/main.go`: `-config` YAML or the flag-built
  * "instant counter" (`config.go:141-158`), `-window` capped below 15
  * minutes (`main.go:113-116`), `-put` gating real sink puts
  * (`main.go:118`), and `ENV_NAME`-style overrides for every flag
  * (`main.go:129-134`, prefix `GRAFT_` here).
  *
  * The input is any Spark-readable batch/stream path (parquet dir stands in
  * for a Kinesis stream in this environment; a Kinesis connector slots into
  * the same pipeline via `readStream`).
  *
  * {{{
  * sbt "runMain graft.Cli -input /root/testdata/sf0.001 -table events \
  *      -ts-col ts -window '1 minute' -target-column user_id \
  *      -counter-type approx_count_distinct"
  * }}}
  */
object Cli {

  final case class Options(
      config: Option[String] = None,
      input: Option[String] = None,
      table: String = "events",
      tsCol: String = "ts",
      stream: String = "local",
      window: String = "1 minute",
      put: Boolean = false,
      // per-shard topology (counter.go:423-425): group by this column and
      // emit shard_id in each output record, like the reference's
      // per-shard readers (run.go:38-48)
      shardCol: Option[String] = None,
      // instant counter flags (config.go:152-158)
      id: String = "__instant__",
      counterType: String = "count",
      targetColumn: Option[String] = Some("*"),
      targetExpr: Option[String] = None,
      // extension-type parameters (inert for count/ACD)
      quantilePpm: Long = 500000L,
      topK: Int = 3)

  /** Flag parsing with `GRAFT_<FLAG>` env fallback (the reference's
    * envToFlag). Returns Left(message) on bad usage.
    */
  def parseArgs(args: Seq[String],
                env: Map[String, String] = sys.env): Either[String, Options] = {
    def envFor(flag: String): Option[String] =
      env.get("GRAFT_" + flag.toUpperCase.replace("-", "_"))
    var o = Options(
      config = envFor("config"),
      input = envFor("input"),
      table = envFor("table").getOrElse("events"),
      tsCol = envFor("ts-col").getOrElse("ts"),
      window = envFor("window").getOrElse("1 minute"),
      put = envFor("put").contains("true"),
      shardCol = envFor("shard-col"))
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case f :: v :: t if f.startsWith("-") && !v.startsWith("-") =>
        f.dropWhile(_ == '-') match {
          case "config" => o = o.copy(config = Some(v))
          case "input" => o = o.copy(input = Some(v))
          case "table" => o = o.copy(table = v)
          case "ts-col" => o = o.copy(tsCol = v)
          case "shard-col" => o = o.copy(shardCol = Some(v))
          case "stream" => o = o.copy(stream = v)
          case "window" => o = o.copy(window = v)
          case "id" => o = o.copy(id = v)
          case "counter-type" => o = o.copy(counterType = v)
          case "target-column" => o = o.copy(targetColumn = Some(v))
          case "target-expr" => o = o.copy(targetExpr = Some(v), targetColumn = None)
          case "quantile-ppm" => v.toLongOption match {
            case Some(q) => o = o.copy(quantilePpm = q)
            case None => return Left(s"quantile-ppm must be an integer: $v")
          }
          case "top-k" => v.toIntOption match {
            case Some(k) => o = o.copy(topK = k)
            case None => return Left(s"top-k must be an integer: $v")
          }
          case other => return Left(s"unknown flag: -$other")
        }
        rest = t
      case "-put" :: t => o = o.copy(put = true); rest = t
      case f :: _ => return Left(s"malformed arguments at '$f'")
      case Nil => () // unreachable (loop guard) — keeps the match total
    }
    // window cap (<15m, main.go:113-116)
    val minutes = parseWindowMinutes(o.window)
    if (minutes.exists(_ >= 15)) Left("window size over 15m")
    else if (minutes.isEmpty) Left(s"window parse failed: ${o.window}")
    else if (o.input.isEmpty) Left("input is required")
    else Right(o)
  }

  /** Accepts Spark interval ("1 minute") and Go-duration ("1m", "90s" —
    * the reference's `-window` syntax) forms; returns minutes.
    */
  private def parseWindowMinutes(w: String): Option[Double] = {
    val spark = """(\d+(?:\.\d+)?)\s*(second|minute|hour)s?""".r
    val go = """(\d+(?:\.\d+)?)(s|m|h)""".r
    w.trim match {
      case spark(n, unit) =>
        Some(unit match {
          case "second" => n.toDouble / 60
          case "minute" => n.toDouble
          case "hour" => n.toDouble * 60
        })
      case go(n, unit) =>
        Some(unit match {
          case "s" => n.toDouble / 60
          case "m" => n.toDouble
          case "h" => n.toDouble * 60
        })
      case _ => None
    }
  }

  /** Go-duration → Spark interval string (identity for interval forms). */
  private[graft] def toSparkInterval(w: String): String = {
    val go = """(\d+(?:\.\d+)?)(s|m|h)""".r
    w.trim match {
      case go(n, "s") => s"$n seconds"
      case go(n, "m") => s"$n minutes"
      case go(n, "h") => s"$n hours"
      case other => other
    }
  }

  /** Resolve config: file, or the instant counter (config.go:141-150). */
  def resolveConfig(o: Options): Either[String, AppConfig] = o.config match {
    case Some(path) => ConfigLoader.loadFile(path)
    case None =>
      CounterType.fromName(o.counterType).flatMap { ct =>
        AppConfig(None, Seq(CounterDef(
          id = o.id, counterType = ct,
          targetColumn = o.targetColumn, targetExpr = o.targetExpr,
          windowDuration = toSparkInterval(o.window),
          quantilePpm = o.quantilePpm, topK = o.topK))).validate()
      }
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq) match {
      case Left(err) => System.err.println(s"[error] $err"); sys.exit(1)
      case Right(o) => o
    }
    val cfg = resolveConfig(opts) match {
      case Left(err) => System.err.println(s"[error] $err"); sys.exit(1)
      case Right(c) => c
    }
    val spark = Session()
    try {
      val df =
        if (opts.table == "events") Tables.events(spark, opts.input.get)
        else Tables.load(spark, opts.input.get, opts.table)
      val source = Arn.unsafe(
        s"arn:aws:kinesis:local:000000000000:stream/${opts.stream}")
      // No AWS SDK in this build: with or without `-put`, ARN-addressed
      // output falls back to the stdout line writer (the reference's
      // ignore-put path, counter.go:520-523). A deployment passes real
      // kinesis/firehose RecordPutters to Engine.run directly.
      Engine.run(df, opts.tsCol, cfg, source, Sinks.StdoutPutter, opts.shardCol)
    } finally spark.stop()
  }
}
