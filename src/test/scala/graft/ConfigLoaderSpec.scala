package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{AppConfig, ConfigLoader, CounterType, VersionConstraint}

/** Config loading mirrors the reference's YAML+env contract
  * (`/root/reference/config.go:46-52` via kayac/go-config LoadWithEnv) and
  * its `Restrict()` validation (`config.go:52-120`).
  */
class ConfigLoaderSpec extends AnyFunSuite {

  private val yaml =
    """required_version: ">=0.1.0"
      |counters:
      |  - id: user_count
      |    input_stream_arn: "arn:aws:kinesis:*:*:stream/*"
      |    output_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/out"
      |    target_column: user_id
      |    counter_type: approx_count_distinct
      |  - id: req_count
      |    input_stream_arn: "arn:aws:kinesis:ap-northeast-1:111122223333:stream/in"
      |    target_column: "*"
      |    counter_type: count
      |    jq_expr: '{"time": .window_start, "value": .value}'
      |""".stripMargin

  test("extreme counter types are YAML citizens") {
    val cfg = ConfigLoader.fromYaml(
      """counters:
        |  - id: value_floor
        |    target_column: value
        |    counter_type: value_min
        |  - id: value_spike
        |    target_column: value
        |    counter_type: value_max
        |""".stripMargin).fold(e => fail(e), identity)
    assert(cfg.counters.map(_.counterType) ==
      Seq(CounterType.ValueMin, CounterType.ValueMax))
    // '*' rejected for extremes at validation, like value_sum
    assert(ConfigLoader.fromYaml(
      """counters:
        |  - id: bad
        |    target_column: "*"
        |    counter_type: value_min
        |""".stripMargin).isLeft)
  }

  test("parses the reference config shape (config.go:17-38)") {
    val cfg = ConfigLoader.fromYaml(yaml).fold(e => fail(e), identity)
    assert(cfg.requiredVersion.contains(">=0.1.0"))
    assert(cfg.counters.map(_.id) == Seq("user_count", "req_count"))
    assert(cfg.counters.head.counterType == CounterType.ApproxCountDistinct)
    assert(cfg.counters.head.inputStreamArn.get.resource == "stream/*")
    assert(cfg.counters(1).jqExpr.isDefined)
  }

  test("extension counter types parse from YAML with their parameters") {
    val cfg = ConfigLoader.fromYaml(
      """counters:
        |  - id: lat_p99
        |    counter_type: value_quantile
        |    target_column: value
        |    quantile_ppm: 990000
        |  - id: top5
        |    counter_type: heavy_hitters
        |    target_column: user_id
        |    top_k: 5
        |""".stripMargin).fold(e => fail(e), identity)
    assert(cfg.counters.head.counterType == CounterType.ValueQuantile)
    assert(cfg.counters.head.quantilePpm == 990000L)
    assert(cfg.counters(1).counterType == CounterType.HeavyHitters)
    assert(cfg.counters(1).topK == 5)
    // out-of-range / non-numeric parameters fail at load, like the
    // reference's validation step
    assert(ConfigLoader.fromYaml(
      "counters:\n  - id: q\n    counter_type: value_quantile\n" +
        "    target_column: v\n    quantile_ppm: 2000000\n").isLeft)
    assert(ConfigLoader.fromYaml(
      "counters:\n  - id: q\n    counter_type: value_quantile\n" +
        "    target_column: v\n    quantile_ppm: soon\n").isLeft)
  }

  test("counter_type defaults to count (Go zero value)") {
    val cfg = ConfigLoader.fromYaml(
      "counters:\n  - id: x\n    target_column: \"*\"\n").fold(e => fail(e), identity)
    assert(cfg.counters.head.counterType == CounterType.Count)
  }

  test("env templating: env with default, must_env failure (LoadWithEnv)") {
    val y = """counters:
              |  - id: '{{ env "GRAFT_ID" "fallback" }}'
              |    target_column: "*"
              |""".stripMargin
    val a = ConfigLoader.fromYaml(y, env = Map("GRAFT_ID" -> "from_env")).toOption.get
    assert(a.counters.head.id == "from_env")
    val b = ConfigLoader.fromYaml(y, env = Map.empty).toOption.get
    assert(b.counters.head.id == "fallback")
    val must = """counters:
                 |  - id: '{{ must_env "GRAFT_MISSING_VAR" }}'
                 |    target_column: "*"
                 |""".stripMargin
    assert(ConfigLoader.fromYaml(must, env = Map.empty).isLeft)
  }

  test("validation failures mirror config.go:77-120") {
    assert(ConfigLoader.fromYaml("counters: []").isLeft) // must configure any counter
    assert(ConfigLoader.fromYaml(
      "counters:\n  - id: x\n").isLeft) // target required
    assert(ConfigLoader.fromYaml(
      "counters:\n  - id: x\n    target_column: \"*\"\n    counter_type: approx_count_distinct\n").isLeft)
    assert(ConfigLoader.fromYaml(
      "counters:\n  - id: x\n    target_column: y\n    counter_type: bogus\n").isLeft)
    // wildcard output ARN must be concrete (config.go:81-86)
    assert(ConfigLoader.fromYaml(
      """counters:
        |  - id: x
        |    target_column: "*"
        |    output_stream_arn: "arn:aws:kinesis:*:*:stream/out"
        |""".stripMargin).isLeft)
    // aggregate stream must be kinesis (config.go:87-89)
    assert(ConfigLoader.fromYaml(
      """counters:
        |  - id: x
        |    target_column: "*"
        |    aggregate_stream_arn: "arn:aws:firehose:ap-northeast-1:1:deliverystream/agg"
        |""".stripMargin).isLeft)
  }

  test("target_column '*' is a count: every other type is rejected by one rule") {
    def load(t: CounterType) = ConfigLoader.fromYaml(
      s"""counters:
         |  - id: star
         |    target_column: "*"
         |    counter_type: ${t.name}
         |""".stripMargin)
    assert(CounterType.values.size == 7)
    for (t <- CounterType.values) {
      if (t == CounterType.Count)
        assert(load(t).map(_.counters.map(_.counterType)) == Right(Seq(CounterType.Count)))
      else
        assert(load(t) == Left(s"counter star: target_column '*' is not allowed for ${t.name}"))
    }
  }

  test("required_version gate (config.go:54-61,122-138)") {
    def withVersion(rv: String): Either[String, AppConfig] =
      ConfigLoader.fromYaml(
        s"""required_version: "$rv"
           |counters:
           |  - id: x
           |    target_column: "*"
           |""".stripMargin)
    assert(withVersion(">=0.1.0").isRight)
    assert(withVersion(">=0.1.0, <1.0.0").isRight)
    assert(withVersion(">1.0.0").isLeft)
    assert(withVersion("not a version").isLeft)
  }

  test("version constraint operators") {
    assert(VersionConstraint(">=0.1.0").check("0.1.0"))
    assert(VersionConstraint(">0.1.0").check("0.1.1"))
    assert(!VersionConstraint(">0.1.0").check("0.1.0"))
    assert(VersionConstraint("~>1.2.3").check("1.2.9"))
    assert(!VersionConstraint("~>1.2.3").check("1.3.0"))
    assert(VersionConstraint("~>1.2").check("1.9.0"))
    assert(!VersionConstraint("~>1.2").check("2.0.0"))
    assert(VersionConstraint("!=1.0.0").check("1.0.1"))
    assert(VersionConstraint(">=0.1.0, <0.2.0").check("0.1.5"))
    assert(!VersionConstraint(">=0.1.0, <0.2.0").check("0.2.0"))
  }
}
