package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.Engine
import graft.config.{AppConfig, Arn}
import graft.operators.{Counters, JqTransform}
import graft.sources.Deaggregate
import graft.sources.v2.{FileShardClient, ReadHints}
import graft.streaming.StreamingCounters

/** Per-layer timings taken from outside the engine: each layer's public
  * function is drained on its own over a workload's shard logs. Source
  * layers subtract the drain of the layer below; operators read their
  * input from memory. Each drain runs [[Reps]] times and reports the
  * median.
  */
object Layers {
  val Reps = 2

  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(name: String)(df: => DataFrame): Double =
    Stats.median((1 to Reps).map { _ =>
      Trace.span(name) {
        val t0 = System.nanoTime()
        drain(df)
        (System.nanoTime() - t0) / 1e9
      }
    })

  def measure(spark: SparkSession, dir: String, cfg: AppConfig,
              source: Arn): Map[String, (Double, String)] = {
    val raw = spark.read.format("graft-shards").load(dir)
    val scan = timed("sources.scan")(raw)
    val deagg = timed("sources.deaggregate")(Deaggregate.explodeRecords(raw, "data"))
    val ok = StreamingCounters.parsedOk(
      StreamingCounters.parsePackedRecords(raw, Workloads.Schema, "data"))
    val parse = timed("streaming.parse")(ok)
    val wire = raw.count()
    val user = Deaggregate.explodeRecords(raw, "data").count()

    // The operators read the parsed records from memory, so their drains
    // time the operators alone: subtracting a parse drain would not work,
    // as each counter's plan prunes the JSON fields it does not read.
    val parsedInMemory = ok.persist(StorageLevel.MEMORY_ONLY)
    parsedInMemory.count()
    val byId = cfg.counters.filter(_.matchesSource(source, cfg.arnMatchCompat))
      .map(c => c.id -> c).toMap
    val arn = Some(source.toString)
    val clicks = byId(Check.Clicks)
    val count = timed("operators.count")(
      Counters.runPerShard(parsedInMemory, "ts", "shard_id", clicks, arn))
    val acd = timed("operators.acd")(
      Counters.runPerShard(parsedInMemory, "ts", "shard_id", byId(Check.Users), arn))
    val twoPhase = timed("operators.two_phase")(
      Counters.runTwoPhase(parsedInMemory, "ts", "shard_id", byId(Check.Total), arn))
    val base = Counters.runPerShard(parsedInMemory, "ts", "shard_id", clicks, arn)
    val jqCompile = Stats.median((1 to 5).map { _ =>
      Trace.span("operators.jq_compile") {
        val t0 = System.nanoTime()
        JqTransform(base, clicks.jqExpr.get)
        (System.nanoTime() - t0) / 1e6
      }
    })
    // jq runs on the aggregated records; time it over them in memory
    val aggregated = base.persist(StorageLevel.MEMORY_ONLY)
    aggregated.count()
    val jq = timed("operators.jq")(JqTransform(aggregated, clicks.jqExpr.get))
    aggregated.unpersist(blocking = true)
    parsedInMemory.unpersist(blocking = true)
    // Catalyst phases of one whole counter pipeline, as Engine.run plans it
    val pipeline = Engine.pipeline(ok, "ts", clicks, Some("shard_id"), arn)
    pipeline.queryExecution.executedPlan
    val planMs = pipeline.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

    // GetShardIterator at the end of the longest shard, then one record
    val client = new FileShardClient(dir, false)
    val (longest, lines) = client.listShards().map(s => s -> client.latestPosition(s)).maxBy(_._2)
    val seekMs = Stats.median((1 to 3).map { _ =>
      Trace.span("sources.seek") {
        val t0 = System.nanoTime()
        val it = client.records(longest, lines - 1, ReadHints(true, true, true, true))
        try it.nextRecord() finally it.close()
        (System.nanoTime() - t0) / 1e6
      }
    })

    Map(
      "sources.scan_s" -> (scan, "s"),
      "sources.deaggregate_s" -> (deagg - scan, "s"),
      "sources.bytes" -> (new java.io.File(dir).listFiles().map(_.length).sum.toDouble, "bytes"),
      "sources.wire_records" -> (wire.toDouble, "count"),
      "sources.user_records" -> (user.toDouble, "count"),
      "sources.deagg_fanout" -> (user.toDouble / wire, "user/wire"),
      "sources.seek_ms" -> (seekMs, "ms"),
      "sources.seek_lines" -> (lines.toDouble, "count"),
      "streaming.parse_s" -> (parse - deagg, "s"),
      "operators.count_s" -> (count, "s"),
      "operators.acd_s" -> (acd, "s"),
      "operators.twophase_s" -> (twoPhase, "s"),
      "operators.jq_s" -> (jq, "s"),
      "operators.jq_compile_ms" -> (jqCompile, "ms"),
      "operators.plan_ms" -> (planMs, "ms"))
  }
}
