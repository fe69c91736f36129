package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project,
  RepartitionOperation, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.storage.StorageLevel

import graft.config.{AppConfig, Arn, CounterDef}
import graft.operators.{Counters, JqTransform}
import graft.sinks.Sinks

/** The engine facade — what the reference's `App.handler` does per event
  * batch (`/root/reference/counter.go:161-204`), re-expressed over
  * DataFrames: route every configured counter whose `input_stream_arn`
  * wildcard-matches the event source (O16, `arn.go:61-86`), run its
  * pipeline (single-phase, or explicit two-phase when an
  * `aggregate_stream_arn` is configured — O10), apply the optional
  * `jq_expr` output transform (O14), and hand each counter's output to its
  * sink (O15).
  *
  * The reference runs counters as goroutines over the same decoded batch
  * (an errgroup, `counter.go:172-198`). [[run]] does the same: it submits
  * each counter's sink job from its own driver thread
  * ([[graft.sinks.Sinks.writeAll]]: fail-fast, siblings cancelled). When
  * two or more counters route to a batch input that the caller has not
  * persisted and that does more than read parquet files, it also persists
  * the input on disk so the scan, KPL deaggregation and JSON parse run
  * once per call, and unpersists before returning. Nothing is cached
  * across calls. Counters sharing a window width could also share one
  * shuffle via [[Counters.fanOut]], which `run` does not use; the
  * streaming engine does (`graft.streaming.StreamingEngine.run`).
  */
object Engine {

  /** One counter's full pipeline: count/ACD, O13 projection, optional jq
    * transform. Topology selection mirrors the reference
    * (`counter.go:331-345`): with an `aggregate_stream_arn` the per-shard
    * partials merge cross-shard (two-phase, one record per window);
    * WITHOUT one, a sharded source emits one record per (window, shard)
    * with `shard_id` in the output — the reference's non-aggregate Lambda
    * topology, where each shard's invocation emits its own record
    * (`counter.go:423-425`).
    */
  def pipeline(df: DataFrame, tsCol: String, c: CounterDef,
               shardCol: Option[String] = None,
               eventSourceArn: Option[String] = None): DataFrame = {
    val base = (c.aggregateStreamArn, shardCol) match {
      case (Some(_), Some(shard)) => Counters.runTwoPhase(df, tsCol, shard, c, eventSourceArn)
      case (None, Some(shard)) => Counters.runPerShard(df, tsCol, shard, c, eventSourceArn)
      case _ => Counters.run(df, tsCol, c, eventSourceArn)
    }
    c.jqExpr match {
      case Some(jq) => JqTransform(base, jq)
      case None => base
    }
  }

  /** Route + run all counters of `config` against one batch.
    * Returns (counter, output) for every counter matching `eventSource`.
    * Routing honors `config.arnMatchCompat` (reference-exact unanchored
    * segment matching, `arn.go:93-107`).
    */
  def process(df: DataFrame, tsCol: String, config: AppConfig,
              eventSource: Arn,
              shardCol: Option[String] = None): Seq[(CounterDef, DataFrame)] =
    config.counters
      .filter(_.matchesSource(eventSource, config.arnMatchCompat))
      .map(c => c -> pipeline(df, tsCol, c, shardCol, Some(eventSource.toString)))

  /** [[process]] + sink each output (O15): the batch-mode equivalent of the
    * reference's handler → putStateRecord chain. Sink jobs run
    * concurrently; counters whose records go to stdout drain one after
    * another in config order, so their lines never interleave.
    *
    * With two or more routed counters, an input that is not yet persisted
    * is read once for all of them, unless it only reads parquet files
    * ([[readsParquetFiles]]): there each counter's own read prunes to its
    * columns and takes its filters, where a cache would hold every column.
    * The shared copy is kept on disk only: cached blocks in memory would
    * take storage memory that execution cannot evict, and the counters'
    * aggregations over an input larger than memory then fail where
    * re-reading the input per counter succeeds.
    */
  def run(df: DataFrame, tsCol: String, config: AppConfig, eventSource: Arn,
          putter: Sinks.RecordPutter,
          shardCol: Option[String] = None): Unit = {
    val routed = config.counters.count(_.matchesSource(eventSource, config.arnMatchCompat))
    val shared = routed >= 2 && !df.isStreaming && df.storageLevel == StorageLevel.NONE &&
      !readsParquetFiles(df.queryExecution.analyzed)
    if (shared) df.persist(StorageLevel.DISK_ONLY)
    try Sinks.writeAll(process(df, tsCol, config, eventSource, shardCol), putter)
    finally if (shared) df.unpersist()
  }

  /** Whether `plan` only reads parquet files through projections, filters
    * and repartitions: Catalyst then prunes each consumer's read to the
    * columns it uses and pushes its filters into the scan.
    */
  private[graft] def readsParquetFiles(plan: LogicalPlan): Boolean = plan match {
    case _: Project | _: Filter | _: RepartitionOperation | _: SubqueryAlias =>
      plan.children.forall(readsParquetFiles)
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.fileFormat.isInstanceOf[ParquetFileFormat]
      case _ => false
    }
    case _ => false
  }
}
