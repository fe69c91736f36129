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
  * (an errgroup, `counter.go:172-198`). [[run]] does the same: the
  * counters that share a window width run as one aggregation, as the
  * streaming engine's one query per width does
  * (`graft.streaming.StreamingEngine.run`), and each counter's sink job
  * is submitted from its own driver thread
  * ([[graft.sinks.Sinks.writeAll]]: fail-fast, siblings cancelled). What
  * `run` persists, on disk, it unpersists before returning; nothing is
  * cached across calls.
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
    withJq(base, c)
  }

  private def withJq(rows: DataFrame, c: CounterDef): DataFrame =
    c.jqExpr.fold(rows)(JqTransform(rows, _))

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
    * reference's handler → putStateRecord chain, with the same records.
    * Sink jobs run concurrently; counters whose records go to stdout drain
    * one after another in config order, so their lines never interleave.
    *
    * The routed counters of [[Counters.fansOut]] types that share a window
    * width run as ONE aggregation ([[Counters.widthAggregate]]), persisted
    * on disk and read by each of their sink jobs; the others run their own
    * [[pipeline]]. The input is persisted on disk too when two or more of
    * these plans read it, it is not yet persisted, and it does more than
    * read parquet files ([[readsParquetFiles]]: there each plan's own read
    * prunes to its columns and takes its filters, where a cache would hold
    * every column). Nothing is kept in memory: cached blocks there would
    * take storage memory that execution cannot evict, and aggregations
    * over an input larger than memory then fail where re-reading the input
    * succeeds. Everything persisted is unpersisted before `run` returns.
    */
  def run(df: DataFrame, tsCol: String, config: AppConfig, eventSource: Arn,
          putter: Sinks.RecordPutter,
          shardCol: Option[String] = None): Unit = {
    val arn = Some(eventSource.toString)
    val routed = config.counters.filter(_.matchesSource(eventSource, config.arnMatchCompat))
    val widths = Counters.byWidth(routed.filter(Counters.fansOut))
    val aggregates = widths.map(Counters.widthAggregate(df, tsCol, _, shardCol))
    // each width's rows in its counters' order, which is routed order
    val rows = widths.zip(aggregates).map { case (cs, agg) =>
      cs.head.windowDuration -> Counters.counterRows(agg, cs, shardCol.isDefined, arn).iterator
    }.toMap
    val outs = routed.map { c =>
      c -> (if (Counters.fansOut(c)) withJq(rows(c.windowDuration).next(), c)
      else pipeline(df, tsCol, c, shardCol, arn))
    }
    val plans = widths.size + routed.count(!Counters.fansOut(_))
    val sharedInput = plans >= 2 && df.storageLevel == StorageLevel.NONE &&
      !readsParquetFiles(df.queryExecution.analyzed)
    // the input first: an aggregate persisted after it plans its read from
    // the input's copy
    if (sharedInput) df.persist(StorageLevel.DISK_ONLY)
    aggregates.foreach(_.persist(StorageLevel.DISK_ONLY))
    try Sinks.writeAll(outs, putter)
    finally {
      // the aggregates first: unpersisting the input re-plans what still
      // caches a plan over it
      aggregates.foreach(_.unpersist())
      if (sharedInput) df.unpersist()
    }
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
