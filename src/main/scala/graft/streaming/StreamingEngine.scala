package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.config.{AppConfig, Arn, CounterDef}
import graft.operators.{Counters, JqTransform}
import graft.sinks.Sinks

/** The composed STREAMING application — the reference's whole Lambda
  * topology (`counter.go:150-204`) as one call, the streaming twin of the
  * batch `graft.Engine.run`:
  *
  * {{{
  * raw payload stream
  *   → KPL deaggregate (O3)          StreamingCounters.parsePackedRecords
  *   → JSON parse + corrupt channel (O4)
  *   → ARN-route each configured counter (O16)
  *   → per window width: ONE query  Counters.widthAggregate
  *       tumbling window + watermark, every counter's count/ACD/sum/
  *       min/max (O8/O9/O12) as one aggregation over one state store:
  *       one row (window, __agg_0, …) per closed window
  *   → foreachBatch: per counter, its own column   Counters.counterRows
  *       → jq transform (O14) → Sinks.writeAll → RecordPutter sink (O15)
  *   [+ the corrupt-record stream → its own sink: batchItemFailures]
  * }}}
  *
  * The routed counters that share a `window_duration` run as one streaming
  * query, as the reference runs all of a stream's counters over one
  * decoded batch (`counter.go:161-204`): one source read, one parse, one
  * watermark, one aggregation, one offset log, built by the same
  * [[Counters.widthAggregate]] as the batch engine's. Each micro-batch's
  * emitted rows (one per closing window) are persisted once; a batch that
  * closes no window puts nothing. Otherwise counter `i` of the width reads
  * column `__agg_<i>` by position, gets its own `jq_expr` and goes to its
  * own sink through the same step the batch engine uses
  * ([[Sinks.writeAll]]). Like the reference's errgroup
  * (`counter.go:172-198`), a failing sink or jq transform stops the whole
  * query, so the counters of one width fail together.
  *
  * Every query's plan is built before any query starts, so a counter that
  * cannot plan (a `value_quantile` or `heavy_hitters` counter has no
  * single aggregate Column) leaves nothing running. The returned queries
  * are RUNNING; the caller owns their lifecycle (`awaitTermination`/
  * `stop`).
  */
object StreamingEngine {

  /** Route + launch every matching counter over a raw payload stream.
    * Returns (counterId → running query), the ids of one window width
    * mapping to the same query, named `"<queryNamePrefix>-<ids joined by
    * '-'>"`; plus the failures query under key `"__failures__"` when
    * `failurePutter` is set. If a query fails to start, the ones already
    * started are stopped before the error is rethrown.
    */
  def run(raw: DataFrame, schema: StructType, tsCol: String, config: AppConfig,
          eventSource: Arn, putter: Sinks.RecordPutter,
          watermarkDelay: String = "10 seconds",
          payloadCol: String = "value",
          failurePutter: Option[Sinks.RecordPutter] = None,
          queryNamePrefix: String = "graft"): Map[String, StreamingQuery] = {
    val parsed = StreamingCounters.parsePackedRecords(raw, schema, payloadCol)
    val ok = StreamingCounters.parsedOk(parsed)
    val routed = config.counters.filter(_.matchesSource(eventSource, config.arnMatchCompat))
    val arn = Some(eventSource.toString)
    val groups = Counters.byWidth(routed).map { cs =>
      val agg = Counters.widthAggregate(ok.withWatermark(tsCol, watermarkDelay), tsCol, cs, None)
      val jqs = cs.map(_.jqExpr.map(JqTransform.compile))
      // each counter's rows of the width aggregate or of one of its batches
      def rows(frame: DataFrame): Seq[DataFrame] =
        Counters.counterRows(frame, cs, sharded = false, arn).zip(jqs).map { case (r, jq) =>
          jq.fold(r)(_(r)) }
      // a jq program that does not fit the counter's rows fails here, not
      // in the first batch that closes a window
      rows(agg)
      cs -> agg.writeStream
        .queryName(s"$queryNamePrefix-${cs.map(_.id).mkString("-")}")
        .outputMode("append")
        .foreachBatch((batch: DataFrame, _: Long) => sinkBatch(batch, cs, rows, putter))
    }
    // the batchItemFailures analog (counter.go:245-248): corrupt payloads
    // flow to their own sink instead of failing the stream
    val failureWriter = failurePutter.map { fp =>
      StreamingCounters.failures(parsed).writeStream
        .queryName(s"$queryNamePrefix-failures")
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // executor-side drain, like Sinks.write — never collect
          batch.foreachPartition { it: Iterator[Row] =>
            it.foreach(r => fp.put(null, "failures", r.getString(0)))
          }
        }
    }
    val started = ArrayBuffer.empty[StreamingQuery]
    def start(w: DataStreamWriter[Row]): StreamingQuery = { val q = w.start(); started += q; q }
    try {
      val counterQueries = groups.flatMap { case (cs, w) =>
        val q = start(w)
        cs.map(_.id -> q)
      }
      (counterQueries ++ failureWriter.map(w => "__failures__" -> start(w))).toMap
    } catch {
      case NonFatal(e) =>
        started.foreach(q => try q.stop() catch { case NonFatal(s) => e.addSuppressed(s) })
        throw e
    }
  }

  /** One micro-batch of a width's query: materialize the emitted rows once,
    * then sink each counter's share unless no window closed.
    */
  private def sinkBatch(batch: DataFrame, cs: Seq[CounterDef],
                        rows: DataFrame => Seq[DataFrame],
                        putter: Sinks.RecordPutter): Unit = {
    batch.persist()
    try {
      if (batch.count() > 0) Sinks.writeAll(cs.zip(rows(batch)), putter)
    } finally batch.unpersist()
  }
}
