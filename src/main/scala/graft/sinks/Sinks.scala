package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.{Arn, CounterDef}

/** Output record sinks (reference O15, `/root/reference/counter.go:514-555`):
  * final counter rows are serialized to JSON and put to the counter's
  * `output_stream_arn`, routed by ARN service — kinesis `PutRecord`,
  * firehose `PutRecord`, or a line writer (stdout) in CLI mode — with
  * partition key = counter id (`counter.go:530`). A `-put` style gate
  * decides between really putting and dry-run printing
  * (`counter.go:520-523`).
  *
  * The service clients are behind [[RecordPutter]] so the engine carries no
  * SDK dependency: a deployment provides kinesis/firehose putters; tests use
  * [[CollectingPutter]]; the CLI uses [[StdoutPutter]]. Batch writes drain
  * per-partition on the executors (`foreachPartition` — rows never collect
  * to the driver); for streams wire [[foreachBatchSink]] into
  * `writeStream.foreachBatch`.
  */
object Sinks {

  /** One put per output record. Implementations must be serializable —
    * they are invoked on executors.
    */
  trait RecordPutter extends Serializable {
    def put(target: Arn, partitionKey: String, data: String): Unit
  }

  /** CLI writer (`counter.go:455-459,474-479`): one JSON line per record. */
  object StdoutPutter extends RecordPutter {
    def put(target: Arn, partitionKey: String, data: String): Unit =
      // scalastyle:off println
      println(data)
      // scalastyle:on println
  }

  /** Dry-run gate (the reference's `-put record` flag defaulting to off). */
  object NullPutter extends RecordPutter {
    def put(target: Arn, partitionKey: String, data: String): Unit = ()
  }

  /** Test double: accumulates puts in a static buffer (single-JVM tests).
    * Null-safe on the target: side channels (e.g. the failures stream)
    * have no output ARN.
    */
  class CollectingPutter extends RecordPutter {
    def put(target: Arn, partitionKey: String, data: String): Unit =
      CollectingPutter.add((String.valueOf(target), partitionKey, data))
  }
  object CollectingPutter {
    private val buf = new scala.collection.mutable.ArrayBuffer[(String, String, String)]
    private[Sinks] def add(r: (String, String, String)): Unit = synchronized { buf += r }
    def drain(): Seq[(String, String, String)] = synchronized {
      val out = buf.toVector; buf.clear(); out
    }
  }

  /** File-backed stream writer — the `PutRecord` face of the
    * `graft-shards` connector (`sources/v2/ShardSource.scala`): each put
    * appends one Kinesis-wire JSON line to `<dir>/shard-NNN.jsonl`,
    * routing by `md5(partitionKey)` over `nShards` like the real service
    * (`counter.go:530` puts with partition key = counter id; Kinesis
    * hashes it to pick the shard). What this putter writes, the connector
    * reads back — counter output re-enters the engine as a stream, the
    * loop the reference builds with two AWS services, file-backed here
    * with the SDK as the same one-seam slot-in.
    *
    * Single-JVM semantics (local mode / tests): appends synchronize on an
    * interned per-file lock and sequence numbers are per-shard atomics. A
    * multi-executor deployment replaces this with a service-backed putter
    * — concurrent appends to one log need a broker, which is the entire
    * reason Kinesis exists.
    */
  class ShardLogPutter(dir: String, nShards: Int = 4) extends RecordPutter {
    require(nShards > 0, s"nShards must be positive: $nShards")
    def put(target: Arn, partitionKey: String, data: String): Unit = {
      val pk = if (partitionKey == null) "" else partitionKey
      // shard routing hashes the RAW key (service behavior); only the
      // wire line gets escaped
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(pk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val shard = Math.floorMod(java.nio.ByteBuffer.wrap(md5).getLong, nShards.toLong)
      val file = java.nio.file.Paths.get(dir, f"shard-$shard%03d.jsonl")
      val seq = ShardLogPutter.nextSeq(file.toString)
      val b64 = java.util.Base64.getEncoder
        .encodeToString(data.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val line = s"""{"partitionKey":"${ShardLogPutter.jsonEscape(pk)}","sequenceNumber":"$seq",""" +
        s""""approximateArrivalTimestamp":${System.currentTimeMillis()},""" +
        s""""data":"$b64"}""" + "\n"
      val lock = file.toString.intern()
      lock.synchronized {
        java.nio.file.Files.write(file, line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      }
    }
  }
  object ShardLogPutter {
    private val seqs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
    // seeded from the existing log so a new JVM appending to an old shard
    // file continues the per-shard sequence instead of restarting at 1 —
    // Kinesis sequence numbers are unique and increasing within a shard
    private def nextSeq(file: String): Long =
      seqs.computeIfAbsent(file, f => new java.util.concurrent.atomic.AtomicLong(
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
          graft.sources.v2.ShardScan.lineCount(f)
        else 0L))
        .incrementAndGet()

    /** JSON string escaping via Jackson (the same library the connector
      * parses these lines with — one serialization authority, no
      * producer/consumer drift). An unescaped quote corrupts the record
      * for strict readers; an embedded newline would split one put into
      * two lines — one torn — desyncing the connector's offsets.
      */
    private[sinks] def jsonEscape(s: String): String =
      new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance()
        .quoteAsString(s))
  }

  /** Serialize an output frame to the reference's record JSON (one object
    * per row, field order as produced by the O13 projection).
    */
  def toJsonRecords(out: DataFrame): DataFrame =
    out.select(to_json(struct(out.columns.map(col).toSeq: _*)).as("value"))

  /** Route a finished batch to the counter's output ARN: service kinesis/
    * firehose → putter (partition key = counter id); no/blank ARN → stdout
    * lines, as in CLI mode.
    */
  def write(out: DataFrame, c: CounterDef, putter: RecordPutter): Unit = {
    val rows = toJsonRecords(out)
    serviceTarget(c) match {
      case Some(arn) =>
        val id = c.id
        rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach(r => putter.put(arn, id, r.getString(0)))
        }
      case _ =>
        // stdout is inherently driver-side; stream partitions through the
        // driver one at a time instead of materializing them all at once.
        rows.toLocalIterator().forEachRemaining(r =>
          StdoutPutter.put(null, c.id, r.getString(0)))
    }
  }

  private def serviceTarget(c: CounterDef): Option[Arn] =
    c.outputArn.filter(arn => arn.service == "kinesis" || arn.service == "firehose")

  /** Whether [[write]] sends `c`'s records to stdout: no kinesis/firehose
    * output ARN, or the putter is [[StdoutPutter]] itself.
    */
  private[graft] def writesToStdout(c: CounterDef, putter: RecordPutter): Boolean =
    serviceTarget(c).isEmpty || (putter eq StdoutPutter)

  /** `writeStream.foreachBatch(foreachBatchSink(c, putter))` — the streaming
    * sink wiring (SURVEY.md O15 ↔ Structured Streaming).
    */
  def foreachBatchSink(c: CounterDef, putter: RecordPutter): (DataFrame, Long) => Unit =
    (batch, _) => write(batch, c, putter)
}
