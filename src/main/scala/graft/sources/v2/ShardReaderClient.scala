package graft.sources.v2

import java.io.File
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

/** One decoded wire record — the Kinesis `Record` surface the reference's
  * handler consumes (`counter.go:167-176`): partition key, sequence
  * number, approximate arrival time, payload bytes.
  *
  * `corrupt = true` marks a transport line that failed decoding under
  * permissive mode: `data` then carries the RAW line bytes and every
  * other field is null, feeding the engine's corrupt-record side channel
  * (O4) downstream. A real SDK transport never produces corrupt records —
  * the service hands back structured data — so SDK impls simply never set
  * it.
  */
final case class WireRecord(partitionKey: String, sequenceNumber: String,
                            arrivalMillis: java.lang.Long, data: Array[Byte],
                            corrupt: Boolean = false)

/** A `GetRecords` pager over one shard: records in order, `null` at the
  * shard's CURRENT end (more may land later; the caller bounds itself by
  * offset range, not by EOF).
  */
trait RecordIterator extends AutoCloseable {
  def nextRecord(): WireRecord
}

/** Column-pruning hints forwarded into the transport: which wire fields
  * the pruned read schema will actually consume, so a transport that pays
  * per-field decode cost (JSON lookup + base64 here; nothing on an SDK)
  * can skip the rest. Fields a hint turns off come back null.
  */
final case class ReadHints(needPk: Boolean, needSeq: Boolean,
                           needTs: Boolean, needData: Boolean)

/** The AWS SDK seam of the `graft-shards` connector — the three calls the
  * reference's poll loop makes against Kinesis (`run.go:70-131`:
  * `ListShards`, `GetShardIterator`, `GetRecords`), shaped so the
  * file-backed log transport and a real SDK client are interchangeable.
  * Everything above this trait — offset bookkeeping, micro-batch
  * planning, KPL deaggregation, column pruning, permissive corrupt rows —
  * is transport-independent connector logic (contract-tested against a
  * mock client in `ShardSourceSpec`).
  *
  * Positions are monotone per-shard record indices (the file transport's
  * terminated-line counts). An SDK impl maps its opaque shard-iterator /
  * sequence-number tokens to these dense indices in its own checkpoint
  * state; the connector only ever asks for "records from index N" and
  * "the current end index".
  *
  * Implementations must be [[Serializable]]: the client rides inside the
  * `PartitionReaderFactory` to executors, so it should hold only cheap
  * config (paths, endpoints, credentials providers), never live
  * connections — open those lazily per [[records]] call.
  */
trait ShardReaderClient extends Serializable {
  /** `ListShards`: ids of the currently visible shards, sorted. */
  def listShards(): Seq[String]

  /** The shard's current end position — how many records exist now.
    * (`GetShardIterator(LATEST)` distance from `TRIM_HORIZON`.)
    */
  def latestPosition(shardId: String): Long

  /** `GetShardIterator(AT position = from)` + `GetRecords` pager, with
    * the pruned schema's [[ReadHints]] (a count-style query skips all
    * per-record decode work in the file transport).
    */
  def records(shardId: String, from: Long, hints: ReadHints): RecordIterator
}

/** File-backed transport: shard `s` is the append-only JSON-lines log
  * `<path>/<s>.jsonl` of Kinesis-wire-shaped records (what
  * [[graft.sinks.Sinks.ShardLogPutter]] writes). `permissive` mirrors the
  * connector option: a line that fails JSON/base64 decoding becomes a
  * [[WireRecord]] with `corrupt = true` instead of failing the task.
  *
  * Holds only the directory path — safe to serialize to executors.
  */
final class FileShardClient(path: String, permissive: Boolean)
    extends ShardReaderClient {

  override def listShards(): Seq[String] =
    ShardScan.listShards(path).map(_._1).toSeq

  override def latestPosition(shardId: String): Long =
    ShardScan.lineCountIncremental(fileOf(shardId))

  override def records(shardId: String, from: Long,
                       hints: ReadHints): RecordIterator =
    new FileRecordIterator(fileOf(shardId), from, hints)

  private def fileOf(shardId: String): String =
    new File(path, s"$shardId.jsonl").getAbsolutePath

  private final class FileRecordIterator(file: String, from: Long,
                                         hints: ReadHints)
      extends RecordIterator {
    private val mapper = new ObjectMapper
    // GetShardIterator(AT from): open at the warm seek mark at or below
    // `from` (byte 0 when cold) and byte-skip the rest of the prefix
    private val in = {
      val (pos, lines) = ShardScan.seekMark(file, from)
      val r = new TerminatedLineReader(file, pos)
      r.skipLines(from - lines)
      r
    }

    override def nextRecord(): WireRecord = {
      val line = in.readLine()
      if (line == null) return null
      decode(line)
    }

    private def corruptOrThrow(line: String, why: String,
                               cause: Throwable): WireRecord = {
      if (permissive)
        WireRecord(null, null, null,
          line.getBytes(StandardCharsets.UTF_8), corrupt = true)
      else {
        val e = new IllegalArgumentException(
          s"graft-shards: $why in $file: $line")
        if (cause != null) e.initCause(cause)
        throw e
      }
    }

    private def decode(line: String): WireRecord = {
      val node = try mapper.readTree(line) catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          return corruptOrThrow(line, "record line is not valid JSON", e)
      }
      // valid JSON that is not an object is just as corrupt as a parse
      // failure — surface it, never swallow it as an all-null row
      if (!node.isObject)
        return corruptOrThrow(line, "record line is not a JSON object", null)
      def strOrNull(field: String): String =
        if (node.hasNonNull(field)) node.get(field).asText() else null
      val ts: java.lang.Long =
        if (hints.needTs && node.hasNonNull("approximateArrivalTimestamp"))
          java.lang.Long.valueOf(node.get("approximateArrivalTimestamp").asLong())
        else null
      val data =
        if (hints.needData && node.hasNonNull("data"))
          try Base64.getDecoder.decode(node.get("data").asText()) catch {
            case e: IllegalArgumentException =>
              return corruptOrThrow(line, "invalid base64 data", e)
          }
        else null
      WireRecord(
        if (hints.needPk) strOrNull("partitionKey") else null,
        if (hints.needSeq) strOrNull("sequenceNumber") else null,
        ts, data)
    }

    override def close(): Unit = in.close()
  }
}
