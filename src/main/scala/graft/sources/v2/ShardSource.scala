package graft.sources.v2

import java.io.{File, FileInputStream}
import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Deaggregate

/** `graft-shards` — a DataSource V2 connector for the reference's shard
  * scan (`run.go:70-131`: per-shard `GetShardIterator` + `GetRecords`
  * loop), re-expressed the Spark way: the STREAM is a table, each shard is
  * one `InputPartition`, and the per-shard sequential read happens inside
  * a `PartitionReader` on an executor — so a 512-shard stream scans as 512
  * parallel partition readers with no driver-side loop.
  *
  * File-backed by design: a shard is an append-only JSON-lines log
  * `<path>/<shardId>.jsonl` of Kinesis-wire-shaped records
  * (`{"partitionKey","sequenceNumber","approximateArrivalTimestamp",
  * "data"(base64)}` — the same fields `events.KinesisRecord` carries in
  * `counter.go:167-176`). The AWS SDK client is an I/O slot-in at exactly
  * one seam: [[ShardPartitionReader]]'s line iterator is what a
  * `GetRecords` pager would replace (no SDK in this sandbox).
  *
  * Spark-first behaviors the reference's loop cannot express:
  *  - **column pruning pushdown** ([[SupportsPushDownRequiredColumns]]):
  *    `SELECT shard_id, count(*)` never materializes `data` bytes;
  *  - **KPL deaggregation inside the reader** (option
  *    `deaggregate=true`): the 1→N envelope explode (`deaggregate.go:19`)
  *    happens before rows exist, so downstream operators see exactly the
  *    record stream the reference's handler sees (`counter.go:163-169`);
  *  - shard-count parallelism is the partitioning — `groupBy(shard_id)`
  *    aggregates are map-side-local until the final merge.
  */
class ShardTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-shards"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ShardTable(properties.asScala.toMap)
}

object ShardTable {
  /** The Kinesis record surface (`counter.go:167-176`), plus the shard id
    * the reference threads through its handler (`counter.go:102`).
    */
  val Schema: StructType = StructType(Seq(
    StructField("shard_id", StringType, nullable = false),
    StructField("partition_key", StringType, nullable = true),
    StructField("sequence_number", StringType, nullable = true),
    StructField("arrival_ts", TimestampType, nullable = true),
    StructField("data", BinaryType, nullable = true)))
}

final class ShardTable(properties: Map[String, String])
    extends Table with SupportsRead {
  private val path = properties.getOrElse("path",
    throw new IllegalArgumentException("graft-shards requires a path"))
  override def name(): String = s"graft-shards(`$path`)"
  override def schema(): StructType = ShardTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShardScanBuilder(path, ShardOptions(
      deaggregate = options.getBoolean("deaggregate", false),
      permissive = options.getBoolean("permissive", false)))
}

/** Reader options. `permissive`: a line that fails JSON parsing becomes a
  * row carrying the raw line as `data` (other fields null) instead of a
  * task failure — feeding the engine's corrupt-record side channel (O4)
  * the way `PERMISSIVE` `from_json` does downstream.
  */
final case class ShardOptions(deaggregate: Boolean, permissive: Boolean)

final class ShardScanBuilder(path: String, opts: ShardOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ShardTable.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ShardScan(path, opts, required)
}

final class ShardScan(path: String, opts: ShardOptions, required: StructType)
    extends Scan with Batch {
  private val client = new FileShardClient(path, opts.permissive)

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-shards path=$path deaggregate=${opts.deaggregate} " +
      s"permissive=${opts.permissive} ReadSchema: ${required.simpleString}"
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ShardMicroBatchStream(client, opts, required.fieldNames, path)

  // one partition per shard — the scan's parallelism IS the shard count
  override def planInputPartitions(): Array[InputPartition] =
    client.listShards().map { shardId =>
      ShardInputPartition(shardId, 0L, Long.MaxValue): InputPartition
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ShardReaderFactory(client, opts, required.fieldNames)
}

object ShardScan {
  def listShards(path: String): Array[(String, String)] = {
    val files = Option(new File(path).listFiles())
      .getOrElse(throw new IllegalArgumentException(s"no shard directory at $path"))
    files.filter(f => f.isFile && f.getName.endsWith(".jsonl")).sortBy(_.getName)
      .map(f => (f.getName.stripSuffix(".jsonl"), f.getAbsolutePath))
  }

  /** Non-empty TERMINATED line count of one shard log — the file-backed
    * analog of a shard's latest sequence number. Counts only lines a
    * concurrent appender has finished (see [[TerminatedLineReader]]), so
    * an offset never covers a torn record.
    */
  def lineCount(file: String): Long = scan(file, 0L, 0L)._2

  // latestOffset() runs once per trigger over EVERY shard log; a full
  // re-read makes each trigger O(total log size) — quadratic cumulative
  // work on a long-running append-only stream. Cache (clean byte position
  // → line count) per file and resume counting from the last terminated
  // line. A torn tail never advances the clean position, so it is
  // re-scanned (cheaply) until its newline lands; truncation (contract
  // violation) falls back to a full recount.
  //
  // The reader side has the same problem: every micro-batch starts at an
  // earlier latestOffset result, and skipping that prefix from byte 0
  // makes each batch O(log size) too. So each scan also leaves a seek
  // mark (lines → clean byte position) in the file's tally, at most
  // MaxMarks of them, and [[seekMark]] hands a reader the floor mark at
  // or below its start line: in a warm JVM a batch opens the file right
  // at its first record. A recount from 0 starts a fresh tally, so a
  // shrink or identity change drops the marks with the count; a reader
  // also ignores a mark past the current length or under another
  // identity. A truncate-and-regrow that no scan observed is invisible
  // to marks and counts alike. A cold executor JVM has no marks and
  // byte-skips from 0 (see [[TerminatedLineReader.skipLines]]).
  private final case class Tally(id: Object, clean: Long, lines: Long,
                                 marks: TreeMap[Long, Long])
  private val MaxMarks = 256
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Tally]

  /** The file's identity beyond its path: (dev, inode) on POSIX via
    * `fileKey`, null where unsupported. A shard log deleted and recreated
    * at the same path with equal-or-greater length would otherwise reuse
    * the stale (position, lines) cache and yield wrong offsets — a
    * contract violation the length-shrink check alone cannot see.
    */
  private def identityOf(file: String): Object =
    try java.nio.file.Files.readAttributes(
      java.nio.file.Paths.get(file),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    catch { case _: java.io.IOException => null }

  /** [[lineCount]] with incremental resume — same result (both run
    * [[scan]]), O(bytes appended since the previous call) instead of
    * O(file size). Locks per FILE (interned path, like `ShardLogPutter`),
    * never globally — one slow shard log must not serialize offset
    * computation for every other stream in the JVM.
    */
  def lineCountIncremental(file: String): Long = {
    val lock = ("graft-shardscan:" + file).intern()
    lock.synchronized {
      val len = new File(file).length()
      val id = identityOf(file)
      val cached = counts.get(file)
      // full recount on shrink (truncation) OR identity change (same-path
      // replacement) — both are append-only-contract violations to recover
      // from, never to silently extend
      val fresh = cached != null && len >= cached.clean && cached.id == id
      if (fresh && len == cached.clean) cached.lines
      else {
        val from = if (fresh) cached else Tally(id, 0L, 0L, TreeMap.empty)
        val (clean, lines) = scan(file, from.clean, from.lines)
        val marks = from.marks.updated(lines, clean)
        counts.put(file, Tally(id, clean, lines,
          if (marks.size > MaxMarks) marks.tail else marks))
        lines
      }
    }
  }

  /** Where a reader of `file` starting at record `line` can open it:
    * (byte position, lines before it) of the floor seek mark, or (0, 0)
    * when there is none or the file is no longer the one it was taken on.
    */
  def seekMark(file: String, line: Long): (Long, Long) = {
    val tally = counts.get(file)
    if (tally == null) return (0L, 0L)
    tally.marks.maxBefore(line + 1) match {
      case Some((lines, pos))
          if pos <= new File(file).length() && tally.id == identityOf(file) =>
        (pos, lines)
      case _ => (0L, 0L)
    }
  }

  /** Forgets every seek mark (counts stay), so the next reads byte-skip
    * from 0 as a cold executor JVM does.
    */
  private[graft] def dropSeekMarks(): Unit =
    counts.replaceAll((_, t) => t.copy(marks = TreeMap.empty))

  /** Byte-scan from `start` (a clean line boundary; `startLines` lines
    * precede it), returning (position just past the last terminator, line
    * count): [[TerminatedLineReader.skipLines]] to EOF. That byte loop is
    * THE one definition of "non-empty terminated line" — offsets, putter
    * sequence seeding, seek marks and the partition reader all agree
    * because they all run it.
    */
  private def scan(file: String, start: Long, startLines: Long): (Long, Long) = {
    val in = new TerminatedLineReader(file, start)
    try {
      val lines = startLines + in.skipLines(Long.MaxValue)
      (in.clean, lines)
    } finally in.close()
  }
}

/** Line reader that yields only newline-TERMINATED non-empty lines. A
  * trailing fragment with no `\n` is a record mid-append (shard logs are
  * append-only; writes are not atomic) — `BufferedReader.readLine` would
  * surface it as a complete line, making `lineCount` and the partition
  * reader disagree with the appender. Both sides share this reader so the
  * unfinished tail is invisible until its newline lands.
  *
  * Byte-level: reads 64 KB blocks, splits on `'\n'` and decodes only the
  * lines it returns (malformed UTF-8 becomes U+FFFD). A line counts iff it
  * has a byte > 0x20 — `String.trim` semantics, since UTF-8 lead and
  * continuation bytes are ≥ 0x80 — and a trailing `\r` is stripped.
  * Opens `file` at byte `start`, which must be a line boundary.
  */
private[v2] final class TerminatedLineReader(file: String, start: Long = 0L) {
  private val in = new FileInputStream(file)
  if (start > 0) {
    val ch = in.getChannel
    if (start > ch.size()) {
      in.close()
      throw new java.io.IOException(s"cannot seek $file to $start")
    }
    ch.position(start)
  }
  private var buf = new Array[Byte](TerminatedLineReader.BlockBytes)
  private var base = start   // file position of buf(0)
  private var next = 0       // first unconsumed byte of buf
  private var filled = 0     // bytes held in buf
  private var lineStart = 0  // buf index of the current line's first byte
  private var nonBlank = false // the current line has a byte > 0x20 so far
  private var cleanPos = start
  private var lastFrom = 0   // buf range of the last line passed
  private var lastUntil = 0

  /** File position just past the last terminator consumed. */
  def clean: Long = cleanPos

  /** Next non-empty terminated line, or null at (possibly torn) EOF. */
  def readLine(): String =
    if (pass(1L, keep = true) == 0L) null
    else {
      val until =
        if (lastUntil > lastFrom && buf(lastUntil - 1) == '\r') lastUntil - 1
        else lastUntil
      new String(buf, lastFrom, until - lastFrom, StandardCharsets.UTF_8)
    }

  /** Passes up to `k` non-empty terminated lines without copying or
    * decoding them; returns how many it passed (fewer only at EOF).
    */
  def skipLines(k: Long): Long = pass(k, keep = false)

  // The one byte loop. Stops just past the k-th counted line's '\n'. With
  // `keep`, the current line's bytes survive a refill (slid to the front
  // of buf, which doubles when one line fills it), so a returned line is
  // always buf[lastFrom, lastUntil).
  private def pass(k: Long, keep: Boolean): Long = {
    var passed = 0L
    while (passed < k) {
      if (next == filled && !fill(keep)) return passed
      val b = buf
      val end = filled
      var i = next
      while (i < end && passed < k) {
        val c = b(i)
        if (c == '\n') {
          if (nonBlank) {
            passed += 1
            lastFrom = lineStart
            lastUntil = i
          }
          nonBlank = false
          lineStart = i + 1
          cleanPos = base + i + 1
        } else if ((c & 0xff) > 0x20) nonBlank = true
        i += 1
      }
      next = i
    }
    passed
  }

  private def fill(keep: Boolean): Boolean = {
    if (keep) {
      val held = filled - lineStart
      if (held == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      else if (lineStart > 0) System.arraycopy(buf, lineStart, buf, 0, held)
      base += lineStart
      filled = held
    } else {
      base += filled
      filled = 0
    }
    next = filled
    lineStart = 0
    val n = in.read(buf, filled, buf.length - filled)
    if (n <= 0) false
    else { filled += n; true }
  }

  def close(): Unit = in.close()
}

private[v2] object TerminatedLineReader {
  val BlockBytes: Int = 64 * 1024
}

/** [startLine, endLine) of one shard's record positions; the batch path
  * reads [0, ∞). Carries only the shard id — the transport rides in the
  * reader factory.
  */
final case class ShardInputPartition(shardId: String,
                                     startLine: Long, endLine: Long)
    extends InputPartition

final class ShardReaderFactory(client: ShardReaderClient, opts: ShardOptions,
                               fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ShardInputPartition]
    new ShardPartitionReader(p.shardId, client, opts, fields,
      p.startLine, p.endLine)
  }
}

/** Streaming face of the shard scan — the reference's endless poll loop
  * (`run.go:83-131`) under Spark's offset protocol. An OFFSET is the map
  * `shardId → non-empty-line count` (the file-backed analog of per-shard
  * sequence numbers; a `GetRecords` pager would store its shard iterators
  * here). Each micro-batch plans one partition per shard that advanced,
  * reading exactly `[start, end)` — so the stream is replayable from the
  * checkpoint, which is the exactly-once property the reference's
  * in-memory loop cannot offer. Shards appearing mid-stream (resharding)
  * enter at offset 0.
  */
final class ShardMicroBatchStream(client: ShardReaderClient,
                                  opts: ShardOptions,
                                  fields: Array[String],
                                  source: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val mapper = new ObjectMapper

  private def offsetOf(m: Map[String, Long]): ShardOffset = {
    val sorted = new java.util.TreeMap[String, java.lang.Long]()
    m.foreach { case (k, v) => sorted.put(k, v) }
    ShardOffset(mapper.writeValueAsString(sorted))
  }
  private def parse(o: Offset): Map[String, Long] = {
    val node = mapper.readTree(o.json())
    node.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  // Monotone high-water marks: a shard that transiently vanishes from the
  // directory listing (object-store partial listing, compaction rename)
  // must NOT drop from the offset — losing the key would restart it at 0
  // next trigger and replay its records. Merged max per shard; append-only
  // logs never regress.
  private var high: Map[String, Long] = Map.empty

  override def initialOffset(): Offset = offsetOf(Map.empty)
  override def latestOffset(): Offset = synchronized {
    val seen = client.listShards().map { id =>
      id -> client.latestPosition(id)
    }.toMap
    high = (high.keySet ++ seen.keySet).map { id =>
      id -> math.max(high.getOrElse(id, 0L), seen.getOrElse(id, 0L))
    }.toMap
    offsetOf(high)
  }
  override def deserializeOffset(json: String): Offset = ShardOffset(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = parse(start)
    val present = client.listShards().toSet
    parse(end).toSeq.sortBy(_._1).flatMap { case (shardId, until) =>
      val begin = from.getOrElse(shardId, 0L)
      if (until <= begin) None
      else if (present(shardId))
        Some(ShardInputPartition(shardId, begin, until): InputPartition)
      else
        // the end offset covers [begin, until) of this shard: silently
        // skipping it would still commit to `until` and lose those
        // records forever — the same transient-listing scenario the
        // monotone high-water mark defends against. Fail the micro-batch
        // instead; the engine retries and the records survive.
        throw new IllegalStateException(
          s"shard $shardId: offset range [$begin, $until) is committed to " +
            s"this micro-batch but the shard is absent from $source — " +
            "failing the batch so it retries instead of dropping records")
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ShardReaderFactory(client, opts, fields)
}

final case class ShardOffset(jsonStr: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = jsonStr
}

/** Sequential reader over one shard — the executor-side stand-in for the
  * reference's per-shard `GetRecords` loop, now fully transport-agnostic:
  * wire records arrive decoded from [[ShardReaderClient.records]]; this
  * class owns only the connector logic — offset bounds, column pruning,
  * KPL deaggregation (envelopes expand to a queue of sub-records sharing
  * the envelope's sequence number and arrival time, exactly the expansion
  * `counter.go:163-169` applies before counting), and the corrupt-record
  * side channel.
  */
final class ShardPartitionReader(shardId: String, client: ShardReaderClient,
                                 opts: ShardOptions, fields: Array[String],
                                 startLine: Long = 0L,
                                 endLine: Long = Long.MaxValue)
    extends PartitionReader[InternalRow] {
  import ShardPartitionReader._

  private val shardUtf8 = UTF8String.fromString(shardId)
  // each output column's source, resolved once per reader
  private val kinds: Array[Int] = fields.map {
    case "shard_id" => ShardId
    case "partition_key" => PartitionKey
    case "sequence_number" => SequenceNumber
    case "arrival_ts" => ArrivalTs
    case "data" => Data
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }
  // fetch only what the pruned schema consumes — payload also when the
  // deagg explode needs it to know the row count, partition key also
  // because the deagg passthrough keeps the record's own key
  private val needPayload = opts.deaggregate || fields.contains("data")
  private val in = client.records(shardId, startLine, ReadHints(
    needPk = opts.deaggregate || fields.contains("partition_key"),
    needSeq = fields.contains("sequence_number"),
    needTs = fields.contains("arrival_ts"),
    needData = needPayload))
  private var pos = startLine // record positions consumed so far
  private var queue: List[InternalRow] = Nil
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (queue.isEmpty) {
      if (pos >= endLine) return false
      val r = in.nextRecord()
      if (r == null) return false
      queue = rows(r)
      pos += 1
    }
    current = queue.head
    queue = queue.tail
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()

  private def row(pk: String, seq: String, tsMicros: Any, data: Array[Byte]): InternalRow = {
    val values = new Array[Any](kinds.length)
    var i = 0
    while (i < kinds.length) {
      values(i) = kinds(i) match {
        case ShardId => shardUtf8
        case PartitionKey => if (pk == null) null else UTF8String.fromString(pk)
        case SequenceNumber => if (seq == null) null else UTF8String.fromString(seq)
        case ArrivalTs => tsMicros
        case Data => data
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  private def rows(r: WireRecord): List[InternalRow] = {
    // a corrupt wire record is one row with the raw bytes as `data` (other
    // fields null), so the engine's corrupt-record side channel (O4) sees
    // it downstream
    if (r.corrupt) return List(row(null, null, null, r.data))
    val tsMicros: Any =
      if (r.arrivalMillis == null) null else r.arrivalMillis.longValue() * 1000L
    if (opts.deaggregate && r.data != null)
      Deaggregate.deaggregate(r.data).iterator.map { s =>
        // non-KPL payloads pass through as the SAME array — keep the
        // record's own partition key, as the reference's handler does
        val pk = if (s.data eq r.data) r.partitionKey else s.partitionKey
        row(pk, r.sequenceNumber, tsMicros, s.data)
      }.toList
    else List(row(r.partitionKey, r.sequenceNumber, tsMicros, r.data))
  }
}

private object ShardPartitionReader {
  final val ShardId = 0
  final val PartitionKey = 1
  final val SequenceNumber = 2
  final val ArrivalTs = 3
  final val Data = 4
}
