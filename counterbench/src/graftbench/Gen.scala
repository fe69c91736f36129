package graftbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Base64, SplittableRandom}

import scala.collection.mutable

/** KPL envelope encoder written independently of the engine's
  * `Deaggregate.aggregate`, so a bug shared by an encoder and a decoder
  * cannot cancel out: magic `F3 89 9A C2`, an `AggregatedRecord` protobuf
  * (field 1 = partition-key table, field 3 = records, each record
  * field 1 = key index, field 3 = data), then the MD5 of the protobuf.
  */
object Kpl {
  private val Magic = Array(0xf3, 0x89, 0x9a, 0xc2).map(_.toByte)

  private def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while (v >= 0x80) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def lengthDelimited(out: java.io.ByteArrayOutputStream, field: Int,
                              bytes: Array[Byte]): Unit = {
    out.write((field << 3) | 2)
    varint(out, bytes.length.toLong)
    out.write(bytes)
  }

  def encode(records: Seq[(String, Array[Byte])]): Array[Byte] = {
    val keys = mutable.LinkedHashMap.empty[String, Int]
    records.foreach { case (k, _) => keys.getOrElseUpdate(k, keys.size) }
    val body = new java.io.ByteArrayOutputStream()
    keys.keys.foreach(k => lengthDelimited(body, 1, k.getBytes(UTF_8)))
    records.foreach { case (k, data) =>
      val rec = new java.io.ByteArrayOutputStream()
      rec.write(1 << 3) // field 1, varint
      varint(rec, keys(k).toLong)
      lengthDelimited(rec, 3, data)
      lengthDelimited(body, 3, rec.toByteArray)
    }
    val b = body.toByteArray
    Magic ++ b ++ MessageDigest.getInstance("MD5").digest(b)
  }
}

/** Exact per-window truth of everything the generator wrote. Keys are
  * window start millis; each window keeps one cell per shard so both the
  * per-shard (batch) and the whole-stream (streaming) answers derive from
  * it.
  */
final class Truth(val windowMs: Long, val shards: Int) {
  final class Cell {
    var clicks = 0L
    var total = 0L
    val users = new mutable.HashSet[Int]
  }
  val windows = mutable.TreeMap.empty[Long, Array[Cell]]
  /** Wall millis at which the generator sent each window's last event. */
  val lastSend = mutable.HashMap.empty[Long, Long]
  var userRecords = 0L
  var corrupt = 0L
  var wireRecords = 0L
  var maxEventMs = Long.MinValue

  def windowOf(ms: Long): Long = Math.floorDiv(ms, windowMs) * windowMs

  private[graftbench] def add(shard: Int, ev: Gen.Event, sentMs: Long): Unit = {
    userRecords += 1
    if (ev.corrupt) { corrupt += 1; return }
    val w = windowOf(ev.ts)
    val cell = windows.getOrElseUpdate(w, Array.fill(shards)(new Cell))(shard)
    cell.total += 1
    if (ev.action == "click") cell.clicks += 1
    cell.users += ev.user
    lastSend(w) = math.max(lastSend.getOrElse(w, Long.MinValue), sentMs)
    maxEventMs = math.max(maxEventMs, ev.ts)
  }

  def clicks(w: Long): Long = windows(w).map(_.clicks).sum
  def total(w: Long): Long = windows(w).map(_.total).sum
  def users(w: Long): Int = windows(w).foldLeft(Set.empty[Int])(_ ++ _.users).size
}

/** Seeded workload generator. Writes Kinesis-wire JSON lines
  * (`partitionKey`, `sequenceNumber`, `approximateArrivalTimestamp`,
  * base64 `data`) into `shard-NNN.jsonl` logs, the format the
  * `graft-shards` source reads. Mix per wire record: a KPL envelope of
  * [[EnvelopeSize]] user records with probability [[KplShare]], else one
  * plain user record. Per user record: corrupt JSON with probability
  * [[CorruptShare]]; `user_id` power-law skewed over [[Users]] ids.
  */
final class Gen(seed: Long, dir: File, val truth: Truth) {
  import Gen._

  private val rng = new SplittableRandom(seed)
  private val shardFiles = (0 until truth.shards).map(i => new File(dir, f"shard-$i%03d.jsonl"))
  private val seqs = Array.fill(truth.shards)(0L)
  private val pending = Array.fill(truth.shards)(new java.io.ByteArrayOutputStream())
  dir.mkdirs()

  /** Draws one user record stamped `ts`. */
  def event(ts: Long): Event = {
    val user = (Users * math.pow(rng.nextDouble(), 3.0)).toInt
    val r = rng.nextInt(10)
    val action = if (r < 4) "click" else if (r < 9) "view" else "buy"
    Event(ts, user, action, rng.nextInt(500), rng.nextDouble() < CorruptShare)
  }

  /** Size of the next wire record in user records. */
  def nextWireSize(): Int = if (rng.nextDouble() < KplShare) EnvelopeSize else 1

  /** Out-of-order offset in [0, maxMs]. */
  def jitter(maxMs: Long): Long = if (maxMs <= 0) 0L else rng.nextLong(maxMs + 1)

  /** Queues one wire record holding `events`, sent at `sentMs`, on a
    * random shard; [[flush]] appends the queued lines.
    */
  def wire(events: Seq[Event], sentMs: Long): Unit = {
    val shard = rng.nextInt(truth.shards)
    val keys = events.map(e => s"u${e.user}")
    val payload =
      if (events.size == 1) json(events.head)
      else Kpl.encode(keys.zip(events.map(json)))
    seqs(shard) += 1
    val line = s"""{"partitionKey":"${keys.head}","sequenceNumber":"${seqs(shard)}",""" +
      s""""approximateArrivalTimestamp":$sentMs,"data":"${Base64.getEncoder.encodeToString(payload)}"}""" +
      "\n"
    pending(shard).write(line.getBytes(UTF_8))
    truth.wireRecords += 1
    events.foreach(e => truth.add(shard, e, sentMs))
  }

  /** Appends every queued line; each line lands whole, newline included. */
  def flush(): Unit = for (i <- pending.indices if pending(i).size > 0) {
    val out = new FileOutputStream(shardFiles(i), true)
    try pending(i).writeTo(out) finally out.close()
    pending(i).reset()
  }

  /** A static log of `n` user records whose stamps spread evenly over
    * `[t0, t0 + spanMs)`, each moved back by up to `oooMs`.
    */
  def writeStatic(n: Long, t0: Long, spanMs: Long, oooMs: Long): Unit = {
    var i = 0L
    while (i < n) {
      val k = math.min(nextWireSize().toLong, n - i).toInt
      val evs = (0 until k).map { j =>
        val base = t0 + (i + j) * spanMs / n
        event(math.max(t0, base - jitter(oooMs)))
      }
      wire(evs, t0 + (i + k - 1) * spanMs / n)
      i += k
      if (i % 20000 < k) flush()
    }
    flush()
  }

  def logBytes: Long = shardFiles.map(_.length).sum
}

object Gen {
  val KplShare = 0.3
  val EnvelopeSize = 10
  val CorruptShare = 0.001
  val Users = 100000

  final case class Event(ts: Long, user: Int, action: String, page: Int, corrupt: Boolean)

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  def json(e: Event): Array[Byte] = {
    val s = s"""{"ts":"${Iso.format(Instant.ofEpochMilli(e.ts))}","user_id":${e.user},""" +
      s""""action":"${e.action}","page":${e.page}}"""
    // a corrupt payload is a record cut off mid-object
    (if (e.corrupt) s.substring(0, s.length / 2) else s).getBytes(UTF_8)
  }
}

/** Open-loop appender for `stream_steady`: every [[TickMs]] it sends the
  * user records due by then at `rate` records/s, stamping each with the
  * wall clock at send (some moved back by up to `oooMs`). It records how
  * late each tick ran against its schedule and the cumulative wire lines
  * written, for lag.
  */
final class OpenLoop(gen: Gen, rate: Double, oooMs: Long) extends Runnable {
  import OpenLoop._

  @volatile private var stopping = false
  val lateMs = new mutable.ArrayBuffer[Long]
  /** (wall millis, cumulative wire records, cumulative user records) after each tick. */
  val written = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
  private val thread = new Thread(this, "counterbench-open-loop")
  thread.setDaemon(true)
  @volatile var startMs = 0L

  def start(): Unit = { startMs = System.currentTimeMillis(); thread.start() }
  def stop(): Unit = { stopping = true; thread.join() }

  override def run(): Unit = {
    var tick = 0L
    var sent = 0L
    var carry: Int = gen.nextWireSize()
    while (!stopping) {
      tick += 1
      val due = startMs + tick * TickMs
      val now0 = System.currentTimeMillis()
      if (due > now0) Thread.sleep(due - now0)
      val now = System.currentTimeMillis()
      gen.truth.synchronized {
        lateMs += now - due
        val target = (rate * (now - startMs) / 1000.0).toLong
        while (sent + carry <= target) {
          val evs = (0 until carry).map(_ => gen.event(now - gen.jitter(oooMs)))
          gen.wire(evs, now)
          sent += carry
          carry = gen.nextWireSize()
        }
        gen.flush()
        written.add((now, gen.truth.wireRecords, gen.truth.userRecords))
      }
    }
  }
}

object OpenLoop {
  val TickMs = 10L
}
