package graft

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Base64

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow

import graft.sources.v2._

/** Property-based fuzz of the `graft-shards` connector against the REAL
  * file transport: random interleavings of
  *   - appends (optionally TORN — the last line is written without its
  *     newline and completed by a later write, modeling a non-atomic
  *     appender caught mid-record),
  *   - whitespace-only noise lines (never records),
  *   - corrupt-line bursts (invalid JSON / JSON non-objects / bad base64
  *     — the permissive side channel),
  *   - resharding (a shard's first append can land after any number of
  *     triggers — it must enter at offset 0),
  *   - micro-batch triggers (latestOffset → planInputPartitions → read),
  *   - batch REPLAYS (re-plan + re-read the same [start, end) range —
  *     Spark's failure-recovery path — must yield identical rows), and
  *   - driver RESTARTS (new stream + new client resumed from the
  *     serialized offset checkpoint, in-memory high-water marks gone;
  *     about half also drop the JVM's seek marks, so the next batches
  *     byte-skip from 0 as a cold executor does),
  * with a per-shard model checked at every trigger:
  *   1. offsets never regress and never skip — each planned partition
  *      reads exactly [committed, latest) of its shard;
  *   2. the latest offset counts EXACTLY the terminated records (torn
  *      tails and whitespace lines are invisible until/forever);
  *   3. end-to-end consumption is exactly-once: the concatenation of all
  *      consumed batches per shard equals the model's record list, in
  *      order, no gaps, no duplicates — across restarts.
  */
class ShardConnectorFuzzSpec extends AnyFunSuite {

  // ------------------------------------------------------------- model
  private sealed trait Entry
  private final case class Good(pk: String, seq: String, ts: Long,
                                payload: String) extends Entry
  private final case class Corrupt(line: String) extends Entry

  private sealed trait Op
  private final case class Append(shard: Int, recs: List[Entry],
                                  tearLastAt: Option[Int]) extends Op
  private final case class Noise(shard: Int) extends Op
  private final case class Trigger(replay: Boolean) extends Op
  private final case class Restart(cold: Boolean) extends Op

  private val genGood: Gen[Entry] = for {
    pk <- Gen.alphaNumStr.map(s => "pk" + s.take(6))
    ts <- Gen.chooseNum(1L, 4_000_000_000L)
    pay <- Gen.alphaNumStr.map(s => "payload-" + s.take(10))
  } yield Good(pk, "seq?", ts, pay) // seq filled with a unique id at run time

  private val genCorrupt: Gen[Entry] = Gen.oneOf(
    Gen.alphaNumStr.map(s => Corrupt("not-json-{" + s.take(8))),
    Gen.const(Corrupt("[1,2,3]")),             // valid JSON, not an object
    Gen.const(Corrupt("42")),                  // valid JSON scalar
    Gen.const(Corrupt("""{"partitionKey":"p","data":"%%%not-base64%%%"}""")))

  private val genOp: Gen[Op] = Gen.frequency(
    10 -> (for {
      shard <- Gen.chooseNum(0, 3)
      recs <- Gen.nonEmptyListOf(Gen.frequency(7 -> genGood, 3 -> genCorrupt))
        .map(_.take(5))
      tear <- Gen.option(Gen.chooseNum(1, 10))
    } yield Append(shard, recs, tear)),
    2 -> Gen.chooseNum(0, 3).map(Noise),
    5 -> Gen.oneOf(true, false).map(Trigger(_)),
    2 -> Gen.oneOf(true, false).map(Restart(_)))

  // every scenario ends with a flush-tears + final trigger (added in run)
  private val genScenario: Gen[List[Op]] =
    Gen.chooseNum(4, 20).flatMap(n => Gen.listOfN(n, genOp))

  // ------------------------------------------------------- execution
  private val allFields =
    Array("shard_id", "partition_key", "sequence_number", "arrival_ts", "data")
  private val opts = ShardOptions(deaggregate = false, permissive = true)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def parseOffset(json: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(json).properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  private def wireLine(g: Good): String =
    s"""{"partitionKey":"${g.pk}","sequenceNumber":"${g.seq}",""" +
      s""""approximateArrivalTimestamp":${g.ts},""" +
      s""""data":"${Base64.getEncoder.encodeToString(g.payload.getBytes(StandardCharsets.UTF_8))}"}"""

  private def lineOf(e: Entry): String = e match {
    case g: Good => wireLine(g)
    case Corrupt(l) => l
  }

  /** What the permissive reader must yield for one model entry. */
  private def rendered(e: Entry): (String, String, Any, String) = e match {
    case Good(pk, seq, ts, pay) => (pk, seq, ts * 1000L, pay)
    case Corrupt(l) => (null, null, null, l)
  }

  private def write(file: File, s: String): Unit = {
    val out = new FileOutputStream(file, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readBatch(client: ShardReaderClient,
                        parts: Array[org.apache.spark.sql.connector.read.InputPartition])
      : Map[String, Vector[(String, String, Any, String)]] = {
    val factory = new ShardReaderFactory(client, opts, allFields)
    parts.toVector.map { p =>
      val shard = p.asInstanceOf[ShardInputPartition].shardId
      val r = factory.createReader(p)
      val rows = Iterator.continually(r).takeWhile(_.next())
        .map(_.get() match { case row: InternalRow =>
          (Option(row.getUTF8String(1)).map(_.toString).orNull,
           Option(row.getUTF8String(2)).map(_.toString).orNull,
           if (row.isNullAt(3)) null else row.getLong(3),
           if (row.isNullAt(4)) null
           else new String(row.getBinary(4), StandardCharsets.UTF_8))
        }).toVector
      r.close()
      shard -> rows
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  /** Run one scenario; throws AssertionError (with context) on violation. */
  private def run(ops: List[Op]): Unit = {
    val dir = Files.createTempDirectory("shard-fuzz").toFile
    var seqNo = 0L
    // model state
    val expected = collection.mutable.Map.empty[String, Vector[Entry]]
      .withDefaultValue(Vector.empty)
    val pendingTear = collection.mutable.Map.empty[String, (Entry, String)]
    val consumed = collection.mutable.Map.empty[String, Vector[(String, String, Any, String)]]
      .withDefaultValue(Vector.empty)
    // "engine" state
    def newClient() = new FileShardClient(dir.getAbsolutePath, permissive = true)
    var client = newClient()
    var stream = new ShardMicroBatchStream(client, opts, allFields, dir.getAbsolutePath)
    var committedJson = "{}"

    def shardFile(i: Int) = new File(dir, s"s$i.jsonl")
    def shardId(i: Int) = s"s$i"

    def completeTear(i: Int): Unit = pendingTear.remove(shardId(i)).foreach {
      case (entry, remainder) =>
        write(shardFile(i), remainder)
        expected(shardId(i)) = expected(shardId(i)) :+ entry
    }

    def doAppend(a: Append): Unit = {
      completeTear(a.shard)
      val entries = a.recs.map {
        case g: Good => seqNo += 1; g.copy(seq = seqNo.toString)
        case c: Corrupt => c
      }
      a.tearLastAt match {
        case Some(cut) if entries.nonEmpty =>
          val whole = entries.init
          whole.foreach { e =>
            write(shardFile(a.shard), lineOf(e) + "\n")
            expected(shardId(a.shard)) = expected(shardId(a.shard)) :+ e
          }
          val last = entries.last
          val line = lineOf(last)
          val k = 1 + (cut % line.length.max(1)).min(line.length - 1)
          write(shardFile(a.shard), line.substring(0, k))
          pendingTear(shardId(a.shard)) = (last, line.substring(k) + "\n")
        case _ =>
          entries.foreach { e =>
            write(shardFile(a.shard), lineOf(e) + "\n")
            expected(shardId(a.shard)) = expected(shardId(a.shard)) :+ e
          }
      }
    }

    def doTrigger(replay: Boolean): Unit = {
      val startMap = parseOffset(committedJson)
      val end = stream.latestOffset()
      val endMap = parseOffset(end.json())
      // (2) the offset counts EXACTLY the terminated records
      (endMap.keySet ++ expected.keySet).foreach { s =>
        assert(endMap.getOrElse(s, 0L) == expected(s).size,
          s"offset for $s is ${endMap.getOrElse(s, 0L)}, model has " +
            s"${expected(s).size} terminated records (torn tail or noise counted?)")
      }
      // (1) never regress
      startMap.foreach { case (s, b) =>
        assert(endMap.getOrElse(s, 0L) >= b, s"offset regressed for $s")
      }
      val start = stream.deserializeOffset(committedJson)
      val parts = stream.planInputPartitions(start, end)
      // (1) never skip: each partition begins at the committed position
      parts.foreach { p =>
        val sp = p.asInstanceOf[ShardInputPartition]
        assert(sp.startLine == startMap.getOrElse(sp.shardId, 0L),
          s"partition for ${sp.shardId} starts at ${sp.startLine}, " +
            s"committed was ${startMap.getOrElse(sp.shardId, 0L)}")
        assert(sp.endLine == endMap(sp.shardId), s"partition end mismatch for ${sp.shardId}")
      }
      val batch = readBatch(client, parts)
      if (replay) {
        // failure-recovery path: the same range must replay identically
        val again = readBatch(client, stream.planInputPartitions(start, end))
        assert(again == batch, "replay of the same offset range differed")
      }
      batch.foreach { case (s, rows) => consumed(s) = consumed(s) ++ rows }
      committedJson = end.json()
    }

    try {
      ops.foreach {
        case a: Append => doAppend(a)
        case Noise(i) =>
          completeTear(i)
          write(shardFile(i), "   \n\n")
        case Trigger(replay) => doTrigger(replay)
        case Restart(cold) =>
          if (cold) ShardScan.dropSeekMarks()
          client = newClient()
          stream = new ShardMicroBatchStream(client, opts, allFields, dir.getAbsolutePath)
      }
      // drain: finish torn tails, then one final batch
      (0 to 3).foreach(completeTear)
      doTrigger(replay = false)
      // (3) exactly-once end-to-end
      (expected.keySet ++ consumed.keySet).foreach { s =>
        val want = expected(s).map(rendered)
        assert(consumed(s) == want,
          s"shard $s consumed ${consumed(s).size} rows, expected ${want.size}:\n" +
            s"  consumed=${consumed(s).take(5)}...\n  expected=${want.take(5)}...")
      }
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }

  test("fuzz: torn appends, resharding, corrupt bursts, restarts — offsets " +
    "never skip, replay is exactly-once (220 scenarios)") {
    val prop = Prop.forAll(genScenario) { ops => run(ops); true }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(220).withWorkers(1), prop)
    assert(res.passed, s"fuzz failed: ${res.status}")
  }

  test("fuzz: a deterministic worst-case braid (every op class on one shard)") {
    // hand-built scenario covering every transition at least once, so a
    // ScalaCheck distribution shift can never silently lose coverage
    val ops = List[Op](
      Append(0, List(Good("a", "?", 10L, "p1")), None),
      Trigger(replay = true),
      Append(0, List(Good("b", "?", 20L, "p2"), Corrupt("42")), Some(3)),
      Trigger(replay = false), // torn tail invisible
      Noise(0),                // completes the tear
      Restart(cold = true),    // no seek marks: the batch byte-skips from 0
      Trigger(replay = true),  // post-restart delta: exactly the completed record
      Append(1, List(Corrupt("[1,2,3]"), Good("c", "?", 30L, "p3")), None), // late shard
      Restart(cold = false),   // marks kept: the batch seeks to its start
      Append(0, List(Good("d", "?", 40L, "p4")), None),
      Trigger(replay = false))
    run(ops)
  }
}
