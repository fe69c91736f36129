package graft.sources.v2

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

/** The file transport's byte-level line reader and its warm seek index.
  * The reader must return exactly the lines of a plain oracle (the old
  * char-stream reader's rules), and a shard read from any start line must
  * equal the cold read from line 0 with that prefix dropped, whether it
  * seeks from a warm mark, byte-skips from 0, or finds its marks stale.
  */
class ShardSeekSpec extends AnyFunSuite {

  private val Block = TerminatedLineReader.BlockBytes

  private def bytes(parts: Any*): Array[Byte] = {
    val out = new ByteArrayOutputStream
    parts.foreach {
      case s: String => out.write(s.getBytes(UTF_8))
      case b: Array[Byte] => out.write(b)
      case i: Int => out.write(i)
    }
    out.toByteArray
  }

  /** Terminated prefix decoded as ONE UTF-8 stream, split on '\n', a
    * trailing '\r' stripped, blank lines (`trim.isEmpty`) dropped.
    */
  private def oracle(data: Array[Byte]): Vector[String] = {
    val end = data.lastIndexOf('\n'.toByte) + 1
    new String(data, 0, end, UTF_8).split("\n", -1).toVector.dropRight(1)
      .map(_.stripSuffix("\r")).filter(_.trim.nonEmpty)
  }

  private def withFile[T](data: Array[Byte])(body: File => T): T = {
    val dir = Files.createTempDirectory("shard_seek").toFile
    val f = new File(dir, "s0.jsonl")
    Files.write(f.toPath, data)
    try body(f) finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }

  private def readAll(r: TerminatedLineReader): Vector[String] =
    Iterator.continually(r.readLine()).takeWhile(_ != null).toVector

  // Every rule in one corpus: CRLF, blank and whitespace-only lines,
  // control bytes, multi-byte and invalid UTF-8, a line longer than two
  // blocks, lines, a multi-byte char and a CRLF straddling a block
  // boundary, and a torn tail.
  private val corpus: Array[Byte] = {
    val head = bytes(
      "plain\n", "crlf\r\n", "\n", "   \n", "\t \r\n", "\r\n", " x \n",
      "\u0001\u0002\u001f\n", "\u007f\n", "héllo wörld ✓ 😀\n",
      Array[Byte](0xff.toByte, 0xfe.toByte, '\n'),
      Array[Byte](0xc3.toByte, '\n'),
      Array[Byte](0xe2.toByte, 0x82.toByte, '\r', '\n'),
      Array[Byte]('a', 0x80.toByte, 'b', 0xf0.toByte, 0x9f.toByte, 0x98.toByte, '\n'),
      "r\rin\rthe\rmiddle\r\r\n")
    // a line that starts 3 bytes before the first block boundary
    val fill1 = Block - head.length - 3
    val straddle = bytes(head, "y" * (fill1 - 1), "\n", "straddles the block\n")
    // a line whose '\r' ends block 2 and whose '\n' starts block 3
    val crlf = bytes(straddle, "z" * (2 * Block - 1 - straddle.length), "\r\n")
    // a 2-byte char split by the boundary of block 4
    val fill3 = 3 * Block - crlf.length - 1
    val multi = bytes(crlf, "w" * (fill3 - 1), "\n", "é tail\n")
    bytes(multi, "L" * (2 * Block + 17), "\n", "é" * (Block / 2 + 5), "\r\n",
      "last\n", "\n", "torn-no-newline é")
  }

  test("byte-level reader returns exactly the oracle's lines, torn tails included") {
    assert(oracle(corpus).size == 18, oracle(corpus).map(_.take(20)))
    def check(data: Array[Byte], what: String): Unit = withFile(data) { f =>
      val r = new TerminatedLineReader(f.getPath)
      try assert(readAll(r) == oracle(data), what) finally r.close()
      assert(ShardScan.lineCount(f.getPath) == oracle(data).size, s"count, $what")
    }
    // every cut point near a block boundary, plus a spread of others:
    // each prefix is a log with its own torn tail, often mid-character
    val nearBlocks = (1 to 6).flatMap(k => (k * Block - 4) to (k * Block + 4))
    val cuts = (0 to corpus.length by 4999) ++ nearBlocks ++ (0 until 300) ++
      Seq(corpus.length - 1, corpus.length)
    cuts.distinct.filter(_ <= corpus.length)
      .foreach(cut => check(corpus.take(cut), s"cut at $cut"))
    // shifted against the block boundaries
    Seq(1, 2, 3, 7, 4093).foreach(k => check(bytes("s" * k, "\n", corpus), s"shift $k"))
  }

  test("skipLines(k) then readLine ≡ the oracle's lines with k dropped") {
    val lines = oracle(corpus)
    withFile(corpus) { f =>
      (0 to lines.size + 2).foreach { k =>
        val r = new TerminatedLineReader(f.getPath)
        try {
          assert(r.skipLines(k.toLong) == math.min(k, lines.size).toLong, s"skip $k")
          assert(readAll(r) == lines.drop(k), s"after skipping $k")
        } finally r.close()
      }
      // a skip that ends in a block's middle leaves readLine at the next line
      val r = new TerminatedLineReader(f.getPath)
      try {
        assert(r.readLine() == "plain")
        assert(r.skipLines(3) == 3L)
        assert(r.readLine() == lines(4))
      } finally r.close()
    }
  }

  // ------------------------------------------------------------- seeks
  private val hints = ReadHints(needPk = true, needSeq = true, needTs = true,
    needData = true)

  private def wire(i: Int, pad: Int): String = {
    val payload = Base64.getEncoder.encodeToString(s"payload-$i-${"p" * pad}".getBytes(UTF_8))
    s"""{"partitionKey":"k$i","sequenceNumber":"$i",""" +
      s""""approximateArrivalTimestamp":${1000L + i},"data":"$payload"}"""
  }

  /** `n` wire records from `first`, with blank, CRLF and corrupt lines
    * between them; `pad` changes every record's byte length.
    */
  private def log(first: Int, n: Int, pad: Int): String =
    (first until first + n).map { i =>
      (if (i % 7 == 0) "  \n" else "") + (if (i % 11 == 0) "not-json\n" else "") +
        wire(i, pad + i % 5) + (if (i % 3 == 0) "\r\n" else "\n")
    }.mkString

  private def records(c: FileShardClient, from: Long): Vector[(String, String, Any, String, Boolean)] = {
    val it = c.records("s0", from, hints)
    try Iterator.continually(it.nextRecord()).takeWhile(_ != null).map { r =>
      (r.partitionKey, r.sequenceNumber, r.arrivalMillis,
        new String(r.data, UTF_8), r.corrupt)
    }.toVector
    finally it.close()
  }

  /** For every start line: the read equals the cold read from 0 with the
    * prefix dropped. Returns that cold read.
    */
  private def assertSeeks(c: FileShardClient, what: String) = {
    val all = records(c, 0L)
    (0 to all.size).foreach { from =>
      assert(records(c, from.toLong) == all.drop(from), s"$what: from $from")
    }
    all
  }

  private def seekDir[T](body: (File, FileShardClient) => T): T = {
    val dir = Files.createTempDirectory("shard_seek").toFile
    try body(new File(dir, "s0.jsonl"), new FileShardClient(dir.getPath, permissive = true))
    finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }

  private def append(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(UTF_8), StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)

  test("records(from) ≡ records(0).drop(from) cold and with a warm seek index") {
    seekDir { (f, c) =>
      val file = f.getAbsolutePath
      // warm: each latestPosition leaves a mark at the count it returns
      val latest = (0 until 6).map { step =>
        append(f, log(step * 9, 9, 40) + (if (step == 5) "torn{" else ""))
        c.latestPosition("s0")
      }
      val warm = assertSeeks(c, "warm")
      assert(warm.size.toLong == latest.last)
      assert(warm.count(_._5) == 5, "corrupt lines are records too")
      latest.foreach { l =>
        assert(ShardScan.seekMark(file, l)._2 == l, s"no exact mark at $l")
      }
      // cold: no marks, every read byte-skips from 0
      ShardScan.dropSeekMarks()
      (0L to latest.last).foreach(l => assert(ShardScan.seekMark(file, l) == ((0L, 0L))))
      assert(assertSeeks(c, "cold") == warm)
    }
  }

  test("stale seek marks are never used: truncate-and-regrow, same-path replacement") {
    seekDir { (f, c) =>
      val file = f.getAbsolutePath
      val anyLine = Long.MaxValue - 1
      def warmUp(first: Int, pad: Int): Seq[Long] = (0 until 4).map { step =>
        append(f, log(first + step * 10, 10, pad))
        c.latestPosition("s0")
      }
      def seeksAsCold(what: String): Unit = {
        val warm = assertSeeks(c, what)
        ShardScan.dropSeekMarks()
        assert(assertSeeks(c, s"$what, cold") == warm)
      }

      val marks = warmUp(0, 40)
      // truncated to a shorter prefix nobody has counted yet: a mark past
      // the new length is skipped, one inside it is still true
      val full = Files.readAllBytes(f.toPath)
      Files.write(f.toPath, full.take(full.length / 2))
      assert(ShardScan.seekMark(file, marks.head)._2 == marks.head)
      assert(ShardScan.seekMark(file, marks.last) == ((0L, 0L)))
      seeksAsCold("truncated, unobserved")

      // truncated to empty and rewritten LONGER with other byte offsets:
      // the observed shrink recounts from 0 and drops the old marks
      warmUp(0, 40)
      Files.write(f.toPath, Array.emptyByteArray)
      assert(c.latestPosition("s0") == 0L)
      append(f, log(500, 60, 90))
      assert(f.length() > full.length)
      assert(ShardScan.seekMark(file, anyLine) == ((0L, 0L)), "an old mark survived the recount")
      seeksAsCold("truncated and regrown")

      // deleted and recreated at the same path, a new inode, longer, and
      // never counted: the identity check rejects every mark
      warmUp(1000, 40)
      val oldLength = f.length()
      assert(ShardScan.seekMark(file, anyLine)._2 == c.latestPosition("s0"))
      val oldId = Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      val next = new File(f.getParentFile, "next.tmp")
      Files.write(next.toPath, log(2000, 120, 70).getBytes(UTF_8))
      Files.move(next.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING)
      val newId = Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      assert(oldId != newId && f.length() >= oldLength)
      assert(ShardScan.seekMark(file, anyLine) == ((0L, 0L)), "a mark of the replaced file was offered")
      val replaced = assertSeeks(c, "replaced, unobserved")
      assert(replaced.head._2 == "2000")
      assert(c.latestPosition("s0") == replaced.size.toLong)
      seeksAsCold("replaced, recounted")
    }
  }
}
