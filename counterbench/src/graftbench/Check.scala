package graftbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One window record as the sink wrote it, read back through `graft-shards`. */
final case class OutRec(counter: String, window: Long, shard: Option[String],
                        value: Long, putMs: Long)

/** One window record the engine must emit. `approx` values may be off by
  * [[Check.AcdTolerance]] of the exact answer; the rest must be exact.
  */
final case class Expected(counter: String, window: Long, shard: Option[String],
                          value: Long, approx: Boolean)

/** Missing, duplicate and wrong window records against [[Expected]]. */
final case class Verdict(expected: Int, missing: Int, duplicate: Int, wrong: Int) {
  def errors: Int = missing + duplicate + wrong
  def errorFrac: Double = if (expected == 0) 1.0 else errors.toDouble / expected
  def +(o: Verdict): Verdict =
    Verdict(expected + o.expected, missing + o.missing, duplicate + o.duplicate, wrong + o.wrong)
}

object Check {
  /** The reference's own ACD tolerance (`counter_test.go:66`). */
  val AcdTolerance = 0.05

  /** Counter ids of [[Workloads.ConfigYaml]] that route to the source. */
  val Clicks = "clicks"
  val Users = "users"
  val Total = "total"

  def shardId(i: Int): String = f"shard-$i%03d"

  /** Batch `Engine.run(..., Some("shard_id"))`: `clicks` and `users` emit
    * one record per (window, shard) that has rows; `total` is two-phase and
    * emits one record per window.
    */
  def expectedBatch(t: Truth): Seq[Expected] =
    t.windows.toSeq.flatMap { case (w, cells) =>
      cells.indices.filter(cells(_).total > 0).flatMap { i =>
        Seq(Expected(Clicks, w, Some(shardId(i)), cells(i).clicks, approx = false),
          Expected(Users, w, Some(shardId(i)), cells(i).users.size.toLong, approx = true))
      } :+ Expected(Total, w, None, t.total(w), approx = false)
    }

  /** Streaming: one record per counter and window, for every window that
    * ends by `closedBy`.
    */
  def expectedStream(t: Truth, closedBy: Long): Seq[Expected] =
    t.windows.keys.toSeq.filter(_ + t.windowMs <= closedBy).flatMap { w =>
      Seq(Expected(Clicks, w, None, t.clicks(w), approx = false),
        Expected(Users, w, None, t.users(w).toLong, approx = true),
        Expected(Total, w, None, t.total(w), approx = false))
    }

  def compare(expected: Seq[Expected], actual: Seq[OutRec]): Verdict = {
    val got = actual.groupBy(r => (r.counter, r.window, r.shard))
    val exp = expected.map(e => (e.counter, e.window, e.shard) -> e).toMap
    var missing, duplicate, wrong = 0
    exp.foreach { case (k, e) =>
      got.get(k) match {
        case None => missing += 1
        case Some(rs) =>
          duplicate += rs.size - 1
          val ok =
            if (e.approx) math.abs(rs.head.value - e.value) <= AcdTolerance * e.value
            else rs.head.value == e.value
          if (!ok) wrong += 1
      }
    }
    // records nobody expected: another counter's, or a window not closed
    wrong += got.keys.count(k => !exp.contains(k))
    Verdict(expected.size, missing, duplicate, wrong)
  }

  /** Reads the sink's shard logs back through the engine's own source. */
  def readBack(spark: SparkSession, dir: String): Seq[OutRec] = {
    if (!new File(dir).isDirectory) return Nil
    val mapper = new ObjectMapper
    spark.read.format("graft-shards").load(dir)
      .select("arrival_ts", "data").collect().toSeq.map { r =>
        val n = mapper.readTree(r.getAs[Array[Byte]](1))
        OutRec(n.get("counter_id").asText(), n.get("window_start").asLong(),
          Option(n.get("shard_id")).filterNot(_.isNull).map(_.asText()),
          n.get("value").asLong(), r.getTimestamp(0).getTime)
      }
  }
}
