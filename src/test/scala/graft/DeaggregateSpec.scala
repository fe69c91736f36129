package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.sources.Deaggregate
import graft.sources.Deaggregate.SubRecord

/** `Deaggregate.explodeRecords` (the `kpl_records` generator) against an
  * oracle outside Spark: [[Deaggregate.deaggregate]] applied to each row's
  * payload. Covers envelopes, plain and malformed payloads, the output
  * column layout, and a streaming query.
  */
class DeaggregateSpec extends SparkTestBase {
  import spark.implicits._

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private val envelope = Deaggregate.aggregate(Seq(
    SubRecord("k1", utf8("""{"user_id":1}""")),
    SubRecord("k2", utf8("""{"user_id":2}""")),
    SubRecord("k1", utf8("""{"user_id":3}"""))))

  /** `envelope` with its body cut short and a checksum that matches the
    * cut body: the magic and MD5 pass, the protobuf does not parse.
    */
  private val truncated = {
    val body = envelope.slice(4, envelope.length - 16).dropRight(3)
    envelope.take(4) ++ body ++ MessageDigest.getInstance("MD5").digest(body)
  }

  private val corpus: Seq[(Long, Array[Byte])] = Seq(
    1L -> envelope,
    2L -> Deaggregate.aggregate(Seq(SubRecord("solo", utf8("one")))),
    3L -> utf8("""{"user_id":4}"""),
    4L -> envelope.updated(envelope.length - 1, (envelope.last ^ 1).toByte), // bad MD5
    5L -> truncated,
    6L -> Array.emptyByteArray,
    7L -> null)

  /** (id, partition_key, data) per user record, the oracle's way. */
  private def oracle(rows: Seq[(Long, Array[Byte])]): Seq[(Long, String, Seq[Byte])] =
    rows.flatMap { case (id, p) =>
      Deaggregate.deaggregate(p).map(r => (id, r.partitionKey, r.data.toSeq))
    }.sortBy(r => (r._1, r._2, r._3.mkString(",")))

  private def exploded(df: DataFrame): Seq[(Long, String, Seq[Byte])] =
    df.select($"id", $"partition_key", $"data").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(r => (r._1, r._2, r._3.mkString(",")))

  test("explodeRecords equals deaggregate applied per row") {
    val want = oracle(corpus)
    // the corpus exercises every pass-through and the zero-row case
    assert(Deaggregate.deaggregate(corpus(3)._2).map(_.data.toSeq) == Seq(corpus(3)._2.toSeq))
    assert(Deaggregate.deaggregate(corpus(4)._2).map(_.data.toSeq) == Seq(truncated.toSeq))
    assert(!want.exists(_._1 == 7L) && want.count(_._1 == 6L) == 1)
    assert(want.count(_._1 == 1L) == 3)

    val got = exploded(Deaggregate.explodeRecords(corpus.toDF("id", "data")))
    assert(got == want)
  }

  /** The layout the typed-flatMap operator produced: `partition_key`
    * replaced in place as a string, or appended; everything else as it was.
    */
  private def layout(in: StructType): Seq[(String, DataType)] = {
    val fields = in.fields.map(f => f.name -> f.dataType).toSeq
    (if (fields.exists(_._1 == "partition_key")) fields else fields :+ ("partition_key" -> StringType))
      .map { case (n, t) => n -> (if (n == "partition_key") StringType else t) }
  }

  test("output columns keep the old order and types, dotted names included") {
    val in = corpus.map { case (id, p) => (s"x$id", id.toInt, p, id) }
      .toDF("a.b", "partition_key", "data", "z")
    val out = Deaggregate.explodeRecords(in)
    assert(out.schema.map(f => f.name -> f.dataType) == layout(in.schema))
    assert(out.columns.toSeq == Seq("a.b", "partition_key", "data", "z"))
    val rows = out.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(3))).toSet ==
      oracle(corpus).map(r => (s"x${r._1}", r._1)).toSet)
    assert(exploded(out.withColumnRenamed("z", "id")) == oracle(corpus))

    // no partition_key: appended last; another payload column name
    val plain = corpus.toDF("id", "payload")
    val appended = Deaggregate.explodeRecords(plain, "payload")
    assert(appended.schema.map(f => f.name -> f.dataType) == layout(plain.schema))
    assert(appended.columns.toSeq == Seq("id", "payload", "partition_key"))
    assert(exploded(appended.withColumnRenamed("payload", "data")) == oracle(corpus))
  }

  test("the generator runs in a streaming query") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte])]
    val q = Deaggregate.explodeRecords(input.toDF().toDF("id", "data"))
      .writeStream.format("memory").queryName("deaggregate_stream").start()
    try {
      input.addData(corpus.take(4))
      q.processAllAvailable()
      input.addData(corpus.drop(4))
      q.processAllAvailable()
      assert(exploded(spark.table("deaggregate_stream")) == oracle(corpus))
    } finally q.stop()
  }
}
