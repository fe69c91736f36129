package graft

import java.nio.charset.StandardCharsets.{UTF_16LE, UTF_8}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, col, from_json, inline}
import org.apache.spark.sql.types._

import graft.sources.Deaggregate
import graft.sources.Deaggregate.SubRecord
import graft.streaming.StreamingCounters

/** The `json_records` generator behind [[StreamingCounters.parseRecords]]
  * against the expression it replaced,
  * `inline(array(from_json(cast(payload as string), schema + _corrupt,
  * PERMISSIVE)))`, row for row: every parsed field, PERMISSIVE partial
  * results and the raw `_corrupt` text. Payloads are BINARY and STRING,
  * under a UTC and a non-UTC session, with the malformed and oddly encoded
  * bytes on which decoding the record differently would show.
  */
class JsonRecordsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("action", StringType),
    StructField("value", DoubleType),
    StructField("tags", ArrayType(StringType))))

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private val plain = """{"ts":"2021-12-01T11:19:01Z","user_id":1,"action":"click","value":1.5}"""

  /** Over 32 KB, where Jackson reads a `String` through a `StringReader`,
    * and over the 8 KB of a stream decoder's buffer, with multi-byte and
    * malformed sequences around that boundary.
    */
  private val long = utf8("""{"user_id":7,"action":"""" + "é" * 4095) ++ bytes(0xE2, 0x82) ++
    utf8("é" * 20000 + """","tags":["a"],"value":2.0}""")

  private val cases: Seq[(String, Array[Byte])] = Seq(
    "plain" -> utf8(plain),
    "kpl" -> Deaggregate.aggregate(Seq(
      SubRecord("k1", utf8(plain)),
      SubRecord("k2", utf8("""{"user_id":2,"action":"view","tags":["x","y"]}""")),
      SubRecord("k3", utf8("""{"user_id":"abc","action":"bad"}""")),
      SubRecord("k4", utf8("""{"user_id":3,"ac""")))),
    "null" -> null,
    "empty" -> Array.emptyByteArray,
    "whitespace" -> utf8(" \n\t "),
    "truncated" -> utf8("""{"ts":"2021-12-01T11:19:01Z","user_id":1,"act"""),
    "array-root" -> utf8("""[{"user_id":1},{"user_id":2}]"""),
    "scalar-root" -> utf8("42"),
    "string-root" -> utf8("\"click\""),
    "null-root" -> utf8("null"),
    "bad-user-id" -> utf8("""{"ts":"2021-12-01T11:19:01Z","user_id":"abc","action":"click"}"""),
    "bad-tags" -> utf8("""{"user_id":5,"tags":"not-an-array","action":"click"}"""),
    "duplicate-keys" -> utf8("""{"user_id":1,"user_id":2,"action":"a","action":"b"}"""),
    "ts-offset" -> utf8("""{"ts":"2021-12-01T11:19:01+05:30","user_id":1}"""),
    "ts-no-zone" -> utf8("""{"ts":"2021-12-01 11:19:01","user_id":1}"""),
    "ts-number" -> utf8("""{"ts":1638357541,"user_id":1}"""),
    "long" -> long,
    "long-truncated" -> long.dropRight(40),
    "malformed-kept" -> (utf8("""{"user_id":1,"action":"a""") ++ bytes(0xC3, 0x28, 0xFF, 0x80) ++
      utf8("""b","value":1.0}""")),
    "malformed-skipped" -> (utf8("""{"user_id":1,"extra":"""") ++ bytes(0xFE, 0xF0, 0x9F) ++
      utf8("""","action":"a"}""")),
    "malformed-at-end" -> (utf8("""{"user_id":1,"action":"a"}""") ++ bytes(0xE2, 0x82)),
    "cesu8-surrogates" -> (utf8("""{"user_id":1,"action":"""") ++
      bytes(0xED, 0xA0, 0x80, 0xED, 0xB0, 0x80) ++ utf8(""""}""")),
    "four-byte" -> utf8("""{"user_id":1,"action":"😀 ok"}"""),
    "bom" -> (bytes(0xEF, 0xBB, 0xBF) ++ utf8(plain)),
    "leading-nul" -> (bytes(0, 0) ++ utf8(plain)),
    "utf16le" -> plain.getBytes(UTF_16LE))

  private def withTimeZone[T](tz: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, tz)
    try body finally spark.conf.set(key, before)
  }

  /** `payloads` as (id, data BINARY, text STRING) rows: once as they are,
    * once KPL-exploded, where the payload comes out of the `kpl_records`
    * generator and a null payload has no row.
    */
  private def frames(payloads: Seq[Array[Byte]]): Seq[(String, DataFrame)] = {
    val rows = payloads.zipWithIndex.map { case (p, i) => Row(i.toLong, p) }
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType), StructField("data", BinaryType))))
    Seq("raw" -> raw, "kpl-exploded" -> Deaggregate.explodeRecords(raw))
      .map { case (name, df) => name -> df.withColumn("text", col("data").cast("string")) }
  }

  /** The rows of a parse of `payload`, without the payload columns, as a
    * multiset (row → occurrences).
    */
  private def rows(parsed: DataFrame): Map[Row, Int] =
    parsed.drop("data", "text").collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def fromJson(df: DataFrame, payload: String): DataFrame =
    df.select(col("*"), inline(array(from_json(col(payload).cast("string"),
      schema.add("_corrupt", StringType),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))))

  private def assertParity(payloads: Seq[Array[Byte]], label: Int => String): Unit =
    for (tz <- Seq("UTC", "America/Los_Angeles"); payload <- Seq("data", "text")) withTimeZone(tz) {
      for ((input, df) <- frames(payloads)) {
        val got = rows(StreamingCounters.parseRecords(df, schema, payload))
        val want = rows(fromJson(df, payload))
        val diff = (got.keySet ++ want.keySet).filter(r => got.get(r) != want.get(r))
        assert(diff.isEmpty, s"$tz, $input, $payload: " + diff.toSeq.map { r =>
          s"${label(r.getLong(0).toInt)}: json_records ${got.getOrElse(r, 0)}×, " +
            s"from_json ${want.getOrElse(r, 0)}× $r"
        }.mkString("\n"))
      }
    }

  test("json_records equals inline(array(from_json)) row for row, _corrupt included") {
    val (names, payloads) = cases.unzip
    assertParity(payloads, names)
    // the cases reach what they are named for: partial results, the
    // corrupt channel, the all-null rows and the 32 KB reader path
    val Seq(raw, exploded) = frames(payloads).map { case (_, df) =>
      StreamingCounters.parseRecords(df, schema, "data").collect()
        .map(r => names(r.getLong(0).toInt) -> r).groupBy(_._1).map { case (n, rs) => n -> rs.map(_._2) }
    }
    def one(name: String): Row = raw(name).head
    val parsedFields = schema.fieldNames :+ "_corrupt"
    assert(exploded("kpl").length == 4 && !exploded.contains("null"))
    assert(Seq("null", "empty", "whitespace").forall(n =>
      raw(n).length == 1 && parsedFields.forall(f => one(n).isNullAt(one(n).fieldIndex(f)))))
    assert(one("bad-user-id").getAs[String]("action") == "click" &&
      one("bad-user-id").getAs[String]("_corrupt") != null)
    assert(Seq("truncated", "scalar-root", "long-truncated", "utf16le")
      .forall(n => one(n).getAs[String]("_corrupt") != null))
    assert(one("long").getAs[String]("action").length > 24000 &&
      one("long").getAs[String]("action").contains("\uFFFD"))
    assert(one("malformed-kept").getAs[String]("action").contains("\uFFFD"))
    assert(one("malformed-skipped").getAs[String]("action") == "a")
  }

  test("json_records equals from_json over mutated records (seeded fuzz)") {
    val rng = new scala.util.Random(20261020L)
    val seeds = cases.map(_._2).filter(p => p != null && p.length < 200)
    val payloads = (1 to 600).map { _ =>
      val p = seeds(rng.nextInt(seeds.length)).clone()
      rng.nextInt(4) match {
        case 0 => p.take(rng.nextInt(p.length + 1))
        case 1 if p.nonEmpty => p.updated(rng.nextInt(p.length), rng.nextInt(256).toByte)
        case 2 if p.nonEmpty =>
          val at = rng.nextInt(p.length)
          p.take(at) ++ Array.fill(1 + rng.nextInt(3))((0x80 + rng.nextInt(128)).toByte) ++ p.drop(at)
        case _ => p
      }
    }
    assertParity(payloads, i => s"fuzz #$i (${payloads(i).map(b => f"$b%02x").mkString})")
  }
}
