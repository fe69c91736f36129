package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** KPL record deaggregation (reference O3, `/root/reference/deaggregate.go`):
  * the Kinesis Producer Library packs many user records into one Kinesis
  * record using a public protobuf envelope (the aws/kinesis-aggregation
  * format): `0xF3 0x89 0x9A 0xC2` magic, an `AggregatedRecord` protobuf
  * message, and a trailing MD5 of the message bytes.
  *
  * The wire format is decoded here directly (a ~60-line protobuf wire-format
  * reader — no codegen, no extra dependency):
  *
  * {{{
  * message AggregatedRecord {
  *   repeated string partition_key_table    = 1;
  *   repeated string explicit_hash_key_table= 2;
  *   repeated Record records                = 3;
  * }
  * message Record {
  *   required uint64 partition_key_index    = 1;
  *   optional uint64 explicit_hash_key_index= 2;
  *   required bytes  data                   = 3;
  * }
  * }}}
  *
  * Non-aggregated payloads (no magic, bad checksum, malformed protobuf) pass
  * through as a single record — same contract as the awslabs deaggregator
  * the reference delegates to. (The reference also has a bug filling
  * PartitionKey from EncryptionType, `deaggregate.go:19`; not replicated.)
  *
  * As a Spark operator this is a 1→N explode of a binary column — a
  * partition-local generator with no shuffle; sub-record bytes never leave
  * the task that read the envelope.
  */
object Deaggregate {

  private val Magic: Array[Byte] =
    Array(0xf3.toByte, 0x89.toByte, 0x9a.toByte, 0xc2.toByte)

  final case class SubRecord(partitionKey: String, data: Array[Byte])

  /** Decode one Kinesis record payload into its user records. */
  def deaggregate(payload: Array[Byte]): Seq[SubRecord] = {
    if (payload == null) return Nil
    if (payload.length < Magic.length + 16 ||
        !payload.take(Magic.length).sameElements(Magic))
      return Seq(SubRecord("", payload))
    val body = java.util.Arrays.copyOfRange(payload, Magic.length, payload.length - 16)
    val digest = java.util.Arrays.copyOfRange(payload, payload.length - 16, payload.length)
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(body)
    if (!md5.sameElements(digest)) return Seq(SubRecord("", payload))
    try {
      val (keys, records) = parseAggregated(body)
      records.map { case (pkIdx, data) =>
        SubRecord(keys.lift(pkIdx.toInt).getOrElse(""), data)
      }
    } catch { case _: Exception => Seq(SubRecord("", payload)) }
  }

  // --- minimal protobuf wire-format reader --------------------------------

  private final class Reader(b: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        if (pos >= end) throw new IllegalArgumentException("truncated varint")
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
        if (shift > 63) throw new IllegalArgumentException("varint overflow")
      }
      v
    }
    def bytes(): (Int, Int) = { // (offset, length) of a length-delimited field
      val len = varint().toInt
      if (len < 0 || pos + len > end) throw new IllegalArgumentException("truncated bytes")
      val off = pos; pos += len; (off, len)
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => bytes()
      case 5 => pos += 4
      case t => throw new IllegalArgumentException(s"unsupported wire type $t")
    }
  }

  /** Parse AggregatedRecord → (partition key table, (pkIndex, data) list). */
  private def parseAggregated(body: Array[Byte]): (Vector[String], Seq[(Long, Array[Byte])]) = {
    val r = new Reader(body, 0, body.length)
    var keys = Vector.empty[String]
    val recs = Seq.newBuilder[(Long, Array[Byte])]
    while (r.hasNext) {
      val tag = r.varint()
      val field = (tag >> 3).toInt
      val wire = (tag & 7).toInt
      (field, wire) match {
        case (1, 2) =>
          val (off, len) = r.bytes()
          keys :+= new String(body, off, len, "UTF-8")
        case (3, 2) =>
          val (off, len) = r.bytes()
          recs += parseRecord(body, off, off + len)
        case _ => r.skip(wire)
      }
    }
    (keys, recs.result())
  }

  private def parseRecord(b: Array[Byte], from: Int, to: Int): (Long, Array[Byte]) = {
    val r = new Reader(b, from, to)
    var pkIdx = 0L
    var data = Array.emptyByteArray
    while (r.hasNext) {
      val tag = r.varint()
      val field = (tag >> 3).toInt
      val wire = (tag & 7).toInt
      (field, wire) match {
        case (1, 0) => pkIdx = r.varint()
        case (3, 2) =>
          val (off, len) = r.bytes()
          data = java.util.Arrays.copyOfRange(b, off, off + len)
        case _ => r.skip(wire)
      }
    }
    (pkIdx, data)
  }

  /** Test/producer-side encoder for the same envelope (used by specs and by
    * anyone emitting KPL-aggregated batches from this engine).
    */
  def aggregate(records: Seq[SubRecord]): Array[Byte] = {
    val keys = records.map(_.partitionKey).distinct
    val keyIdx = keys.zipWithIndex.toMap
    val out = new java.io.ByteArrayOutputStream()
    def writeVarint(o: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      o.write(v.toInt)
    }
    def writeBytes(o: java.io.ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
      writeVarint(o, (field.toLong << 3) | 2); writeVarint(o, b.length.toLong); o.write(b)
    }
    keys.foreach(k => writeBytes(out, 1, k.getBytes("UTF-8")))
    records.foreach { rec =>
      val r = new java.io.ByteArrayOutputStream()
      writeVarint(r, (1L << 3) | 0); writeVarint(r, keyIdx(rec.partitionKey).toLong)
      writeBytes(r, 3, rec.data)
      writeBytes(out, 3, r.toByteArray)
    }
    val body = out.toByteArray
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(body)
    val full = new java.io.ByteArrayOutputStream()
    full.write(Magic); full.write(body); full.write(md5)
    full.toByteArray
  }

  /** The Spark-side operator: explode a binary payload column into one row
    * per deaggregated user record (`partition_key`, `data`), preserving all
    * other columns. The explode is a Catalyst generator ([[KplRecords]]) in
    * a `Generate` that passes the other columns through, not a ScalaUDF or
    * a typed flatMap: rows stay internal rows, and column pruning reaches
    * the scan, so a source reads only the columns its consumers use.
    * Narrow (no shuffle); a null payload expands to zero rows; non-KPL
    * payloads pass through as one row with the envelope's empty partition
    * key, exactly as [[deaggregate]] reports them.
    *
    * Column order follows `withColumn`: an existing `partition_key` is
    * replaced in place (always as a string, since the deaggregated key
    * overwrites whatever was there), otherwise it is appended.
    */
  def explodeRecords(df: DataFrame, payloadCol: String = "data"): DataFrame = {
    // bind by attribute, not by name: `col` reads a dot in a name as a field
    val attrs = df.queryExecution.analyzed.output
    val payload = attrs(df.schema.fieldIndex(payloadCol))
    val isPk = (a: Attribute) => a.name == "partition_key"
    val exploded = df.select(
      attrs.filterNot(a => (a eq payload) || isPk(a)).map(ColumnBridge.column) :+
        ColumnBridge.column(KplRecords(payload)).as(Seq(GenKey, GenData)): _*)
    val out = attrs.map {
      case a if a eq payload => col(GenData).as(a.name)
      case a if isPk(a) => col(GenKey).as(a.name)
      case a => ColumnBridge.column(a)
    }
    exploded.select(
      (if (attrs.exists(isPk)) out else out :+ col(GenKey).as("partition_key")): _*)
  }

  private val GenKey = "__kpl_partition_key"
  private val GenData = "__kpl_data"
}

/** Generator `kpl_records(payload)`: one `(partition_key, data)` row per
  * user record of a Kinesis payload, as [[Deaggregate.deaggregate]] decodes
  * it (zero rows for a null payload). Neither output is ever null.
  */
final case class KplRecords(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"kpl_records expects BINARY, got ${child.dataType}")

  override def elementSchema: StructType = StructType(Seq(
    StructField("partition_key", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    Deaggregate.deaggregate(child.eval(input).asInstanceOf[Array[Byte]]).map { r =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(r.partitionKey), r.data))
    }

  override def prettyName: String = "kpl_records"

  override protected def withNewChildInternal(newChild: Expression): KplRecords =
    copy(child = newChild)
}
