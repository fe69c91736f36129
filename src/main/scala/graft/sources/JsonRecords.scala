package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.trees.TreePattern.{GENERATOR, TreePattern}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Generator `json_records(payload)`: exactly one row per input row,
  * `schema`'s fields then `_corrupt`, with the values
  * `inline(array(from_json(cast(payload as string), schema + _corrupt,
  * PERMISSIVE)))` gives: a record that does not parse keeps its raw text in
  * `_corrupt` beside whatever fields parsed, and a null, empty or
  * whitespace-only payload is one all-null row.
  *
  * It is built from Spark's own `JacksonParser` and `FailureSafeParser`, as
  * `from_json` is, with the same options, session time zone and
  * corrupt-record literal. Only the Jackson parser factory differs:
  * `from_json` reads each record through a new `InputStreamReader` (a JDK
  * stream decoder with an 8 KB buffer per record); this one decodes the
  * bytes to a `String` and lets Jackson read its chars. Both decode with the
  * JDK's UTF-8 decoder in REPLACE mode (malformed bytes become U+FFFD, as Go's
  * `json.Unmarshal` does in the reference) and feed the same chars to the
  * same `ReaderBasedJsonParser`, so the rows are the same. Jackson's
  * byte-level `UTF8StreamJsonParser` is deliberately not used: it rejects
  * malformed UTF-8, skips a byte-order mark and guesses UTF-16/32 from NUL
  * bytes.
  */
final case class JsonRecords(child: Expression, schema: StructType,
                             timeZoneId: Option[String] = None)
    extends UnaryExpression with Generator with TimeZoneAwareExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_records expects STRING or BINARY, got $other")
  }

  override def elementSchema: StructType =
    ColumnBridge.asNullable(schema).add(JsonRecords.Corrupt, StringType)

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(JsonRecords.Options, timeZoneId.get, JsonRecords.Corrupt)
    val raw = new JacksonParser(ColumnBridge.asNullable(schema), options, allowArrayAsStructs = false)
    new FailureSafeParser[UTF8String](
      record => raw.parse(record, JsonRecords.createParser, identity[UTF8String]),
      options.parseMode, elementSchema, JsonRecords.Corrupt)
  }

  @transient private lazy val nullRow: InternalRow = new GenericInternalRow(elementSchema.length)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val record = child.eval(input) match {
      case null => null
      case s: UTF8String => s
      case b: Array[Byte] => UTF8String.fromBytes(b)
    }
    if (record == null) Iterator.single(nullRow)
    else {
      val rows = parser.parse(record)
      // an empty or whitespace-only record parses to no row: from_json's
      // null struct, which `inline` expands to one all-null row
      Iterator.single(if (rows.hasNext) rows.next() else nullRow)
    }
  }

  // both traits set `nodePatterns`, and the time-zone one wins: keep the
  // generator's pattern, which the analyzer's generator rules look for
  override def nodePatternsInternal(): Seq[TreePattern] = Seq(GENERATOR)

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override def flatArguments: Iterator[Any] = Iterator(child)

  override def prettyName: String = "json_records"

  override protected def withNewChildInternal(newChild: Expression): JsonRecords =
    copy(child = newChild)
}

object JsonRecords {
  /** The corrupt-record column, last in every row. */
  private val Corrupt = "_corrupt"

  private val Options = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt)

  /** The record's UTF-8 bytes decoded to a `String` (malformed input
    * replaced), read by Jackson's char-based parser.
    */
  private def createParser(f: JsonFactory, record: UTF8String): JsonParser = {
    val bb = record.getByteBuffer
    f.createParser(new String(bb.array, bb.arrayOffset + bb.position, bb.remaining, UTF_8))
  }
}
