package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import com.fasterxml.jackson.core.JsonToken._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression,
  Generator, GenericInternalRow, JsonToStructs, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Schemas

/** One record stream of the wire `Batch` envelope ([[Schemas.wireBatch]]):
  * the short and long envelope keys that carry it, its record struct, the
  * output schema, and [[emit]], which turns one decoded record (a row in
  * `record` field order) into an output row, or null when the record is
  * dropped.
  */
sealed abstract class WireLayout(val short: String, val long: String,
    val record: StructType, val output: StructType) extends Serializable {

  protected final def field(name: String): Int = record.fieldIndex(name)

  /** `time` is the record's `t` already cast; null drops the record. */
  def emit(r: InternalRow, time: Any): InternalRow

  protected final def orEmpty(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) UTF8String.EMPTY_UTF8 else r.getUTF8String(i)

  protected final def tags(r: InternalRow, i: Int): MapData =
    if (r.isNullAt(i)) WireLayout.noTags else r.getMap(i)
}

object WireLayout {
  private val noTags: MapData = ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
  private val tagsType = MapType(StringType, StringType)
  private val kinds = Set("gauge", "counter").map(UTF8String.fromString)

  private def schema(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })

  /** Only `gauge`/`counter` records with a time and a name survive. */
  case object Metrics extends WireLayout("m", "metrics", Schemas.wireMetric, schema(
      ("time", TimestampType, true), ("type", StringType, true),
      ("host", StringType, false), ("name", StringType, true),
      ("value", DoubleType, true), ("tags", tagsType, false))) {
    private val (m, h, n, v, g) = (field("m"), field("h"), field("n"), field("v"), field("g"))
    def emit(r: InternalRow, time: Any): InternalRow = {
      val kind = r.getUTF8String(m)
      val name = r.getUTF8String(n)
      if (time == null || name == null || kind == null || !kinds(kind)) null
      else new GenericInternalRow(Array[Any](time, kind, orEmpty(r, h), name,
        if (r.isNullAt(v)) null else r.getDouble(v), tags(r, g)))
    }
  }

  /** Records with a time and a service survive; level and data default to "". */
  case object Logs extends WireLayout("l", "logs", Schemas.wireLog, schema(
      ("time", TimestampType, true), ("host", StringType, false),
      ("service", StringType, true), ("level", StringType, false),
      ("data", StringType, false), ("tags", tagsType, false))) {
    private val (h, s, l, d, g) = (field("h"), field("s"), field("l"), field("d"), field("g"))
    def emit(r: InternalRow, time: Any): InternalRow = {
      val service = r.getUTF8String(s)
      if (time == null || service == null) null
      else new GenericInternalRow(Array[Any](time, orEmpty(r, h), service,
        orEmpty(r, l), orEmpty(r, d), tags(r, g)))
    }
  }

  /** Records with a time and a type survive; data defaults to "". */
  case object Events extends WireLayout("e", "events", Schemas.wireEvent, schema(
      ("time", TimestampType, true), ("host", StringType, false),
      ("type", StringType, true), ("data", StringType, false),
      ("tags", tagsType, false))) {
    private val (h, e, d, g) = (field("h"), field("e"), field("d"), field("g"))
    def emit(r: InternalRow, time: Any): InternalRow = {
      val kind = r.getUTF8String(e)
      if (time == null || kind == null) null
      else new GenericInternalRow(Array[Any](time, orEmpty(r, h), kind,
        orEmpty(r, d), tags(r, g)))
    }
  }
}

/** Decodes a column of wire envelope lines into `layout`'s output rows:
  * the records under the short key, then those under the long key.
  *
  * Invariant: a canonical envelope is tokenized once, by one Jackson
  * streaming parser from the factory `from_json` builds; any other
  * line goes whole to `from_json(line, Schemas.wireBatch)`, evaluated here,
  * so `from_json`'s PERMISSIVE and partial-result semantics stay the
  * reference and the only reading of such a line. Canonical means: valid
  * UTF-8 starting with neither a byte-order mark nor a NUL byte; a root
  * object holding only the six envelope keys, each at most once, each null
  * or an array of objects whose keys belong to that key's record struct,
  * each at most once; string fields strings or null, `v` a finite number
  * or null, `g` null or an object of string values with distinct keys;
  * nothing after the root. On such a line `from_json` reads every field
  * without a conversion error, and the decode here reads the same values.
  * Both paths hand each record to the same [[WireLayout.emit]] and `t` to
  * the same TRY-mode `Cast` to timestamp under `sessionZone`.
  */
case class WireDecode(child: Expression, layout: WireLayout, sessionZone: String)
    extends UnaryExpression with Generator with CodegenFallback {
  import WireDecode._

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")
  override def elementSchema: StructType = layout.output
  override def prettyName: String = "wire_decode"

  @transient private lazy val factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], sessionZone, "").buildJsonFactory()

  @transient private lazy val reference: Expression =
    JsonToStructs(Schemas.wireBatch, Map.empty, BoundReference(0, StringType, nullable = true),
      Some(sessionZone))

  private val timeField = layout.record.fieldIndex("t")

  @transient private lazy val time: Expression =
    Cast(BoundReference(timeField, StringType, nullable = true),
      TimestampType, Some(sessionZone), EvalMode.TRY)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    if (line == null) Nil
    else {
      val rows = canonical(line)
      if (rows != null) rows else viaReference(line)
    }
  }

  private def emit(rec: InternalRow, into: ArrayBuffer[InternalRow]): Unit = {
    val row = layout.emit(rec, time.eval(rec))
    if (row != null) into += row
  }

  /** The output rows of a canonical line; null for any other line, which
    * then goes to [[viaReference]].
    */
  private[graft] def canonical(line: UTF8String): ArrayBuffer[InternalRow] = {
    val p = parser(line)
    if (p == null) return null
    try {
      if (p.nextToken() != START_OBJECT) return null
      val short, long = new ArrayBuffer[InternalRow]
      var seen = 0
      while (p.nextToken() == FIELD_NAME) {
        val key = p.currentName
        val k = indexOf(envelopeKeys, key)
        if (k < 0 || (seen & (1 << k)) != 0) return null
        seen |= 1 << k
        val into = if (key == layout.short) short else if (key == layout.long) long else null
        p.nextToken() match {
          case VALUE_NULL =>
          case START_ARRAY => if (!records(p, k, into)) return null
          case _ => return null
        }
      }
      if (p.currentToken != END_OBJECT || p.nextToken() != null) return null
      short ++= long
    } catch {
      case NonFatal(_) => null
    } finally p.close()
  }

  /** `from_json` reads the line through a UTF-8 `Reader`. A line of valid
    * UTF-8 that starts with neither a byte-order mark nor a NUL byte (either
    * would steer Jackson's byte-source encoding detection) reads as the same
    * characters through the same factory's byte-source parser, which skips
    * the char decoding; any other line gets no parser (null) and so goes to
    * [[viaReference]]. An all-ASCII line is valid UTF-8 without the full
    * check.
    */
  private def parser(line: UTF8String): JsonParser = {
    val bb = line.getByteBuffer
    val (bytes, off, len) = (bb.array, bb.arrayOffset + bb.position, bb.remaining)
    var ascii = true
    var i = off
    while (ascii && i < off + len) { ascii = bytes(i) >= 0; i += 1 }
    var plain = (ascii || line.isValid) && (len == 0 || bytes(off) != 0xEF.toByte)
    i = 0
    while (plain && i < math.min(len, 4)) { plain = bytes(off + i) != 0; i += 1 }
    if (plain) factory.createParser(bytes, off, len) else null
  }

  /** Reads an array of records up to its end; false if one is not canonical.
    * Records of the other streams are checked but not kept (`into` null).
    */
  private def records(p: JsonParser, k: Int, into: ArrayBuffer[InternalRow]): Boolean = {
    while (p.nextToken() == START_OBJECT) {
      val r = record(p, k)
      if (r == null) return false
      if (into != null) emit(r, into)
    }
    p.currentToken == END_ARRAY
  }

  /** One record of envelope key `k`, or null if it is not canonical. */
  private def record(p: JsonParser, k: Int): InternalRow = {
    val rec = recordTypes(k)
    val row = new GenericInternalRow(rec.length)
    var seen = 0
    while (p.nextToken() == FIELD_NAME) {
      val i = indexOf(recordNames(k), p.currentName)
      if (i < 0 || (seen & (1 << i)) != 0) return null
      seen |= 1 << i
      val t = p.nextToken()
      if (t != VALUE_NULL) rec(i).dataType match {
        case StringType if t == VALUE_STRING =>
          row.update(i, UTF8String.fromString(p.getText))
        case DoubleType if t == VALUE_NUMBER_INT || t == VALUE_NUMBER_FLOAT =>
          val d = p.getDoubleValue
          if (d.isNaN || d.isInfinite) return null
          row.setDouble(i, d)
        case _: MapType if t == START_OBJECT =>
          val m = stringMap(p)
          if (m == null) return null
          row.update(i, m)
        case _ => return null
      }
    }
    row
  }

  /** An object of string values with distinct keys, or null. */
  private def stringMap(p: JsonParser): MapData = {
    val keys, values = new ArrayBuffer[UTF8String](4)
    while (p.nextToken() == FIELD_NAME) {
      keys += UTF8String.fromString(p.currentName)
      if (p.nextToken() != VALUE_STRING) return null
      values += UTF8String.fromString(p.getText)
    }
    if (keys.distinct.length != keys.length) return null
    ArrayBasedMapData(keys.toArray[Any], values.toArray[Any])
  }

  /** `from_json` reads the whole line; records under the layout's keys
    * (short first) are emitted, null elements skipped.
    */
  private def viaReference(line: UTF8String): ArrayBuffer[InternalRow] = {
    val out = new ArrayBuffer[InternalRow]
    val b = reference.eval(new GenericInternalRow(Array[Any](line))).asInstanceOf[InternalRow]
    if (b != null) Seq(layout.short, layout.long).foreach { key =>
      val k = indexOf(envelopeKeys, key)
      if (!b.isNullAt(k)) {
        val arr = b.getArray(k)
        val width = recordTypes(k).length
        (0 until arr.numElements()).foreach { i =>
          if (!arr.isNullAt(i)) emit(arr.getStruct(i, width), out)
        }
      }
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): WireDecode =
    copy(child = newChild)
}

object WireDecode {

  /** Envelope key → record struct, in [[Schemas.wireBatch]] order. */
  private val envelopeKeys = Schemas.wireBatch.fieldNames
  private val recordTypes = Schemas.wireBatch.fields.map(
    _.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType])
  private val recordNames = recordTypes.map(_.fieldNames)

  private def indexOf(names: Array[String], name: String): Int = {
    var i = 0
    while (i < names.length && names(i) != name) i += 1
    if (i < names.length) i else -1
  }
}
