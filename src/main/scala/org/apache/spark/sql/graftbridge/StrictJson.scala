package org.apache.spark.sql.graftbridge

import java.io.IOException

import scala.annotation.switch
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.util.JsonParserDelegate

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RaiseError, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{FailFastMode, FailureSafeParser, ResolveDefaultColumns}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeWithCollation
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, DoubleType, LongType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.Utils

/** bolson's UnexpectedFieldBehavior::Error over JSON lines: a top-level key
  * outside the schema is an error. Such a key's name is not a schema field
  * name (exact, case-sensitive, after JSON unescaping) and it sits
  * directly in the root object. */
object StrictJson {

  /** The top-level keys of `line` outside `known`, in document order; null
    * when the line is not one JSON object (empty, a root array or scalar,
    * or malformed before the root object closes), as `json_object_keys`
    * returns null. Tokenizes up to the root object's end, never a value. */
  def unexpectedKeys(factory: JsonFactory, line: UTF8String,
                     known: java.util.Set[String]): Seq[String] =
    try Utils.tryWithResource(CreateJacksonParser.utf8String(factory, line)) { p =>
      if (p.nextToken() != JsonToken.START_OBJECT) null
      else {
        val keys = ArrayBuffer.empty[String]
        while (p.nextValue() != null && p.currentName != null) {
          if (!known.contains(p.currentName)) keys += p.currentName
          p.skipChildren()
        }
        keys.toSeq
      }
    } catch { case _: JsonProcessingException | _: IOException => null }

  /** Raise `message` as `assert_true` does: USER_RAISED_EXCEPTION. */
  def raise(message: String): Nothing = {
    RaiseError(Literal(UTF8String.fromString(message))).eval()
    throw new IllegalStateException(message) // unreachable: eval throws
  }

  private[graftbridge] def knownFields(schema: StructType): java.util.Set[String] =
    new java.util.HashSet[String](java.util.Arrays.asList(schema.fieldNames: _*))

  /** JSON options with the defaults `from_json` and the JSON reader parse
    * with; the zone converts values only, so tokenizing ignores it. */
  private[graftbridge] def options(timeZoneId: String, corruptRecord: String = ""): JSONOptions =
    new JSONOptions(Map("mode" -> FailFastMode.name), timeZoneId, corruptRecord)
}

/** `from_json(child, schema, FAILFAST)` that also errors on unexpected
  * top-level fields, in one tokenization of the line; with `strict` off it
  * is `from_json(child, schema, FAILFAST)` alone.
  *
  * Each line first goes to the schema-compiled [[JsonRowConverter]], when
  * the schema is one it supports (a flat struct of long, double, boolean
  * and string fields and arrays of long or double). A line it takes
  * becomes an `UnsafeRow` straight from a byte-based Jackson parser; a
  * line it declines goes through the parser pair below unchanged, so every
  * error and every row the converter does not make comes from Spark's own
  * parser.
  *
  * The parser pair is built as Spark's `JsonToStructsEvaluator` builds it
  * (nullable schema, session time zone, corrupt-record column dropped from
  * the parser's schema), except that, when strict, the Jackson parser is
  * wrapped in a delegate that records each top-level field name outside
  * the schema as `JacksonParser` steps over it. A clean parse that
  * recorded keys raises `unexpected JSON field(s): a,b`. The key check
  * takes precedence over the parse, so a parse that throws is followed by
  * a keys-only scan of the line ([[StrictJson.unexpectedKeys]]):
  * unexpected keys raise the unexpected-field error, otherwise the parse
  * error stands. A clean line is tokenized once. */
case class StrictJsonToStructs(
    schema: StructType,
    child: Expression,
    timeZoneId: Option[String] = None,
    strict: Boolean = true)
  extends UnaryExpression with TimeZoneAwareExpression with CodegenFallback
    with ExpectsInputTypes {

  private val nullableSchema = schema.asNullable

  override def dataType: DataType = nullableSchema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringTypeWithCollation(supportsTrimCollation = true))
  override def prettyName: String = if (strict) "graft_strict_from_json" else "graft_from_json"

  override def withTimeZone(timeZoneId: String): StrictJsonToStructs =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val evaluator = new StrictJsonEvaluator(
    nullableSchema, timeZoneId.get,
    SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD), strict)

  override def nullSafeEval(json: Any): Any =
    evaluator.evaluate(json.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): StrictJsonToStructs =
    copy(child = newChild)
}

/** Per-task state of [[StrictJsonToStructs]]; not thread-safe, like
  * Spark's JSON evaluator. */
private[graftbridge] final class StrictJsonEvaluator(
    schema: StructType, timeZoneId: String, corruptRecord: String, strict: Boolean) {

  private val options = StrictJson.options(timeZoneId, corruptRecord)
  private val known = StrictJson.knownFields(schema)
  private val scanFactory = options.buildJsonFactory()
  // unexpected keys of the line being parsed, in document order
  private val unexpected = ArrayBuffer.empty[String]
  // null when the schema is outside the converter's types
  private val converter =
    JsonRowConverter.compile(schema, scanFactory, strict, options.columnNameOfCorruptRecord).orNull

  /** Lines that went to [[fallback]]: every line the converter declined, or
    * every line when the schema has no converter. */
  private[graftbridge] var fallbacks = 0L

  /** Sees every token `JacksonParser` reads (it advances only through
    * `nextToken`; `skipChildren` skips nested values, never a root key). */
  private final class KeyRecorder(p: JsonParser) extends JsonParserDelegate(p) {
    override def nextToken(): JsonToken = {
      val t = delegate.nextToken()
      if (t == JsonToken.FIELD_NAME && delegate.getParsingContext.getParent.inRoot &&
          !known.contains(delegate.currentName)) unexpected += delegate.currentName
      t
    }
  }

  private val parser = {
    val parserSchema = StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord))
    val jackson = new JacksonParser(parserSchema, options, allowArrayAsStructs = false)
    val createParser: (JsonFactory, UTF8String) => JsonParser =
      if (strict) (f, s) => new KeyRecorder(CreateJacksonParser.utf8String(f, s))
      else CreateJacksonParser.utf8String
    new FailureSafeParser[UTF8String](
      in => jackson.parse(in, createParser, identity[UTF8String]),
      options.parseMode, schema, options.columnNameOfCorruptRecord)
  }

  private def raise(keys: Seq[String]): Nothing =
    StrictJson.raise("unexpected JSON field(s): " + keys.mkString(","))

  def evaluate(line: UTF8String): InternalRow = {
    val row = if (converter == null) null else converter.convert(line)
    if (row != null) row
    else { fallbacks += 1; fallback(line) }
  }

  /** Spark's parser alone: the row, error or null of `line` without the
    * converter. */
  private[graftbridge] def fallback(line: UTF8String): InternalRow = {
    unexpected.clear()
    val rows = try parser.parse(line) catch {
      case NonFatal(e) if strict =>
        val keys = StrictJson.unexpectedKeys(scanFactory, line, known)
        if (keys != null && keys.nonEmpty) raise(keys) else throw e
    }
    if (unexpected.nonEmpty) raise(unexpected.toSeq)
    if (rows.hasNext) rows.next() else null
  }
}

/** The schema-compiled fast path of [[StrictJsonEvaluator]]: one line of
  * JSON straight into `UnsafeRow` bytes, or null for a line it does not
  * take cleanly, which the caller then hands to Spark's parser.
  *
  * It takes a line only when Spark's parser would make the same row from
  * it: valid UTF-8 (Spark's reader-based parser replaces invalid bytes,
  * this byte-based one would not), one root object and nothing after it,
  * each schema field at most once and in schema order, and every value of
  * its field's type (no `null`, no number beyond a long). A key outside
  * the schema is declined when strict and skipped otherwise; a missing
  * field is null, as `JacksonParser` leaves it. The bytes written are the
  * ones an `UnsafeProjection` of Spark's row writes: fields in ordinal
  * order through the same writer calls. Each returned row owns its bytes. */
private[graftbridge] final class JsonRowConverter private (
    schema: StructType, kinds: Array[Int], factory: JsonFactory, strict: Boolean) {
  import JsonRowConverter._
  import JsonToken._

  private val ordinals = new java.util.HashMap[String, Integer]()
  schema.fieldNames.zipWithIndex.foreach { case (name, i) => ordinals.put(name, i) }
  private val row = new UnsafeRowWriter(schema.length)
  private val array = new UnsafeArrayWriter(row, 8)
  // elements of the list being read: its length is known only at its end
  private var longs = new Array[Long](16)
  private var doubles = new Array[Double](16)

  def convert(line: UTF8String): InternalRow =
    if (!validUtf8(line)) null
    else try {
      val bytes = line.getByteBuffer
      val p = factory.createParser(bytes.array, bytes.arrayOffset + bytes.position, bytes.remaining)
      try convertRoot(p) finally p.close()
    } catch { case NonFatal(_) => null }

  /** `line.isValid`, after a word-at-a-time pass that finds an ASCII line
    * (the common case) valid without `UTF8String`'s byte-by-byte decode. */
  private def validUtf8(line: UTF8String): Boolean = {
    val base = line.getBaseObject
    val end = line.getBaseOffset + line.numBytes
    var at = line.getBaseOffset
    while (at + 8 <= end) {
      if ((Platform.getLong(base, at) & 0x8080808080808080L) != 0) return line.isValid
      at += 8
    }
    while (at < end) {
      if (Platform.getByte(base, at) < 0) return line.isValid
      at += 1
    }
    true
  }

  private def convertRoot(p: JsonParser): InternalRow = {
    if (p.nextToken() != START_OBJECT) return null
    row.reset()
    row.zeroOutNullBytes()
    var next = 0 // the first ordinal neither written nor nulled
    while (p.nextToken() == FIELD_NAME) {
      val i = ordinals.get(p.currentName)
      if (i == null) {
        if (strict) return null
        p.nextToken()
        p.skipChildren()
      } else {
        if (i < next) return null // a key seen twice, or out of schema order
        while (next < i) { row.setNullAt(next); next += 1 }
        if (!write(i, p)) return null
        next = i + 1
      }
    }
    if (p.currentToken != END_OBJECT || p.nextToken() != null) return null
    while (next < schema.length) { row.setNullAt(next); next += 1 }
    row.getRow.copy()
  }

  private def write(i: Int, p: JsonParser): Boolean = {
    val t = p.nextToken()
    (kinds(i): @switch) match {
      case LongKind =>
        if (!isLong(t, p)) return false
        row.write(i, p.getLongValue)
      case DoubleKind =>
        if (!isDouble(t, p)) return false
        row.write(i, p.getDoubleValue)
      case BooleanKind =>
        if (t == VALUE_TRUE) row.write(i, true)
        else if (t == VALUE_FALSE) row.write(i, false)
        else return false
      case StringKind =>
        if (t != VALUE_STRING) return false
        row.write(i, UTF8String.fromString(p.getText))
      case LongArrayKind | DoubleArrayKind =>
        return t == START_ARRAY && writeArray(i, p, kinds(i) == DoubleArrayKind)
    }
    true
  }

  private def writeArray(i: Int, p: JsonParser, ofDouble: Boolean): Boolean = {
    var n = 0
    var t = p.nextToken()
    while (t != END_ARRAY) {
      if (ofDouble) {
        if (!isDouble(t, p)) return false
        if (n == doubles.length) doubles = java.util.Arrays.copyOf(doubles, 2 * n)
        doubles(n) = p.getDoubleValue
      } else {
        if (!isLong(t, p)) return false
        if (n == longs.length) longs = java.util.Arrays.copyOf(longs, 2 * n)
        longs(n) = p.getLongValue
      }
      n += 1
      t = p.nextToken()
    }
    val start = row.cursor()
    array.initialize(n)
    var j = 0
    while (j < n) {
      if (ofDouble) array.write(j, doubles(j)) else array.write(j, longs(j))
      j += 1
    }
    row.setOffsetAndSizeFromPreviousCursor(i, start)
    true
  }
}

private[graftbridge] object JsonRowConverter {
  final val LongKind = 0
  final val DoubleKind = 1
  final val BooleanKind = 2
  final val StringKind = 3
  final val LongArrayKind = 4
  final val DoubleArrayKind = 5

  private def kindOf(t: DataType): Option[Int] = t match {
    case LongType => Some(LongKind)
    case DoubleType => Some(DoubleKind)
    case BooleanType => Some(BooleanKind)
    case StringType => Some(StringKind)
    case ArrayType(LongType, _) => Some(LongArrayKind)
    case ArrayType(DoubleType, _) => Some(DoubleArrayKind)
    case _ => None
  }

  private def isLong(t: JsonToken, p: JsonParser): Boolean =
    t == JsonToken.VALUE_NUMBER_INT && p.getNumberType != JsonParser.NumberType.BIG_INTEGER

  private def isDouble(t: JsonToken, p: JsonParser): Boolean =
    t == JsonToken.VALUE_NUMBER_FLOAT || isLong(t, p)

  /** The converter of `schema`, or None when the schema has a field of
    * another type, a duplicate or corrupt-record field name, or a column
    * default (Spark fills those in for missing fields). */
  def compile(schema: StructType, factory: JsonFactory, strict: Boolean,
              corruptRecord: String): Option[JsonRowConverter] = {
    val kinds = schema.fields.toSeq.map(f => kindOf(f.dataType))
    val plain = schema.fieldNames.distinct.length == schema.length &&
      !schema.fieldNames.contains(corruptRecord) &&
      !schema.exists(_.metadata.contains(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
    if (schema.nonEmpty && plain && kinds.forall(_.isDefined))
      Some(new JsonRowConverter(schema, kinds.flatten.toArray, factory, strict))
    else None
  }
}
