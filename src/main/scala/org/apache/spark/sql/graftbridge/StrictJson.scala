package org.apache.spark.sql.graftbridge

import java.io.IOException

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.util.JsonParserDelegate

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RaiseError, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{FailFastMode, FailureSafeParser}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeWithCollation
import org.apache.spark.sql.types.{AbstractDataType, DataType, NullType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.Utils

/** bolson's UnexpectedFieldBehavior::Error over JSON lines: a top-level key
  * outside the schema is an error. Both expressions below share one
  * definition of such a key: its name is not a schema field name (exact,
  * case-sensitive, after JSON unescaping) and it sits directly in the
  * root object. */
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
  * top-level fields, in one tokenization of the line.
  *
  * The parser pair is built as Spark's `JsonToStructsEvaluator` builds it
  * (nullable schema, session time zone, corrupt-record column dropped from
  * the parser's schema), except that the Jackson parser is wrapped in a
  * delegate that records each top-level field name outside the schema as
  * `JacksonParser` steps over it. A clean parse that recorded keys raises
  * `unexpected JSON field(s): a,b`. The key check takes precedence over
  * the parse, so a parse that throws is followed by a keys-only scan of
  * the line ([[StrictJson.unexpectedKeys]]): unexpected keys raise the
  * unexpected-field error, otherwise the parse error stands. A clean line
  * is tokenized once. */
case class StrictJsonToStructs(
    schema: StructType,
    child: Expression,
    timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression with CodegenFallback
    with ExpectsInputTypes {

  private val nullableSchema = schema.asNullable

  override def dataType: DataType = nullableSchema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringTypeWithCollation(supportsTrimCollation = true))
  override def prettyName: String = "graft_strict_from_json"

  override def withTimeZone(timeZoneId: String): StrictJsonToStructs =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val evaluator = new StrictJsonEvaluator(
    nullableSchema, timeZoneId.get,
    SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD))

  override def nullSafeEval(json: Any): Any =
    evaluator.evaluate(json.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): StrictJsonToStructs =
    copy(child = newChild)
}

/** Per-task state of [[StrictJsonToStructs]]; not thread-safe, like
  * Spark's JSON evaluator. */
private final class StrictJsonEvaluator(
    schema: StructType, timeZoneId: String, corruptRecord: String) {

  private val options = StrictJson.options(timeZoneId, corruptRecord)
  private val known = StrictJson.knownFields(schema)
  private val scanFactory = options.buildJsonFactory()
  // unexpected keys of the line being parsed, in document order
  private val unexpected = ArrayBuffer.empty[String]

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
    val createParser = (f: JsonFactory, s: UTF8String) =>
      new KeyRecorder(CreateJacksonParser.utf8String(f, s)): JsonParser
    new FailureSafeParser[UTF8String](
      in => jackson.parse(in, createParser, identity[UTF8String]),
      options.parseMode, schema, options.columnNameOfCorruptRecord)
  }

  private def raise(keys: Seq[String]): Nothing =
    StrictJson.raise("unexpected JSON field(s): " + keys.mkString(","))

  def evaluate(line: UTF8String): InternalRow = {
    unexpected.clear()
    val rows = try parser.parse(line) catch {
      case NonFatal(e) =>
        val keys = StrictJson.unexpectedKeys(scanFactory, line, known)
        if (keys != null && keys.nonEmpty) raise(keys) else throw e
    }
    if (unexpected.nonEmpty) raise(unexpected.toSeq)
    if (rows.hasNext) rows.next() else null
  }
}

/** The scan-side strict check: null on every line, raising
  * `unexpected JSON field(s) in: <line>` on a line whose keys-only scan
  * ([[StrictJson.unexpectedKeys]]) finds a top-level key outside
  * `schema`. A line that is not one JSON object passes; the parse that
  * reads it decides. */
case class StrictJsonFieldGuard(schema: StructType, child: Expression)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def dataType: DataType = NullType
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringTypeWithCollation(supportsTrimCollation = true))
  override def prettyName: String = "graft_strict_json_guard"

  @transient private lazy val known = StrictJson.knownFields(schema)
  @transient private lazy val factory =
    StrictJson.options(SQLConf.get.sessionLocalTimeZone).buildJsonFactory()

  override def nullSafeEval(json: Any): Any = {
    val line = json.asInstanceOf[UTF8String]
    val keys = StrictJson.unexpectedKeys(factory, line, known)
    if (keys != null && keys.nonEmpty) StrictJson.raise(s"unexpected JSON field(s) in: $line")
    null
  }

  override protected def withNewChildInternal(newChild: Expression): StrictJsonFieldGuard =
    copy(child = newChild)
}
