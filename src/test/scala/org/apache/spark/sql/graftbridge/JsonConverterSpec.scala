package org.apache.spark.sql.graftbridge

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{PresetLines, SparkSpec}
import graft.sources.JsonConvert

/** The schema-compiled converter of [[StrictJsonEvaluator]] changes no
  * outcome: over generated lines, clean and broken, the evaluator gives
  * the row bytes, or the error class and message, that Spark's parser
  * alone ([[StrictJsonEvaluator.fallback]]) gives; and it takes every
  * clean preset line itself (deterministic seeds: failures reproduce). */
class JsonConverterSpec extends SparkSpec {

  private val battery = JsonConvert.Schemas.battery
  private val trip = JsonConvert.Schemas.trip
  private val mixed = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("name", StringType), StructField("ok", BooleanType),
    StructField("weights", ArrayType(DoubleType))))

  private def evaluator(schema: StructType, strict: Boolean) =
    new StrictJsonEvaluator(schema.asNullable, "UTC", "_corrupt_record", strict)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // stands for an invalid UTF-8 sequence until the line is encoded
  private val Marker = "\uE000"
  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0xBF, 0x41), Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80),
    Array(0xF4, 0x90, 0x80, 0x80)).map(_.map(_.toByte))

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private val text: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(12)), 1 -> Gen.const(""),
    1 -> Gen.oneOf("uniçødé ☃", "emoji 😀", "quote \" and \\ slash", "tab\tline\n", "2020-01-31"))

  private def good(t: DataType): Gen[String] = t match {
    case LongType => Gen.frequency(4 -> Gen.chooseNum(0L, 2047L), 1 -> Gen.long,
      1 -> Gen.oneOf(Long.MaxValue, Long.MinValue, -1L)).map(_.toString)
    case DoubleType => Gen.frequency(
      4 -> Gen.chooseNum(-1e6, 1e6).map(_.toString),
      2 -> Gen.chooseNum(-1000L, 1000L).map(_.toString),
      1 -> Gen.oneOf("-0.0", "1.5e300", "2.5E-3", "1e400", "NaN", "Infinity", "-Infinity",
        "0.1000000000000000055511151231257827"))
    case BooleanType => Gen.oneOf("true", "false")
    case StringType => text.map(quote)
    case ArrayType(e, _) =>
      Gen.chooseNum(0, 14).flatMap(Gen.listOfN(_, good(e))).map(_.mkString("[", ",", "]"))
  }

  private def bad(t: DataType): Gen[String] = t match {
    case LongType => Gen.oneOf("null", "1.5", "1e3", "\"7\"", "9223372036854775808",
      "-9223372036854775809", "123456789012345678901234567890", "NaN", "true", "[1]", "{}")
    case DoubleType => Gen.oneOf("null", "\"1.5\"", "\"NaN\"", "\"x\"",
      "123456789012345678901234567890", "true", "[1.0]", "{\"a\":1}")
    case BooleanType => Gen.oneOf("null", "1", "\"true\"", "0", "[]")
    case StringType => Gen.oneOf("null", "12", "1.5", "true", "[\"a\"]", "{\"a\":1}")
    case ArrayType(e, _) => Gen.oneOf(
      Gen.oneOf("null", "{}", "\"[1]\"", "7", "[[1]]", "[1,]"),
      for { xs <- Gen.listOfN(3, good(e)); i <- Gen.chooseNum(0, 3); x <- Gen.oneOf(Gen.const("null"), bad(e)) }
        yield xs.patch(i, Seq(x), 0).mkString("[", ",", "]"))
  }

  // JSON key literals outside every schema here (the last ones differ
  // from a field name in case or spacing only)
  private val unknownKey: Gen[String] =
    Gen.oneOf("\"x\"", "\"rogue\"", "\"\\u0078\"", "\"\"", "\"Voltage\"", "\"VIN\"", "\"id \"")
  private val anyValue: Gen[String] = Gen.oneOf("1", "-2.5", "null", "true", "\"s\"", "[]",
    "[1, [2, {\"a\": null}]]", "{}", "{\"voltage\": [1], \"deep\": {\"x\": 1}}")

  private type Fields = Seq[(String, String)]

  /** A clean object's fields: every schema field in order, a value of its type. */
  private def clean(schema: StructType): Gen[Fields] =
    Gen.sequence[Seq[(String, String)], (String, String)](
      schema.fields.toSeq.map(f => good(f.dataType).map(v => quote(f.name) -> v)))

  /** `fs` (clean, so position i is schema field i) with at most one change. */
  private def mutate(schema: StructType, fs: Fields): Gen[Fields] = {
    val at = Gen.chooseNum(0, fs.length)
    val field = Gen.chooseNum(0, fs.length - 1)
    val stringField = schema.fields.indexWhere(_.dataType == StringType)
    Gen.oneOf(
      Gen.const(fs),
      // fields missing, reordered, duplicated
      Gen.someOf(fs.indices).map(keep => fs.indices.filter(keep.toSet).map(fs)),
      Gen.long.map(seed => new scala.util.Random(seed).shuffle(fs)),
      for { i <- field; j <- at; v <- good(schema(i).dataType) } yield fs.patch(j, Seq(fs(i)._1 -> v), 0),
      // an unknown key, and a schema key spelled with an escape
      for { k <- unknownKey; v <- anyValue; j <- at } yield fs.patch(j, Seq(k -> v), 0),
      field.map(i => fs.updated(i, ("\"\\u" + f"${fs(i)._1.charAt(1).toInt}%04x" + fs(i)._1.drop(2)) -> fs(i)._2)),
      // a value of another type, or null
      for { i <- field; v <- bad(schema(i).dataType) } yield fs.updated(i, fs(i)._1 -> v),
      field.map(i => fs.updated(i, fs(i)._1 -> "null")),
      // invalid UTF-8 inside a string: a string field's value, or a key
      if (stringField < 0) at.map(j => fs.patch(j, Seq(quote("k" + Marker) -> "1"), 0))
      else Gen.const(fs.updated(stringField, fs(stringField)._1 -> quote("a" + Marker + "b"))))
  }

  private def render(fs: Fields, sep: String): String =
    fs.map { case (k, v) => k + ":" + v }.mkString("{", sep, "}")

  /** One line for `schema`: a clean or mutated object, or a broken line. */
  private def line(schema: StructType): Gen[String] = for {
    fs <- clean(schema).flatMap(mutate(schema, _))
    sep <- Gen.oneOf(",", ", ", " ,\n ")
    obj = render(fs, sep)
    l <- Gen.frequency(
      8 -> Gen.const(obj),
      1 -> Gen.chooseNum(0, obj.length - 1).map(obj.take),
      1 -> Gen.oneOf("[" + obj + "]", "5", "\"str\"", "true", "null", "", "   ", "[]"),
      1 -> Gen.oneOf(" xyz", "}", " {\"x\": 1}", "  ", ",").map(obj + _),
      1 -> Gen.oneOf("é", Marker).map(m => obj.patch(obj.length / 2, m, 0)))
  } yield l

  /** `line` as UTF-8, each marker replaced by one of the invalid sequences. */
  private def encode(line: String, seed: Long): UTF8String = {
    val parts = line.split(Marker, -1).map(_.getBytes(UTF_8))
    val out = new java.io.ByteArrayOutputStream()
    parts.zipWithIndex.foreach { case (p, i) =>
      if (i > 0) out.write(invalidUtf8(((seed + i) % invalidUtf8.length).toInt))
      out.write(p)
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  /** The row's bytes as an `UnsafeProjection` writes them (a converter row
    * is compared as it is), or the error class and message. */
  private def outcome(project: UnsafeProjection, f: => InternalRow): Either[(String, String), Seq[Byte]] =
    try Right(f match {
      case null => null
      case u: UnsafeRow => u.getBytes.toSeq
      case r => project(r).getBytes.toSeq
    }) catch {
      case e: Exception =>
        val condition = e match { case t: SparkThrowable => t.getCondition; case _ => null }
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => t.getClass.getName + ": " + t.getMessage).mkString(" <- ")
        Left((String.valueOf(condition), causes))
    }

  for ((name, schema) <- Seq("battery" -> battery, "trip" -> trip, "mixed" -> mixed);
       strict <- Seq(true, false)) {
    test(s"property: converter plus fallback equals the fallback alone, $name, " +
         (if (strict) "strict" else "relaxed")) {
      val project = UnsafeProjection.create(schema.asNullable)
      val ev = evaluator(schema, strict)
      val ref = evaluator(schema, strict)
      var fast = 0
      for (i <- 0 until 600) {
        val seed = schema.length * 100000L + (if (strict) 0 else 50000) + i
        val l = encode(sample(line(schema), seed), seed)
        val before = ev.fallbacks
        val got = outcome(project, ev.evaluate(l))
        if (ev.fallbacks == before) fast += 1
        val want = outcome(project, ref.fallback(l))
        assert(got == want, s"line $i: ${l.getBytes.map(b => f"${b & 0xff}%02x").mkString(" ")} / $l")
      }
      // the generated lines reach both paths
      assert(fast > 100 && fast < 560, s"$fast of 600 lines took the converter")
    }
  }

  test("coverage: clean preset lines all take the converter, each planted bad line falls back once") {
    val trips = PresetLines.trip(spark, sfDir)
    val batteries = PresetLines.battery(spark, sfDir)
    assert(trips.size > 100 && batteries.size > 100)
    for ((schema, lines) <- Seq(trip -> trips, battery -> batteries); strict <- Seq(true, false)) {
      val ev = evaluator(schema, strict)
      lines.foreach(l => assert(ev.evaluate(UTF8String.fromString(l)) != null))
      assert(ev.fallbacks == 0, s"${schema.fieldNames.head}: clean lines fell back")
      val planted = Seq(
        lines.head.replaceFirst("\\{", "{\"" + schema.fieldNames.head + "\":null,"),
        lines.head.dropRight(1) + ",\"" + schema.fieldNames.head + "\":[]}",
        lines.head + " x")
      planted.zipWithIndex.foreach { case (bad, k) =>
        val before = ev.fallbacks
        try ev.evaluate(UTF8String.fromString(bad)) catch { case _: Exception => }
        assert(ev.fallbacks == before + 1, s"planted line $k: $bad")
        assert(ev.evaluate(UTF8String.fromString(lines(k + 1))) != null)
        assert(ev.fallbacks == before + 1, s"the clean line after planted line $k fell back")
      }
    }
    // a schema outside the converter's types sends every line to the parser
    val nested = evaluator(StructType(Seq(StructField("meta",
      StructType(Seq(StructField("id", LongType)))))), strict = true)
    nested.evaluate(UTF8String.fromString("""{"meta": {"id": 1}}"""))
    assert(nested.fallbacks == 1)
  }
}
