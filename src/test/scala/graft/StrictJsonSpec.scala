package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, JsonObjectKeys, JsonToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StrictJsonToStructs
import org.apache.spark.sql.types._

import graft.sources.JsonConvert
import graft.streaming.StreamPipeline

/** The one-pass strict parse equals the two-pass reference
  * ([[StrictJsonReference]]) line by line: the same rows, or the same
  * error class and message. */
class StrictJsonSpec extends SparkSpec {
  import spark.implicits._

  private val battery = JsonConvert.Schemas.battery
  private val trip = JsonConvert.Schemas.trip
  // two top-level fields (an unexpected key can sit between them) and a
  // nested struct (its unknown keys are not top-level)
  private val nested = StructType(Seq(
    StructField("voltage", ArrayType(LongType, containsNull = false)),
    StructField("meta", StructType(Seq(StructField("id", LongType))))))

  /** Rows of `frame`, or the error class and message of the innermost
    * classed error of its failure. */
  private def outcome(frame: => DataFrame): Either[(String, String), Seq[Row]] =
    try Right(frame.collect().toSeq)
    catch {
      case e: Exception =>
        val raised = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case t: SparkThrowable if t.getCondition != null => t }
          .toSeq.lastOption
          .getOrElse(fail("no error class in the failure chain", e))
        Left((raised.getCondition, raised.asInstanceOf[Throwable].getMessage))
    }

  /** Two runs of `f` over `lines`: on the local relation (the optimizer
    * evaluates it on the driver, interpreted) and in a task (generated
    * code); they must agree. */
  private def run(lines: Seq[String], f: DataFrame => DataFrame) = {
    val local = outcome(f(lines.toDF("value")))
    val task = outcome(f(lines.toDF("value").repartition(1)))
    assert(local == task, s"driver vs task, lines: $lines")
    task
  }

  private def parsed(lines: Seq[String], schema: StructType,
                     parse: (Column, StructType) => Column) =
    run(lines, _.select(parse(col("value"), schema).as("rec")))

  /** The one-pass outcome of `line`, after checking it equals the
    * reference's. */
  private def same(schema: StructType, line: String): Either[(String, String), Seq[Row]] = {
    val got = parsed(Seq(line), schema, JsonConvert.parseJsonStrict)
    val want = parsed(Seq(line), schema, StrictJsonReference.parseJsonStrict)
    assert(got == want, s"line: $line")
    got
  }

  private def unexpectedError(keys: String) =
    Left(("USER_RAISED_EXCEPTION", s"[USER_RAISED_EXCEPTION] unexpected JSON field(s): $keys SQLSTATE: P0001"))

  private def malformed(result: Either[(String, String), Seq[Row]]): Boolean =
    result.left.exists(_._1.startsWith("MALFORMED_RECORD_IN_PARSING"))

  test("clean battery and trip lines parse to the same rows") {
    assert(same(battery, """{"voltage": [1, 2, 2047]}""") == Right(Seq(Row(Row(Seq(1L, 2L, 2047L))))))
    assert(same(battery, """{"voltage": []}""") == Right(Seq(Row(Row(Seq.empty[Long])))))
    val trips = JsonConvert.tripJsonLines(Tables.orders(spark, sfDir))
      .limit(3).select("json").as[String].collect().toSeq
    assert(trips.size == 3)
    trips.foreach(t => assert(same(trip, t).isRight, t))
    assert(parsed(trips, trip, JsonConvert.parseJsonStrict) ==
      parsed(trips, trip, StrictJsonReference.parseJsonStrict))
  }

  test("an unexpected top-level key errors wherever it sits, keys in document order") {
    assert(same(nested, """{"x": 1, "voltage": [1], "meta": {"id": 2}}""") == unexpectedError("x"))
    assert(same(nested, """{"voltage": [1], "x": {"a": [1, {"b": 2}]}, "meta": {"id": 2}}""") ==
      unexpectedError("x"))
    assert(same(battery, """{"voltage": [1], "x": true}""") == unexpectedError("x"))
    assert(same(battery, """{"b": 1, "voltage": [1], "a": [2]}""") == unexpectedError("b,a"))
    assert(same(trip, """{"zz": null, "vin": 1, "aa": "s"}""") == unexpectedError("zz,aa"))
  }

  test("nested unknown keys are allowed") {
    assert(same(nested, """{"voltage": [1], "meta": {"id": 1, "deep": {"x": 1}}}""") ==
      Right(Seq(Row(Row(Seq(1L), Row(1L))))))
  }

  test("key names match exactly, after JSON unescaping") {
    assert(same(battery, """{"Voltage": [1]}""") == unexpectedError("Voltage"))
    assert(same(battery, """{"voltage": [1], "VOLTAGE": [2]}""") == unexpectedError("VOLTAGE"))
    val escaped = "{\"\\u0076oltage\": [3]}"
    assert(escaped.contains("\\u0076"))
    assert(same(battery, escaped) == Right(Seq(Row(Row(Seq(3L))))))
    assert(same(battery, "{\"voltage\": [3], \"\\u0078\": 1}") == unexpectedError("x"))
  }

  test("a line that also fails to parse reports its unexpected keys first") {
    assert(same(battery, """{"voltage": "not-a-list", "x": 1}""") == unexpectedError("x"))
    assert(same(battery, """{"x": 1, "voltage": {"a": 1}}""") == unexpectedError("x"))
    // the FAILFAST error's innermost cause names the field
    assert(same(battery, """{"voltage": "not-a-list"}""").left.map(_._1) ==
      Left("CANNOT_PARSE_JSON_FIELD"))
  }

  test("a line that is not one JSON object is the parse's to decide") {
    // truncated: the keys scan fails too, so the parse error stands
    assert(malformed(same(battery, """{"voltage": [1], "x": 1""")))
    assert(malformed(same(battery, """{"voltage": [1""")))
    Seq("""[{"voltage": [1]}]""", """[{"x": 1}]""", "5", "\"str\"", "true", "null")
      .foreach(l => same(battery, l))
    assert(same(battery, "") == Right(Seq(Row(null))))
    assert(same(battery, "   ") == Right(Seq(Row(null))))
    assert(same(battery, null) == Right(Seq(Row(null))))
  }

  test("trailing content after the root object and duplicate keys") {
    Seq("""{"voltage": [1]} xyz""", """{"voltage": [1]}}""", """{"voltage": [1]} {"x": 1}""",
        """{"voltage": [1], "x": 1} garbage""")
      .foreach(l => same(battery, l))
    assert(same(battery, """{"voltage": [1], "voltage": [2]}""").isRight)
    assert(same(battery, """{"voltage": [1], "x": 1, "x": 2}""") == unexpectedError("x,x"))
  }

  test("many lines: each line's outcome, the first failure stops the frame") {
    val lines = Seq("""{"voltage": [1]}""", """{"voltage": []}""", "",
      """{"voltage": [5, 6]}""")
    assert(parsed(lines, battery, JsonConvert.parseJsonStrict) ==
      parsed(lines, battery, StrictJsonReference.parseJsonStrict))
    val bad = lines :+ """{"voltage": [1], "rogue": 2}"""
    assert(parsed(bad, battery, JsonConvert.parseJsonStrict) == unexpectedError("rogue"))
  }

  test("the strict stream conversion parses each line once") {
    // not a local relation: the optimizer would evaluate the parse
    val lines = spark.range(2).select(
      concat(lit("{\"voltage\": ["), col("id").cast("string"), lit("]}")).as("value"))
    val plan = StreamPipeline.convert(lines, battery, strict = true).queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[StrictJsonToStructs]) == 1, plan)
    assert(!exprs.exists(e => e.isInstanceOf[JsonObjectKeys] || e.isInstanceOf[ArrayFilter] ||
      e.isInstanceOf[JsonToStructs]), plan)
  }
}
