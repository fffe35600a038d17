package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.JsonConvert

class JsonConvertSpec extends SparkSpec {
  import spark.implicits._

  test("a1 extracts the JSON payload for every event") {
    val df = JsonConvert.a1JsonParse(spark, sfDir)
    assert(df.filter(col("k").isNull).count() == 0)
    assert(df.count() == Tables.events(spark, sfDir).count())
  }

  test("a2 battery round-trip preserves per-order quantity sums") {
    val got = JsonConvert.a2JsonBattery(spark, sfDir)
    val want = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("bigint")).as("direct_sum"))
    val joined = got.join(want, "l_orderkey")
      .filter(col("sum_voltage") =!= col("direct_sum"))
    assert(joined.count() == 0)
  }

  test("a3 trip round-trip keeps bools, strings and nested list sums intact") {
    val df = JsonConvert.a3JsonTrip(spark, sfDir)
    assert(df.count() == Tables.orders(spark, sfDir).count())
    assert(df.schema("hypermiling").dataType == BooleanType)
    assert(df.filter(col("trip_date").rlike("^\\d{4}-\\d{2}-\\d{2}$")).count() == df.count())
  }

  test("a3 concat-generated wire lines are byte-identical to to_json") {
    // the fast concat generator must emit exactly what to_json would:
    // same field order, separators, and bool/number formatting
    val o = Tables.orders(spark, sfDir)
    val odo = floor(col("o_totalprice")).cast("bigint")
    def u64s(n: Int, base: org.apache.spark.sql.Column, step: Int, mod: Int) =
      array((0 until n).map(i => (base + i * step) % mod): _*)
    val viaToJson = o.select(col("o_orderkey"), to_json(struct(
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("timestamp"),
      (col("o_custkey") % 24).as("timezone"),
      col("o_orderkey").as("vin"),
      odo.as("odometer"),
      (col("o_totalprice") > 1000.0).as("hypermiling"),
      (odo % 120).as("avgspeed"),
      u64s(12, col("o_orderkey"), 1, 60).as("sec_in_band"),
      u64s(24, col("o_custkey"), 1, 100).as("miles_in_time_range"),
      u64s(12, odo, 1, 50).as("const_speed_miles_in_band"),
      u64s(12, odo, 2, 50).as("vary_speed_miles_in_band"),
      u64s(10, col("o_orderkey") * 2, 1, 60).as("sec_decel"),
      u64s(10, col("o_orderkey") * 3, 1, 60).as("sec_accel"),
      u64s(6, col("o_custkey"), 1, 10).as("braking"),
      u64s(6, col("o_custkey"), 2, 10).as("accel"),
      (col("o_orderkey") % 2 === 0).as("orientation"),
      u64s(13, odo, 1, 30).as("small_speed_var"),
      u64s(13, odo, 3, 30).as("large_speed_var"),
      (col("o_custkey") % 10).as("accel_decel"),
      (odo % 100).as("speed_changes"))).as("json"))
    val viaConcat = JsonConvert.tripJsonLines(o)
    assert(viaConcat.exceptAll(viaToJson).count() == 0 &&
      viaToJson.exceptAll(viaConcat).count() == 0,
      "concat generator must match to_json byte-for-byte")
  }

  test("FAILFAST mode rejects malformed JSON like bolson's error behavior") {
    val bad = Seq("""{"voltage": [1, 2]}""", """{"voltage": "not-a-list"""").toDF("json")
    val parsed = bad.select(
      JsonConvert.parseJson(col("json"), JsonConvert.Schemas.battery).as("rec"))
    assertThrows[SparkException](parsed.collect())
  }

  test("a2 battery preset errors on an extra field (strict is the preset default)") {
    // the registered a2 path parses with parseJsonStrict: an extra field in
    // the wire format must fail exactly like bolson (parse/arrow.cpp:89)
    val extra = Seq("""{"voltage": [1, 2], "intruder": true}""").toDF("json")
      .select(JsonConvert.parseJsonStrict(
        col("json"), JsonConvert.Schemas.battery).as("rec"))
    val e = intercept[Exception](extra.collect())
    assert(e.getMessage.contains("intruder") ||
      Option(e.getCause).exists(_.getMessage.contains("intruder")))
  }

  test("strict mode errors on unexpected fields (UnexpectedFieldBehavior::Error)") {
    val ok = Seq("""{"voltage": [1, 2]}""").toDF("json")
      .select(JsonConvert.parseJsonStrict(col("json"), JsonConvert.Schemas.battery).as("rec"))
    assert(ok.select(size(col("rec.voltage"))).head.getInt(0) == 2)
    val extra = Seq("""{"voltage": [1], "rogue": 7}""").toDF("json")
      .select(JsonConvert.parseJsonStrict(col("json"), JsonConvert.Schemas.battery).as("rec"))
    val e = intercept[Exception](extra.collect())
    assert(e.getMessage.contains("rogue") ||
      Option(e.getCause).exists(_.getMessage.contains("rogue")))
  }
}
