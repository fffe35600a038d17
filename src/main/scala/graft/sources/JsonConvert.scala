package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, StrictJsonToStructs}
import org.apache.spark.sql.types._

import graft.Tables

/** Schema-driven JSON → columnar conversion (SURVEY §2 a1-a3).
  *
  * Bolson parses newline-delimited JSON against an explicit Arrow schema
  * with unexpected-field-behavior = Error (reference:
  * src/bolson/parse/arrow.cpp:90-92, doc/src/schemas.md). The Spark-native
  * equivalent is `from_json` with an explicit StructType in FAILFAST mode —
  * fully codegen'd, parallel per input split, no UDFs.
  */
object JsonConvert {

  /** Preset schemas mirroring bolson's fixed-schema parsers. */
  object Schemas {
    /** battery_status: {"voltage": [u64, ...]} — reference:
      * doc/src/schemas.md "Battery status", parse/opae/battery.cpp. Spark
      * has no unsigned types; values are bounded (illex_MAX=2047) so i64 is
      * lossless. */
    val battery: StructType = StructType(Seq(
      StructField("voltage", ArrayType(LongType, containsNull = false), nullable = false)))

    /** trip_report — the full 19-field schema from doc/src/schemas.md
      * "Trip report" (parse/opae/trip.cpp). Arrow's fixed-size lists map
      * to ArrayType (Spark has no fixed-length array type); the declared
      * lengths live in `tripListLengths` and are validated by spec. */
    val tripListLengths: Map[String, Int] = Map(
      "sec_in_band" -> 12, "miles_in_time_range" -> 24,
      "const_speed_miles_in_band" -> 12, "vary_speed_miles_in_band" -> 12,
      "sec_decel" -> 10, "sec_accel" -> 10, "braking" -> 6, "accel" -> 6,
      "small_speed_var" -> 13, "large_speed_var" -> 13)

    val trip: StructType = {
      def u64(name: String) = StructField(name, LongType, nullable = false)
      def u64list(name: String) =
        StructField(name, ArrayType(LongType, containsNull = false), nullable = false)
      StructType(Seq(
        StructField("timestamp", StringType, nullable = false),
        u64("timezone"), u64("vin"), u64("odometer"),
        StructField("hypermiling", BooleanType, nullable = false),
        u64("avgspeed"),
        u64list("sec_in_band"), u64list("miles_in_time_range"),
        u64list("const_speed_miles_in_band"), u64list("vary_speed_miles_in_band"),
        u64list("sec_decel"), u64list("sec_accel"),
        u64list("braking"), u64list("accel"),
        StructField("orientation", BooleanType, nullable = false),
        u64list("small_speed_var"), u64list("large_speed_var"),
        u64("accel_decel"), u64("speed_changes")))
    }
  }

  /** Parse a JSON string column against an explicit schema, erroring on
    * malformed records: `from_json` in FAILFAST mode, with the same rows
    * and errors. Extra top-level fields are ignored; for bolson's full
    * UnexpectedFieldBehavior::Error semantics use [[parseJsonStrict]]. It
    * is [[parseJsonStrict]]'s expression with the key check off, so both
    * modes share one schema-compiled converter and one fallback to
    * Spark's parser. */
  def parseJson(c: Column, schema: StructType): Column =
    ColumnBridge.column(StrictJsonToStructs(schema, ColumnBridge.expression(c), strict = false))

  /** a13: PERMISSIVE conversion with corrupt-record accounting — the
    * production counterpart of bolson's fail-on-first-error mode: one bad
    * line must not kill a 100 TB ingest, it must be COUNTED and routed
    * aside. Every 100th line of the events corpus is deterministically
    * mangled (closing brace dropped); the PERMISSIVE parse lands those in
    * the corrupt-record column and the query reports per-bucket good vs
    * corrupt counts. The oracle knows which lines were planted, so the
    * parse's corrupt classification is pinned exactly — a salvaged or
    * over-rejected line hash-mismatches. */
  def a13PermissiveParse(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsFanned(spark, dir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    val line = to_json(struct(ev.columns.map(col): _*))
    val corrupted = ev.select(col("event_id"),
      when(col("event_id") % 100 === 0,
        substring(line, lit(1), length(line) - 1) // drop '}': unambiguously malformed
      ).otherwise(line).as("line"))
    val parseSchema = ev.schema.add("_corrupt", StringType)
    corrupted
      .select(col("event_id"),
        from_json(col("line"), parseSchema, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")).as("rec"))
      .select(col("event_id"), col("rec._corrupt").isNotNull.as("is_corrupt"))
      .groupBy((col("event_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_corrupt"), 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("is_corrupt"), 0L).otherwise(1L)).as("n_good"))
      .orderBy("bucket")
  }

  /** Strict parse: additionally errors when the JSON object carries any
    * top-level field outside the schema — bolson's
    * UnexpectedFieldBehavior::Error (reference: src/bolson/parse/arrow.cpp:90-92).
    * One native expression ([[StrictJsonToStructs]]) parses each line once.
    * For a flat schema of long, double, boolean and string fields and
    * arrays of long or double, a schema-compiled converter writes each
    * clean line straight into an `UnsafeRow`; any line it declines (an
    * unexpected or repeated key, a value of another type or `null`,
    * invalid UTF-8, not one JSON object) goes to Spark's own parser, which
    * records unexpected keys as it steps over them and raises
    * `unexpected JSON field(s): a,b` (keys in document order) like
    * `assert_true` does. A line that is not one JSON object (truncated,
    * a root array or scalar, `""`) is decided by the parse alone: FAILFAST
    * `MALFORMED_RECORD_IN_PARSING`, or a null record for `""`. When the
    * parse fails on a line that also has unexpected keys, the
    * unexpected-field error wins. */
  def parseJsonStrict(c: Column, schema: StructType): Column =
    ColumnBridge.column(StrictJsonToStructs(schema, ColumnBridge.expression(c)))

  /** a1: schema-driven parse of the events.props JSON payload column, in
    * full strict mode (malformed AND unexpected-field errors). */
  def a1JsonParse(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    Tables.eventsFanned(spark, dir)
      .select(col("event_id"),
        parseJsonStrict(col("props"), schema).getField("k").as("k"))
      .transform(graft.operators.Relational.gateOrder("event_id"))
  }

  /** a2: battery_status conversion — read the pre-materialized wire-format
    * corpus (see [[batteryJsonCorpusPath]]; construction happens once,
    * outside the measured query), parse with the preset schema, then
    * reduce: read → parse → reduce, mirroring a3. The oracle computes the
    * same reduction relationally, so any parse infidelity
    * hash-mismatches. */
  def a2JsonBattery(spark: SparkSession, dir: String): DataFrame = {
    // key rides alongside the battery payload (bolson correlates batches by
    // position/seq; a key column is the relational equivalent)
    val corpus = spark.read.parquet(batteryJsonCorpusPath(spark, dir))
    corpus
      .select(col("l_orderkey"),
        // full bolson semantics: malformed AND unexpected-field errors
        // (parse/arrow.cpp:89 sets UnexpectedFieldBehavior::Error
        // unconditionally, so strict is the preset default, not an option)
        parseJsonStrict(col("json"), Schemas.battery).as("rec"))
      .select(col("l_orderkey"),
        size(col("rec.voltage")).cast("bigint").as("n_readings"),
        aggregate(col("rec.voltage"), lit(0L), (acc, x) => acc + x).as("sum_voltage"),
        array_max(col("rec.voltage")).as("max_voltage"))
      .transform(graft.operators.Relational.gateOrder("l_orderkey"))
  }

  /** Per-JVM memoized battery corpus: deterministic battery_status JSON
    * lines (voltage readings = per-order quantities in linenumber order)
    * materialized once — generating the wire-format input is harness work,
    * same rationale as [[tripJsonCorpusPath]]. */
  private[graft] def batteryJsonCorpusPath(spark: SparkSession, dir: String): String =
    graft.Memo.table("a2-corpus", Seq(dir)) { p =>
      Tables.lineitemFanned(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(transform(
          array_sort(collect_list(struct(col("l_linenumber").as("ln"),
            col("l_quantity").cast("bigint").as("q")))),
          x => x.getField("q")).as("voltage"))
        .select(col("l_orderkey"), to_json(struct(col("voltage"))).as("json"))
        .write.parquet(p)
    }

  /** Deterministic trip_report ND-JSON lines from orders: (o_orderkey,
    * json). Assembled with codegen'd string concat rather than to_json:
    * Jackson-based generation was the single largest cost of a3 (2.5s of
    * 4.1s at sf0.1) and generating input is harness work, not the
    * conversion under test. Field order, separators, and bool/number
    * formatting match to_json's output exactly (spec-pinned), so the
    * parse sees the identical wire format. */
  private[graft] def tripJsonLines(o: DataFrame): DataFrame = {
    val odo = floor(col("o_totalprice")).cast("bigint")
    def u64list(n: Int, base: Column, step: Int, mod: Int): Column =
      concat(lit("["),
        concat_ws(",", (0 until n).map(i =>
          ((base + i * step) % mod).cast("string")): _*),
        lit("]"))
    def field(name: String, v: Column): Column =
      concat(lit("\"" + name + "\":"), v)
    o.select(col("o_orderkey"), concat(
      lit("{"),
      concat_ws(",",
        field("timestamp",
          concat(lit("\""), date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("\""))),
        field("timezone", (col("o_custkey") % 24).cast("string")),
        field("vin", col("o_orderkey").cast("string")),
        field("odometer", odo.cast("string")),
        field("hypermiling", (col("o_totalprice") > 1000.0).cast("string")),
        field("avgspeed", (odo % 120).cast("string")),
        field("sec_in_band", u64list(12, col("o_orderkey"), 1, 60)),
        field("miles_in_time_range", u64list(24, col("o_custkey"), 1, 100)),
        field("const_speed_miles_in_band", u64list(12, odo, 1, 50)),
        field("vary_speed_miles_in_band", u64list(12, odo, 2, 50)),
        field("sec_decel", u64list(10, col("o_orderkey") * 2, 1, 60)),
        field("sec_accel", u64list(10, col("o_orderkey") * 3, 1, 60)),
        field("braking", u64list(6, col("o_custkey"), 1, 10)),
        field("accel", u64list(6, col("o_custkey"), 2, 10)),
        field("orientation", (col("o_orderkey") % 2 === 0).cast("string")),
        field("small_speed_var", u64list(13, odo, 1, 30)),
        field("large_speed_var", u64list(13, odo, 3, 30)),
        field("accel_decel", (col("o_custkey") % 10).cast("string")),
        field("speed_changes", (odo % 100).cast("string"))),
      lit("}")).as("json"))
  }

  /** Per-JVM memoized trip corpus: [[tripJsonLines]] materialized once to a
    * scratch parquet and read back. Generating the wire-format input costs
    * more than parsing it (4.6 s of a3's 7.5 s at sf0.1) and is harness
    * work — bolson's convert bench likewise reads a pre-materialized corpus
    * (reference: src/bolson/bench.cpp GenerateJSONs before the clock
    * starts). The query under measurement becomes read → parse → reduce,
    * which is also the production shape (ND-JSON arrives from storage or
    * the wire; it is never re-generated per query). */
  private[graft] def tripJsonCorpusPath(spark: SparkSession, dir: String): String =
    graft.Memo.table("a3-corpus", Seq(dir)) { p =>
      tripJsonLines(Tables.ordersFanned(spark, dir)).select("json").write.text(p)
    }

  /** a3: trip_report conversion round-trip over orders — the full 19-field
    * schema (fixed-length u64 lists, bools, utf8) generated
    * deterministically (see [[tripJsonLines]]), parsed back, and reduced.
    * Every field rides through the parse; the oracle recomputes the
    * reductions relationally. Fixed-length list sums are unrolled
    * element_at adds — codegen'd, where the `aggregate` HOF would fall back
    * to interpreted eval (~1.9 s of a3 at sf0.1). */
  def a3JsonTrip(spark: SparkSession, dir: String): DataFrame = {
    def sumFixed(c: Column, n: Int): Column =
      (1 to n).map(i => element_at(c, i)).reduce(_ + _)
    // the corpus's lines through the strict parse, with bolson's
    // unexpected-field error (parse/arrow.cpp:89): one tokenization per
    // line, by the schema-compiled converter
    spark.read.text(tripJsonCorpusPath(spark, dir))
      .select(parseJsonStrict(col("value"), Schemas.trip).as("rec"))
      .select("rec.*")
      .select(
        col("vin"),
        col("timestamp").as("trip_date"),
        col("timezone"),
        col("hypermiling"),
        col("odometer"),
        col("avgspeed"),
        col("orientation"),
        sumFixed(col("sec_in_band"), Schemas.tripListLengths("sec_in_band")).as("sum_sec_in_band"),
        sumFixed(col("miles_in_time_range"), Schemas.tripListLengths("miles_in_time_range")).as("sum_miles_in_time_range"),
        sumFixed(col("small_speed_var"), Schemas.tripListLengths("small_speed_var")).as("sum_small_speed_var"),
        (col("accel_decel") + col("speed_changes")).as("events_total"))
      .transform(graft.operators.Relational.gateOrder("vin"))
  }
}
