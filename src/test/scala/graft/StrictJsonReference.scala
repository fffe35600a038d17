package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The two-pass strict parse the one-pass [[graft.sources.JsonConvert]]
  * forms are compared against: a `json_object_keys` pass lists the
  * top-level keys, a `filter` keeps those outside the schema, and
  * `assert_true` raises on any before `from_json` (FAILFAST) parses the
  * line. A line that is not one JSON object has null keys, which pass
  * (`coalesce`: under ANSI `size(null)` is null, not -1), so the parse
  * decides it. */
object StrictJsonReference {

  private def unexpected(line: Column, schema: StructType): Column =
    filter(json_object_keys(line), k => !k.isin(schema.fieldNames.toSeq: _*))

  def parseJsonStrict(line: Column, schema: StructType): Column = {
    val keys = unexpected(line, schema)
    val check = assert_true(coalesce(size(keys), lit(0)) <= 0,
      concat(lit("unexpected JSON field(s): "), concat_ws(",", keys)))
    when(check.isNull, from_json(line, schema, Map("mode" -> "FAILFAST")))
  }
}
