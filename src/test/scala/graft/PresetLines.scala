package graft

import org.apache.spark.sql.SparkSession

import graft.sources.JsonConvert

/** The a2 battery_status and a3 trip_report wire-format lines of a data
  * dir, for specs outside package `graft`. */
object PresetLines {
  def trip(spark: SparkSession, dir: String): Seq[String] = {
    import spark.implicits._
    JsonConvert.tripJsonLines(Tables.orders(spark, dir)).select("json").as[String].collect().toSeq
  }

  def battery(spark: SparkSession, dir: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(JsonConvert.batteryJsonCorpusPath(spark, dir))
      .select("json").as[String].collect().toSeq
  }
}
