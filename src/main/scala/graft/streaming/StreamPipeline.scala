package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.ipc.ArrowIpc
import graft.sources.JsonConvert

/** End-to-end streaming pipeline (SURVEY §2 a8, d1): ND-JSON lines →
  * schema-driven parse → Arrow IPC serialize → publish, as a Structured
  * Streaming job — bolson's client→converter→publisher loop
  * (reference: src/bolson/stream.cpp:117-190) with micro-batches replacing
  * buffer rotation and the streaming engine replacing hand-rolled drain /
  * shutdown logic.
  *
  * In production the source is `readStream.format("socket")` (or Kafka);
  * checkpointing + foreachBatch give at-least-once publish. A checkpoint on
  * a local path has its offset and commit logs written by
  * [[LocalCheckpointFileManager]] (java.nio, fsync, no shell forks).
  */
object StreamPipeline {

  /** The conversion stage shared by every entry point: parse a line-stream
    * against an explicit schema, FAILFAST on malformed records. With
    * `strict` the parse also errors on unexpected fields — bolson's
    * UnexpectedFieldBehavior::Error (parse/arrow.cpp:89), checked inside
    * the parse's own tokenization ([[JsonConvert.parseJsonStrict]]); the
    * relaxed default ([[JsonConvert.parseJson]], the same expression with
    * the check off) fits trusted/self-generated corpora where the check
    * is provably vacuous. */
  def convert(lines: DataFrame, schema: StructType, strict: Boolean = false): DataFrame = {
    val parse = if (strict) JsonConvert.parseJsonStrict _ else JsonConvert.parseJson _
    lines.select(parse(col("value"), schema).as("rec"))
      .select("rec.*")
  }

  /** Build the production streaming pipeline against any line source
    * (socket/Kafka/files): conversion → IPC → publisher, via foreachBatch.
    * The publisher factory receives the micro-batch id (epoch) so sinks
    * that name outputs by batch_id stay collision-free across batches
    * (batch ids restart per serialize run — see [[FilePublisher]]).
    * Returns the query-ready writer so callers own trigger/checkpoint. */
  def publishStream(lines: DataFrame, schema: StructType, maxRows: Int,
                    mkPublisher: Long => Publisher) =
    convert(lines, schema).writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        Publish.run(ArrowIpc.serialize(batch.toDF(), maxRows), () => mkPublisher(epoch)); ()
      }

  /** Per-JVM memoized events ND-JSON corpus (micros timestamps: the IPC
    * unit) — the wire-format input a8 streams from files, materialized once
    * per data dir exactly like the a2/a3 corpora (generating input is
    * harness work; production ND-JSON arrives from storage or the wire). */
  private[graft] def eventsJsonCorpusPath(spark: SparkSession, dir: String): String =
    graft.Memo.table("a8-corpus", Seq(dir)) { p =>
      val ev = eventsProjection(spark, dir)
      ev.select(to_json(struct(ev.columns.map(col): _*)).as("json")).write.text(p)
    }

  private def eventsProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))

  /** a8: the full pipeline as an oracle-checkable query, with no
    * driver-side buffering anywhere — ND-JSON corpus on disk → file-source
    * `readStream` (several micro-batches via maxFilesPerTrigger) →
    * schema-driven parse → Arrow IPC → [[FilePublisher]] (per-partition
    * producers, one .arrow file per message) → read the published files
    * back → deserialize. Mirrors bolson's drain-then-shutdown stream loop
    * (reference: src/bolson/stream.cpp:117-190) where no stage ever holds
    * the corpus centrally. Identity oracle: any row lost, duplicated, or
    * mangled anywhere in the pipeline hash-mismatches. */
  def a8StreamPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = eventsProjection(spark, dir).schema
    val corpus = eventsJsonCorpusPath(spark, dir)
    val outDir = graft.GraftSession.scratchDir("a8-publish").toString
    val ckpt = graft.GraftSession.scratchDir("a8-ckpt").toString
    val lines = spark.readStream
      .option("maxFilesPerTrigger", "8")
      .text(corpus)
    val query = publishStream(lines, schema, maxRows = 4096,
      epoch => new FilePublisher(outDir, epoch))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    query.awaitTermination()
    spark.streams.resetTerminated()
    val files = spark.read.format("binaryFile").load(s"$outDir/*.arrow")
      .select(col("content")).as[Array[Byte]]
      .map(b => graft.ipc.IpcMessage(0L, 0L, b.length.toLong, b))
    ArrowIpc.deserialize(spark, files, schema)
      .transform(graft.operators.Relational.gateOrder("event_id"))
  }
}
