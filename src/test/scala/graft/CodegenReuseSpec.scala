package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ipc.ArrowIpc
import graft.streaming.{FilePublisher, Publish, StreamPipeline}

/** A streaming query reuses the classes an earlier query of the JVM
  * compiled for the same plan. Spark runs each query in a session clone,
  * and under artifact isolation each clone's tasks get their own class
  * loader, which is part of the codegen cache key: every drain would then
  * compile its whole-stage iterators and projections again. */
class CodegenReuseSpec extends SparkSpec {

  private val schema = StructType.fromDDL("id BIGINT, name STRING, voltage ARRAY<BIGINT>")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    GraftSession.registerCleanup(d.toFile)
    d
  }

  /** One AvailableNow drain of `in`, the stream path end to end (strict
    * parse → Arrow IPC → file publish) with a fresh checkpoint and output
    * directory; returns the rows published. */
  private def drain(in: Path): Long = {
    val out = tmpDir("graft-cgr-out-").toString
    val rows = new AtomicLong(0L)
    val lines = spark.readStream.option("maxFilesPerTrigger", "1").text(in.toString)
    val q = StreamPipeline.convert(lines, schema, strict = true).writeStream
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val stats = Publish.run(ArrowIpc.serialize(batch.toDF(), maxRows = 64),
          () => new FilePublisher(out, epoch))
        rows.addAndGet(stats.rows); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-cgr-ckpt-").toString)
      .start()
    try q.awaitTermination() finally spark.streams.resetTerminated()
    rows.get()
  }

  test("every query runs under one class loader: artifact isolation is off") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a second identical stream drain compiles no new classes") {
    val in = tmpDir("graft-cgr-in-")
    (0 until 3).foreach { f =>
      Files.writeString(in.resolve(s"part-$f.json"), (0 until 200).map { i =>
        val id = f * 200 + i
        s"""{"id":$id,"name":"n$id","voltage":[$i,${i + 1},${i * 2}]}"""
      }.mkString("", "\n", "\n"))
    }
    assert(drain(in) == 600)
    val before = compiles
    assert(drain(in) == 600)
    val added = compiles - before
    assert(added == 0, s"the second drain compiled $added classes")
  }
}
