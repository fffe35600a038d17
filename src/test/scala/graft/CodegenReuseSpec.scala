package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

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
  * compile its whole-stage iterators and projections again. The driver
  * plans on the tasks' loader too, so a task reuses the class the driver
  * compiled for its stage. */
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

  test("after the shared session start the driver plans on the task class loader") {
    val sc = spark.sparkContext
    sc.runJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) =>
      CodegenReuseSpec.taskLoader.set(Thread.currentThread.getContextClassLoader))
    assert(Thread.currentThread.getContextClassLoader eq CodegenReuseSpec.taskLoader.get)
  }

  test("a fresh single-stage query compiles its class once, on the driver") {
    // one partition: partial and final aggregate share one stage, so one
    // whole-stage class; the literal makes its code new to the JVM
    def aggregate(k: Long): Long = spark.range(0, 1000, 1, 1)
      .selectExpr(s"sum(id * $k + ${k % 7}) AS s").head().getLong(0)
    val seed = System.nanoTime() % 1000000L + 1000000L
    assert(aggregate(seed) == seed * 499500L + 1000L * (seed % 7))
    val before = compiles
    val k = seed + 1
    assert(aggregate(k) == k * 499500L + 1000L * (k % 7))
    val added = compiles - before
    assert(added == 1, s"a fresh single-stage query compiled $added classes")
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

object CodegenReuseSpec {
  private val taskLoader = new AtomicReference[ClassLoader]()
}
