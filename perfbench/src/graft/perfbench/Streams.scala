package graft.perfbench

import java.io.{BufferedWriter, File, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.ipc.ArrowIpc
import graft.metrics.{LatencyListener, StageTimers}
import graft.sources.JsonConvert
import graft.streaming.{FilePublisher, Publish, StreamPipeline}

/** The `Main stream` path at CLI defaults, driven through its public
  * entry points: strict parse, max-rows 4096, max-ipc 5 MiB, codec none,
  * one [[FilePublisher]] file per message. */
object Streams {
  val MaxRows = 4096
  val MaxIpc: Long = 5L * 1024 * 1024

  /** One micro-batch as the benchmark saw it from inside foreachBatch. */
  final case class BatchRec(epoch: Long, startNs: Long, endNs: Long,
                            messages: Long, rows: Long, bytes: Long)

  /** One started query's output and timeline. */
  final class Run(val out: String) {
    val batches = new ConcurrentHashMap[Long, BatchRec]()
    @volatile var rows = 0L
    def recs: Seq[BatchRec] = batches.values.asScala.toSeq.sortBy(_.epoch)
  }

  /** Start the pipeline over `lines`, publishing into `run.out`. */
  def start(lines: DataFrame, schema: org.apache.spark.sql.types.StructType,
            run: Run, tracer: Tracer, timers: Option[StageTimers],
            trigger: Trigger, ckpt: String) =
    StreamPipeline.convert(lines, schema, strict = true).writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val t0 = System.nanoTime()
        val out = run.out
        val st = tracer.span("streaming.batch") {
          Publish.run(ArrowIpc.serialize(batch.toDF(), MaxRows, MaxIpc, "none", timers),
            () => new FilePublisher(out, epoch), timers)
        }
        run.batches.put(epoch,
          BatchRec(epoch, t0, System.nanoTime(), st.messages, st.rows, st.bytes))
        run.rows += st.rows
        ()
      }
      .trigger(trigger)
      .option("checkpointLocation", ckpt)
      .start()

  // ------------------------------------------------------------- backlog

  /** Write `files` ND-JSON files of `perFile` trip events; returns the
    * events in file order and the bytes written. */
  def writeBacklog(dir: File, seed: Long, files: Int, perFile: Int): (Seq[Gen.Event], Long) = {
    Main.deleteTree(dir)
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    var bytes = 0L
    val events = (0 until files).flatMap { f =>
      val evs = (0 until perFile).map(_ => Gen.trip(r))
      val text = evs.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(new File(dir, f"part-$f%05d.json").toPath, text)
      bytes += text.length
      evs
    }
    (events, bytes)
  }

  /** Drain the backlog once, as `Main stream --in-dir` does: file source,
    * eight files per trigger, AvailableNow, a fresh checkpoint. */
  def drain(spark: SparkSession, backlog: File, work: File, tag: String,
            tracer: Tracer, timers: Option[StageTimers]): (Run, Long, Long) = {
    val run = new Run(new File(work, s"out-$tag").getPath)
    val ckpt = new File(work, s"ckpt-$tag").getPath
    val t0 = System.nanoTime()
    val q = tracer.span("streaming.drain") {
      val lines = spark.readStream.option("maxFilesPerTrigger", "8").text(backlog.getPath)
      val q = start(lines, JsonConvert.Schemas.trip, run, tracer, timers,
        Trigger.AvailableNow(), ckpt)
      q.awaitTermination()
      q
    }
    val t1 = System.nanoTime()
    spark.streams.resetTerminated()
    Main.deleteTree(new File(ckpt))
    require(q.exception.isEmpty, s"drain failed: ${q.exception}")
    (run, t0, t1)
  }

  // -------------------------------------------------------------- paced

  /** Open-loop feeder: event i is due `i / rate` seconds after the first
    * connection and is sent as soon as it is due, whatever the consumer
    * does. Records due and send times in nanoseconds. */
  final class Feeder(events: IndexedSeq[Gen.Event], rate: Double) extends Runnable {
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val dueNs = new Array[Long](events.length)
    val sentNs = new Array[Long](events.length)
    @volatile var stop = false
    @volatile var error: Option[Throwable] = None
    private val thread = new Thread(this, "perfbench-feeder")
    thread.setDaemon(true)
    def port: Int = server.getLocalPort
    def begin(): Unit = thread.start()

    override def run(): Unit = try {
      val sock = server.accept()
      val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream,
        StandardCharsets.UTF_8), 1 << 16)
      val period = 1e9 / rate
      val t0 = System.nanoTime()
      var i = 0
      while (i < events.length && !stop) {
        val due = t0 + (i * period).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        val now = System.nanoTime()
        // everything already due goes out in one write
        while (i < events.length && t0 + (i * period).toLong <= now) {
          dueNs(i) = t0 + (i * period).toLong
          out.write(events(i).json); out.write('\n')
          sentNs(i) = now
          i += 1
        }
        out.flush()
      }
      while (!stop) Thread.sleep(5)
      sock.close()
    } catch {
      case t: Throwable => if (!stop) error = Some(t)
    }

    def close(): Unit = {
      stop = true
      server.close()
      thread.join(10000)
    }
  }

  def batteryEvents(seed: Long, n: Int): IndexedSeq[Gen.Event] = {
    val r = new SplittableRandom(seed)
    (0 until n).map(i => Gen.battery(r, i))
  }

  /** Feed `events` over a local socket at `rate` events/s through the
    * pipeline under a fixed processing-time trigger, then wait (at most
    * `drainS` seconds) until every event is published. */
  def paced(spark: SparkSession, events: IndexedSeq[Gen.Event], rate: Double,
            triggerMs: Long, drainS: Double, work: File, tag: String,
            tracer: Tracer, timers: Option[StageTimers],
            latency: Option[LatencyListener]): (Run, Feeder) = {
    val run = new Run(new File(work, s"out-$tag").getPath)
    val ckpt = new File(work, s"ckpt-$tag").getPath
    val feeder = new Feeder(events, rate)
    feeder.begin()
    tracer.span("streaming.paced") {
      val lines = spark.readStream.format("socket")
        .option("host", "127.0.0.1").option("port", feeder.port.toString).load()
      latency.foreach(l => spark.streams.addListener(l))
      val q = start(lines, JsonConvert.Schemas.battery, run, tracer, timers,
        Trigger.ProcessingTime(triggerMs), ckpt)
      val deadline = System.nanoTime() + ((events.length / rate + drainS) * 1e9).toLong
      while (run.rows < events.length && System.nanoTime() < deadline &&
             q.isActive && feeder.error.isEmpty)
        Thread.sleep(10)
      q.stop()
    }
    feeder.close()
    latency.foreach(l => spark.streams.removeListener(l))
    spark.streams.resetTerminated()
    Main.deleteTree(new File(ckpt))
    feeder.error.foreach(e => throw e)
    (run, feeder)
  }

  /** Per-event latency of an open loop: from each event's *due* time to
    * the end of the micro-batch that published it. Events not published
    * have no latency and are counted as failed elsewhere. */
  def openLoopLatencyMs(dueNs: Array[Long], epochOf: Map[Int, Long],
                        batchEndNs: Map[Long, Long]): Seq[Double] =
    epochOf.toSeq.flatMap { case (seq, epoch) =>
      batchEndNs.get(epoch).map(end => (end - dueNs(seq)) / 1e6)
    }
}
