package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-micro-batch latency sample (SURVEY §2 a9): bolson tracks per-batch
  * time-in-stage seconds (reference: src/bolson/latency.h,
  * convert/metrics.cpp); Structured Streaming already measures the
  * equivalent stages per micro-batch — this listener snapshots them.
  * `phases` is the batch's whole `durationMs` map (`latestOffset`,
  * `walCommit`, `commitOffsets`, `queryPlanning`, `getBatch`, `addBatch`,
  * `triggerExecution`, ...): where a batch's time went outside its tasks. */
case class BatchLatency(batchId: Long, inputRows: Long,
                        addBatchMs: Long, triggerMs: Long,
                        rowsPerSec: Double, phases: Map[String, Long])

/** StreamingQueryListener collecting per-batch latency/throughput samples
  * for any graft streaming pipeline. Attach with
  * `spark.streams.addListener(listener)`; samples accumulate driver-side
  * (O(batches), bounded by retention). */
class LatencyListener(retain: Int = 1024,
                      queryName: Option[String] = None) extends StreamingQueryListener {
  private val buf = new ConcurrentLinkedQueue[BatchLatency]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    // listeners are session-global: without a name filter, concurrent
    // queries' batches would pollute this pipeline's samples
    if (queryName.exists(n => p.name == null || p.name != n)) return
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    buf.add(BatchLatency(p.batchId, p.numInputRows,
      phases.getOrElse("addBatch", 0L), phases.getOrElse("triggerExecution", 0L),
      p.processedRowsPerSecond, phases))
    while (buf.size > retain) { buf.poll(); () }
  }

  def samples: Seq[BatchLatency] = buf.asScala.toSeq

  def summary: Map[String, Double] = {
    val s = samples
    if (s.isEmpty) Map.empty
    else Map(
      "n_batches" -> s.size.toDouble,
      "rows_total" -> s.map(_.inputRows).sum.toDouble,
      "trigger_ms_avg" -> s.map(_.triggerMs).sum.toDouble / s.size,
      "trigger_ms_max" -> s.map(_.triggerMs).max.toDouble,
      "add_batch_ms_avg" -> s.map(_.addBatchMs).sum.toDouble / s.size) ++
      // mean ms per durationMs phase; a batch that did not report a phase
      // counts 0 for it
      s.flatMap(_.phases.keys).distinct.map(k =>
        s"phase_${k}_ms_avg" -> s.map(_.phases.getOrElse(k, 0L)).sum.toDouble / s.size)
  }
}
