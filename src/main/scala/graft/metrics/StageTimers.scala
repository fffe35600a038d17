package graft.metrics

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Per-stage time decomposition of the convert → serialize → publish
  * pipeline — bolson stamps every batch at six stage boundaries and dumps
  * per-stage seconds (reference: src/bolson/latency.h:30-40); Spark fuses
  * those stages into one task pipeline, so graft decomposes the fused task
  * from the inside with accumulator sums of task-side nanos:
  *  - parse: upstream iterator pull observed by the serialize task (source
  *    scan + schema-driven JSON parse feeding Arrow); for the preset and
  *    other flat schemas that parse is mostly the schema-compiled
  *    converter of `StrictJsonToStructs`, Spark's own parser running only
  *    for the lines it declines,
  *  - serialize: Arrow vector writes + IPC encoding + max-ipc resizing,
  *  - publish: Publisher.publish calls.
  * Values are CORE-nanos (summed over parallel tasks): for a
  * single-partition micro-batch they track the batch's wall time; at higher
  * parallelism they are aggregate per-stage compute time. Accumulator
  * caveat applies as for all pipeline metrics: retried tasks re-add. */
case class StageTimers(parseNs: LongAccumulator,
                       serializeNs: LongAccumulator,
                       publishNs: LongAccumulator) {
  def parseMs: Double = parseNs.value / 1e6
  def serializeMs: Double = serializeNs.value / 1e6
  def publishMs: Double = publishNs.value / 1e6
}

object StageTimers {
  def apply(sc: SparkContext): StageTimers = StageTimers(
    sc.longAccumulator("graft.stage_parse_ns"),
    sc.longAccumulator("graft.stage_serialize_ns"),
    sc.longAccumulator("graft.stage_publish_ns"))
}
