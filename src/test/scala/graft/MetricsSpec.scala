package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.metrics.LatencyListener
import graft.streaming.{CollectingPublisher, StreamPipeline}

/** a9 latency-tracking spec: the listener must observe every micro-batch
  * of a pipeline run with sane durations. */
class MetricsSpec extends SparkSpec {

  test("LatencyListener captures per-batch latency for the stream pipeline") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val listener = new LatencyListener()
    spark.streams.addListener(listener)
    try {
      val ev = Tables.events(spark, sfDir).select(
        col("event_id"), col("user_id"), col("value"))
      val lines = ev.select(to_json(struct(ev.columns.map(col): _*)).as("j"))
        .as[String].collect().toSeq
      val stream = MemoryStream[String]
      CollectingPublisher.clear()
      val q = StreamPipeline.publishStream(stream.toDF(), ev.schema, 4096,
        _ => new CollectingPublisher).start()
      try {
        lines.grouped(math.max(1, lines.length / 3 + 1)).foreach { chunk =>
          stream.addData(chunk)
          q.processAllAvailable()
        }
      } finally q.stop()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (listener.samples.map(_.inputRows).sum < lines.length &&
             System.nanoTime() < deadline) Thread.sleep(50)
      val s = listener.samples.filter(_.inputRows > 0)
      assert(s.map(_.inputRows).sum == lines.length, "every row metered")
      assert(s.forall(b => b.triggerMs >= b.addBatchMs && b.triggerMs >= 0))
      // the whole durationMs split: the two log commits sit inside the
      // trigger, next to the source listing, planning and the batch itself
      val phases = Seq("latestOffset", "walCommit", "commitOffsets",
        "queryPlanning", "getBatch", "addBatch", "triggerExecution")
      s.foreach { b =>
        assert(phases.forall(b.phases.contains), s"phases missing: ${b.phases}")
        assert(b.phases("walCommit") + b.phases("commitOffsets") <= b.triggerMs,
          s"log commits exceed the trigger: ${b.phases}")
        assert(b.phases("addBatch") == b.addBatchMs && b.phases("triggerExecution") == b.triggerMs)
      }
      val sum = listener.summary
      assert(sum("rows_total") >= lines.length.toDouble)
      assert(sum("trigger_ms_max") >= sum("trigger_ms_avg"))
      assert(phases.forall(k => sum.contains(s"phase_${k}_ms_avg")), s"phase averages: $sum")
    } finally spark.streams.removeListener(listener)
  }

  test("CpuClock attributes task CPU by job group (r15 channel isolation)") {
    import spark.implicits._
    val clock = new graft.metrics.CpuClock()
    spark.sparkContext.addSparkListener(clock)
    try {
      def burn(): Unit = spark.range(0, 2000000, 1, 4)
        .select(sum(crc32(md5(col("id").cast("string"))))).collect()
      spark.sparkContext.setJobGroup("grp-a", "a")
      burn()
      spark.sparkContext.clearJobGroup()
      val aAfterA = clock.settledGroup("grp-a")
      assert(aAfterA > 0L, "group-a work must be credited to group a")
      // foreign work — another group AND untagged — must not move group a:
      // this is exactly the r14 convert-sample contamination shape
      spark.sparkContext.setJobGroup("grp-b", "b")
      burn()
      spark.sparkContext.clearJobGroup()
      burn() // untagged
      assert(clock.settledGroup("grp-b") > 0L)
      assert(clock.settledGroup("grp-a") == aAfterA,
        "foreign task-end events must land in their own bucket")
      // the global counter still sees everything (query-suite chaining)
      assert(clock.settled() >= aAfterA + clock.settledGroup("grp-b"))
      // an unknown group reads zero, not a crash
      assert(clock.settledGroup("never-used") == 0L)
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  test("CpuClock group ledger records tasks + input volume (r16 self-diagnosis)") {
    val clock = new graft.metrics.CpuClock()
    spark.sparkContext.addSparkListener(clock)
    try {
      val ev = Tables.events(spark, sfDir)
      val expected = ev.count() // outside any group
      spark.sparkContext.setJobGroup("grp-ledger", "ledger")
      val n = ev.select(sum(crc32(col("event_type")))).collect()
      spark.sparkContext.clearJobGroup()
      assert(n.length == 1)
      val led = clock.settledGroupLedger("grp-ledger")
      assert(led.tasks > 0L, "the group's tasks must be counted")
      assert(led.cpuNs == clock.settledGroup("grp-ledger"),
        "ledger cpu and the scalar group counter are the same number")
      // a parquet scan's rows land in the ledger's input metrics — this
      // is what lets a breaching bench sample SHOW a cache-recompute
      assert(led.inputRows >= expected,
        s"scan of $expected rows must appear in input_rows, got ${led.inputRows}")
      assert(led.inputBytes > 0L)
      // job-end eviction (ADVICE r16) prunes stage→group entries only:
      // the cumulative group counters survive for late readers
      val again = clock.settledGroupLedger("grp-ledger")
      assert(again == led, "ledger is stable after the jobs ended")
      // unknown group: an all-zero ledger, not a crash
      val none = clock.settledGroupLedger("never-used")
      assert(none.cpuNs == 0L && none.tasks == 0L &&
        none.inputRows == 0L && none.inputBytes == 0L)
    } finally spark.sparkContext.removeSparkListener(clock)
  }
}
