package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs; sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** Plan text with the scan-parallelism-floor exchanges removed (r20):
    * Tables' fanOut adds one REPARTITION_BY_COL hash exchange per fact
    * table at gate scale (a no-op once the scan itself yields enough
    * splits — cluster scale). Plan-shape audits assert about an
    * OPERATOR's own shuffles, so the floor's lines are filtered before
    * counting; planner-inserted (ENSURE_REQUIREMENTS) exchanges still
    * count in full. */
  def sansFanOut(plan: String): String = {
    // the floor repartitions by a fact table's primary key with explicit
    // N (REPARTITION_BY_NUM); operator-owned repartitions use other keys
    // (band seg_idx/seg) and stay visible to the audits
    val fanKeys = Seq("doc_id#", "vec_id#", "event_id#",
      "o_orderkey#", "l_orderkey#")
    plan.linesIterator.filterNot(l =>
      l.contains("REPARTITION_BY_NUM") && !l.contains("ReusedExchange") &&
        fanKeys.exists(k => l.contains("hashpartitioning(" + k)))
      .mkString("\n")
  }

  /** The stream-vs-batch harness: feeds `rows` into a MemoryStream in two
    * halves (two micro-batches, so cross-batch state is exercised),
    * applies `op` to the stream, drains it into a memory sink in output
    * `mode`, and returns the sink's rows as a local frame. The query is
    * stopped even when a batch fails. */
  def drainStream[T: Encoder](rows: Seq[T], mode: String = "append")(
      op: Dataset[T] => Dataset[_]): DataFrame = {
    val stream = MemoryStream[T](implicitly[Encoder[T]], spark.sqlContext)
    val name = s"drain_${SparkSpec.sinks.incrementAndGet()}"
    val q = op(stream.toDS()).writeStream.outputMode(mode).format("memory")
      .queryName(name).start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val sink = spark.table(name)
      spark.createDataFrame(java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    } finally q.stop()
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  private val sinks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Every suite starts the shared session the way the CLI does, so its
    * thread plans on the task class loader too. */
  def session: SparkSession =
    GraftSession.start(master = "local[4]", shufflePartitions = 4, logLevel = "ERROR")
}
