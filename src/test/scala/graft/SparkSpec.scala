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

  /** Every operator the executed plans of `run`'s actions evaluate, up to
    * and including its `collect`: a cached relation's plan counts once
    * however many scans read it, a reused exchange not at all. */
  def evaluatedOps(run: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    // query ids rise JVM-wide: a query planned before `run` (an earlier
    // test's collect whose success event is still on the listener bus)
    // is not run's, and must neither count nor end the wait below
    val before = spark.range(1).queryExecution.id
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.id > before) plans.add(action -> qe.executedPlan)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      // listener events arrive asynchronously, in order: collect is last
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!plans.asScala.exists(_._1 == "collect") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.asScala.exists(_._1 == "collect"), "no collect plan recorded")
    val helper = new AdaptiveSparkPlanHelper {}
    val cached = scala.collection.mutable.Set[AnyRef]()
    def evaluated(p: SparkPlan): Seq[SparkPlan] =
      helper.collect(p) { case x => x }.flatMap {
        case m: InMemoryTableScanExec if cached.add(m.relation.cacheBuilder) =>
          m +: evaluated(m.relation.cacheBuilder.cachedPlan)
        case x => Seq(x)
      }
    plans.asScala.toSeq.flatMap(p => evaluated(p._2))
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
