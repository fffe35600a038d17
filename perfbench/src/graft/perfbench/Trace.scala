package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call: wall interval in nanoseconds, the span that caused it
  * (-1 for a root) and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. When disabled, [[span]] only runs its body,
  * so the untraced run pays one branch per layer call. While a span is
  * open, Spark jobs submitted from the calling thread carry the span id
  * as their job group, which is how [[LayerListener]] charges task
  * counts to layers. A span opened on another thread (a streaming
  * query's batch thread) takes the innermost span open on the thread
  * that created the tracer as its parent. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val owner = Thread.currentThread()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var ownerTop = -1
  private val nextId = new AtomicLong()
  @volatile private var runId = "run-0"
  /** Job group id -> layer name, for every span that set a job group. */
  val groupLayer = new ConcurrentHashMap[String, String]()
  /** Job group id -> run id. */
  val groupRun = new ConcurrentHashMap[String, String]()

  def beginRun(id: String): Unit = runId = id
  def currentRun: String = runId

  private val GroupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement().toInt
      val mine = stack.get()
      val parent = mine.headOption.getOrElse(if (Thread.currentThread() eq owner) -1 else ownerTop)
      val group = s"pb-$id"
      groupLayer.put(group, name)
      groupRun.put(group, runId)
      val saved = GroupProps.map(sc.getLocalProperty)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      stack.set(id :: mine)
      if (Thread.currentThread() eq owner) ownerTop = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(mine)
        if (Thread.currentThread() eq owner) ownerTop = mine.headOption.getOrElse(-1)
        spans.synchronized { spans += Span(id, name, parent, runId, t0, t1) }
        GroupProps.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)
}

object Tracer {
  def selfNs(s: Span, spans: Seq[Span]): Long = {
    val kids = spans.filter(c => c.parent == s.id && c.runId == s.runId)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
    s.durNs - Stats.unionLength(kids)
  }
}

/** Per job group task ledger: the benchmark's own SparkListener. */
final class GroupLedger {
  val tasks = new AtomicLong()
  val cpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val stages: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  /** Task durations (ms), for the skew figures. */
  val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}

/** One Spark job of a recorded window: its ledger group, the call site
  * and plan text of the action that ran it (the SQL execution's, and its
  * root execution's, else the job's last stage's call site), and its
  * start and end times in epoch milliseconds. */
final case class JobRec(id: Int, group: String, text: String, startMs: Long, endMs: Long)

/** Ledgers are keyed by the job group a job carries (a [[Tracer]] span's),
  * else by the job itself (`job-<id>`), so jobs of an uninstrumented
  * call, such as a CLI verb, can be charged to layers afterwards from
  * their [[JobRec]]s. */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val ledgers = new ConcurrentHashMap[String, GroupLedger]()
  private val events = new AtomicLong()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val execText = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  @volatile private var recording = false
  val allCpuNs = new AtomicLong()

  def ledger(group: String): GroupLedger =
    ledgers.computeIfAbsent(group, _ => new GroupLedger)

  def groups: Seq[String] = ledgers.keySet.asScala.toSeq

  /** Record [[JobRec]]s from now on, dropping earlier ones. */
  def startRecording(): Unit = { jobs.clear(); execText.clear(); recording = true }

  /** Stop recording; the jobs recorded since [[startRecording]], in id order. */
  def stopRecording(): Seq[JobRec] = {
    settle()
    recording = false
    jobs.values.asScala.toSeq.sortBy(_.id)
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if recording =>
      val root = e.rootExecutionId.flatMap(r => Option(execText.get(r))).getOrElse("")
      execText.put(e.executionId, s"${e.details}\n${e.physicalPlanDescription}\n$root")
      events.incrementAndGet()
    case _ =>
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    events.incrementAndGet()
    val props = Option(ev.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(s"job-${ev.jobId}")
    ev.stageIds.foreach(sid => stageGroup.put(sid, g))
    if (recording) {
      val text = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execText.get(id.toLong)))
        .getOrElse(ev.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      jobs.put(ev.jobId, JobRec(ev.jobId, g, text, ev.time, -1L))
    }
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    events.incrementAndGet()
    jobs.computeIfPresent(ev.jobId, (_, j) => j.copy(endMs = ev.time))
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val g = stageGroup.get(ev.stageInfo.stageId)
    if (g != null) { ledger(g).stages.add(ev.stageInfo.stageId); () }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = ev.taskMetrics
    if (m != null) allCpuNs.addAndGet(m.executorCpuTime)
    val g = stageGroup.get(ev.stageId)
    if (g != null && m != null) {
      val l = ledger(g)
      l.tasks.incrementAndGet()
      l.cpuNs.addAndGet(m.executorCpuTime)
      l.gcMs.addAndGet(m.jvmGCTime)
      l.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      l.spillBytes.addAndGet(m.diskBytesSpilled)
      l.taskMs.add(ev.taskInfo.duration)
    }
  }

  /** Wait until every started job has ended and no event arrived for
    * 100 ms (at most 5 s): task-end events come on the asynchronous
    * listener bus, after the action that produced them has returned. */
  def settle(): Unit = {
    var last = -1L
    var quietMs = 0
    var waited = 0
    while ((quietMs < 100 || jobsStarted.get() != jobsEnded.get()) && waited < 5000) {
      Thread.sleep(20)
      waited += 20
      val now = events.get()
      if (now == last) quietMs += 20 else { last = now; quietMs = 0 }
    }
  }
}

/** Charges the jobs of one uninstrumented flow (a CLI verb run as it
  * ships, lazy plan and all) to layers, so that work a lazy plan runs
  * again is charged where it runs. */
object JobLayers {

  /** Each job in id order gets the layer of the first rule whose pattern
    * occurs in its call site or plan text; a job no rule marks keeps the
    * layer of the job before it (`first` before any). */
  def assign(jobs: Seq[JobRec], first: String,
             rules: Seq[(scala.util.matching.Regex, String)]): Seq[(JobRec, String)] = {
    var cur = first
    jobs.sortBy(_.id).map { j =>
      rules.find(_._1.findFirstIn(j.text).isDefined).foreach(r => cur = r._2)
      j -> cur
    }
  }

  /** Seconds per layer that add up to the flow's wall time: in order of
    * job end, each job owns the time since the latest earlier job end
    * (the flow start for the first), which covers its driver-side
    * planning as well as its tasks; the time after the last job end goes
    * to the last job's layer. */
  def seconds(charged: Seq[(JobRec, String)], startMs: Long, endMs: Long): Map[String, Double] = {
    val acc = mutable.LinkedHashMap[String, Long]()
    var mark = startMs
    var lastLayer: Option[String] = None
    charged.sortBy(_._1.endMs).foreach { case (j, layer) =>
      val end = math.min(math.max(j.endMs, mark), endMs)
      acc(layer) = acc.getOrElse(layer, 0L) + (end - mark)
      mark = end
      lastLayer = Some(layer)
    }
    lastLayer.foreach(l => acc(l) = acc(l) + (endMs - mark))
    acc.map { case (k, v) => k -> v / 1e3 }.toMap
  }
}
