package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.metrics.{LatencyListener, MemoClock, StageTimers}

/** The benchmark program: one workload, one seed, one measured window.
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR [--smoke] [--spans FILE]
  *
  * Prints a context line (`{"context": ...}`: input shape, box state,
  * sample counts, check problems) and then the result line. With
  * `--trace 0` the result carries the end-to-end metrics, measured
  * untraced; with `--trace 1` the per-layer metrics, from traced
  * repetitions interleaved with untraced ones, whose difference is the
  * reported tracing overhead. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, smoke: Boolean,
                        spans: Option[File])

  type Metrics = ListMap[String, (Double, String)]

  /** What a workload hands back: end-to-end and per-layer figures,
    * operations attempted and failed, problems found by the checks, and
    * context for the reader. */
  final case class Outcome(e2e: Metrics, layers: Metrics, attempted: Long,
                           failed: Long, problems: Seq[String],
                           context: ListMap[String, Any])

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  private def parse(args: Array[String]): Opts = {
    def opt(n: String): Option[String] = {
      val i = args.indexOf(n)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    Opts(opt("--workload").getOrElse(sys.error("--workload required")),
      opt("--seed").map(_.toLong).getOrElse(1L),
      opt("--seconds").map(_.toDouble).getOrElse(10.0),
      opt("--trace").contains("1"),
      new File(opt("--work").getOrElse(sys.error("--work required"))),
      args.contains("--smoke"), opt("--spans").map(new File(_)))
  }

  /** Peak resident set of this JVM, from /proc/self/status (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Time `body` in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    o.work.mkdirs()
    val spark = GraftSession.get()
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val box = BoxState.probe(new File(o.work, "probe"))
    val w = new Workloads(spark, listener, o, sessionS)
    val outcome = o.workload match {
      case "stream_drain" => w.streamDrain()
      case "stream_paced" => w.streamPaced()
      case "release_flow" => w.releaseFlow()
      case "media_dedup" => w.mediaDedup()
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    val ctx = outcome.context ++ ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "box" -> (box ++ BoxState.steal()), "problems" -> outcome.problems,
      "failed_share" -> outcome.failed.toDouble / math.max(1L, outcome.attempted),
      "session_s" -> sessionS,
      "jvm_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0)
    println(Stats.json(ListMap("context" -> ctx)))
    val metrics = if (o.trace) outcome.layers else outcome.e2e
    println(Stats.json(ListMap(
      "correct" -> (outcome.problems.isEmpty && outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
    o.spans.filter(_ => o.trace).foreach { f =>
      f.getParentFile.mkdirs()
      Files.writeString(f.toPath, Stats.json(w.spans.map(s => ListMap("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    }
    spark.stop()
  }
}

/** The four workloads. Each one: generate its input and warm up
  * (`setup_s` = session start + generation + warmup), measure
  * repetitions until their timed walls sum to `--seconds`, check every
  * repetition's output after it, outside the timed window. */
final class Workloads(spark: SparkSession, listener: LayerListener, o: Main.Opts,
                      sessionS: Double) {
  import Main._

  private val plain = new Tracer(false, spark.sparkContext)
  private val traced = new Tracer(true, spark.sparkContext)
  def spans: Seq[Span] = traced.all
  private lazy val timers = StageTimers(spark.sparkContext)
  private val problems = mutable.ArrayBuffer[String]()
  private def scale(full: Int, smoke: Int): Int = if (o.smoke) smoke else full

  /** Session start + input generation + one warmup (the streams and
    * `media_dedup` warm up; `release_flow` runs JVM-cold). */
  private def setupS(generate: => Unit)(warmup: => Unit): Double =
    sessionS + timed(generate)._2 + timed(warmup)._2

  /** Task CPU seconds of `body`, read after the listener bus settles. */
  private def cpu[A](body: => A): (A, Double) = {
    listener.settle()
    val c0 = listener.allCpuNs.get()
    val a = body
    listener.settle()
    (a, (listener.allCpuNs.get() - c0) / 1e9)
  }

  /** Alternate untraced and traced repetitions when tracing, starting
    * untraced; all untraced otherwise. */
  private def tracerFor(rep: Int): Tracer = if (o.trace && rep % 2 == 1) traced else plain

  private def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (50.0, Double.NaN) else Stats.tail(xs)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  // --------------------------------------------------------- per layer

  private val LedgerLayers = Seq("streaming", "extract", "dedup", "textops", "multimodal")

  /** Ledger figures per layer for one traced repetition. */
  private def ledgerFigures(run: String): Map[String, Double] = {
    listener.settle()
    val byLayer = listener.groups.filter(g => traced.groupRun.get(g) == run)
      .groupBy(g => traced.groupLayer.get(g).takeWhile(_ != '.'))
    LedgerLayers.flatMap { layer =>
      val ls = byLayer.getOrElse(layer, Nil).map(listener.ledger)
      Seq(s"$layer.tasks" -> ls.map(_.tasks.get()).sum.toDouble,
        s"$layer.stages" -> ls.map(_.stages.size).sum.toDouble,
        s"$layer.shuffle_mb" -> ls.map(_.shuffleWriteBytes.get()).sum / 1e6,
        s"$layer.spill_mb" -> ls.map(_.spillBytes.get()).sum / 1e6,
        s"$layer.gc_s" -> ls.map(_.gcMs.get()).sum / 1e3)
    }.toMap
  }

  /** Self seconds of every span of one repetition, by span name. */
  private def selfSeconds(run: String): Map[String, Double] = {
    val spans = traced.all.filter(_.runId == run)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => Tracer.selfNs(s, spans)).sum / 1e9 }
  }

  /** Every per-layer metric, zero where this workload's layers did no
    * work, each the median over traced repetitions. */
  private def perLayer(reps: Seq[Map[String, Double]], overheadS: Double,
                       overheadPct: Double): Metrics = {
    def m(k: String): Double = med(reps.map(_.getOrElse(k, 0.0)))
    val named: Seq[(String, String)] = Seq(
      "sources.parse_core_s" -> "s", "ipc.serialize_core_s" -> "s",
      "ipc.messages" -> "count", "ipc.out_mb" -> "MB", "ipc.rows_per_msg" -> "rows",
      "streaming.publish_core_s" -> "s", "streaming.files" -> "count",
      "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
      "streaming.batch_ms_p99" -> "ms", "streaming.overhead_ms_p50" -> "ms",
      "streaming.queue_wait_ms_p50" -> "ms", "gen.late_ms_p99" -> "ms",
      "extract.s" -> "s", "dedup.s" -> "s", "textops.s" -> "s", "multimodal.s" -> "s",
      "extract.cpu_s" -> "s", "extract.kept_ratio" -> "ratio",
      "dedup.shingle_s" -> "s", "dedup.minhash_s" -> "s", "dedup.candidates" -> "count",
      "dedup.useful_ratio" -> "ratio", "dedup.cc_s" -> "s", "dedup.cc_iterations" -> "count",
      "textops.shard_s" -> "s", "textops.manifest_s" -> "s", "write_mb" -> "MB",
      "multimodal.hash_s" -> "s", "multimodal.pairs_s" -> "s",
      "multimodal.candidates" -> "count", "multimodal.useful_ratio" -> "ratio",
      "multimodal.max_task_s" -> "s", "multimodal.task_skew" -> "ratio",
      "multimodal.clusters_s" -> "s", "memo.build_s" -> "s", "memo.builds" -> "count")
    val ledger = LedgerLayers.flatMap(l => Seq(s"$l.tasks" -> "count",
      s"$l.stages" -> "count", s"$l.shuffle_mb" -> "MB", s"$l.spill_mb" -> "MB",
      s"$l.gc_s" -> "s"))
    ListMap((named ++ ledger).map { case (k, u) => k -> (m(k), u) }: _*) ++ ListMap(
      "trace.spans" -> (traced.all.size.toDouble, "count"),
      "trace.overhead_s" -> (overheadS, "s"),
      "trace.overhead_pct" -> (overheadPct, "%"))
  }

  private def overhead(untraced: Seq[Double], tracedV: Seq[Double]): (Double, Double) =
    if (untraced.isEmpty || tracedV.isEmpty) (0.0, 0.0)
    else {
      val d = med(tracedV) - med(untraced)
      (d, 100.0 * d / med(untraced))
    }

  private def e2e(setup: Double, mbPerS: Double, p50: Double, p99: Double,
                  wall: Double, cpuS: Double, rss: Double): Metrics = ListMap(
    "setup_s" -> (setup, "s"), "mb_per_s" -> (mbPerS, "MB/s"),
    "latency_p50_ms" -> (p50, "ms"), "latency_p99_ms" -> (p99, "ms"),
    "wall_s" -> (wall, "s"), "cpu_s" -> (cpuS, "s"), "peak_rss_mb" -> (rss, "MB"))

  // ------------------------------------------------------------ streams

  /** Per-layer figures of one traced stream repetition. */
  private def streamFigures(run: Streams.Run, tr: String, t0: (Double, Double, Double),
                            lat: LatencyListener, queueWaitMs: Seq[Double],
                            lateMs: Seq[Double]): Map[String, Double] = {
    val recs = run.recs
    val msgs = recs.map(_.messages).sum
    val samples = lat.samples
    Map(
      "sources.parse_core_s" -> (timers.parseMs - t0._1) / 1e3,
      "ipc.serialize_core_s" -> (timers.serializeMs - t0._2) / 1e3,
      "streaming.publish_core_s" -> (timers.publishMs - t0._3) / 1e3,
      "ipc.messages" -> msgs.toDouble,
      "ipc.out_mb" -> recs.map(_.bytes).sum / 1e6,
      "ipc.rows_per_msg" -> recs.map(_.rows).sum.toDouble / math.max(1L, msgs),
      "streaming.files" -> Option(new File(run.out).listFiles()).map(_.count(_.getName.endsWith(".arrow"))).getOrElse(0).toDouble,
      "streaming.batches" -> recs.size.toDouble,
      "streaming.batch_ms_p50" -> med(samples.map(_.triggerMs.toDouble)),
      "streaming.batch_ms_p99" -> tail(samples.map(_.triggerMs.toDouble))._2,
      "streaming.overhead_ms_p50" -> med(samples.map(s => (s.triggerMs - s.addBatchMs).toDouble)),
      "streaming.queue_wait_ms_p50" -> med(queueWaitMs),
      "gen.late_ms_p99" -> (if (lateMs.isEmpty) 0.0 else tail(lateMs)._2)
    ) ++ ledgerFigures(tr)
  }

  private def timerSnapshot: (Double, Double, Double) =
    (timers.parseMs, timers.serializeMs, timers.publishMs)

  def streamDrain(): Outcome = {
    val files = scale(24, 4)
    val perFile = scale(600, 50)
    val backlog = new File(o.work, "backlog")
    var events: Seq[Gen.Event] = Nil
    var bytes = 0L
    val setup = setupS {
      val (ev, b) = Streams.writeBacklog(backlog, o.seed, files, perFile)
      events = ev; bytes = b
    } {
      // four full drains of a same-sized backlog of other events: per-drain
      // walls still fall from the second drain to the fourth while the JIT
      // compiles the parse and serialize paths. Their output is discarded
      // unchecked: it is not measured.
      val warm = new File(o.work, "warm-backlog")
      Streams.writeBacklog(warm, o.seed + 1, files, perFile)
      (0 until scale(4, 1)).foreach { i =>
        val (run, _, _) = Streams.drain(spark, warm, o.work, s"warm$i", plain, None)
        deleteTree(new File(run.out))
      }
      deleteTree(warm)
    }
    val expected = events.map(_.canonical)
    var timedS = 0.0
    var rep = 0
    val walls = mutable.Map[Boolean, mutable.ArrayBuffer[Double]]()
    val lat = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    val layerReps = mutable.ArrayBuffer[Map[String, Double]]()
    var attempted = 0L
    var failed = 0L
    while (timedS < o.seconds || rep < (if (o.trace) 2 else 1)) {
      val tr = tracerFor(rep)
      val runId = s"rep$rep"
      tr.beginRun(runId)
      val ll = new LatencyListener()
      if (tr.enabled) spark.streams.addListener(ll)
      val snap = if (tr.enabled) timerSnapshot else (0.0, 0.0, 0.0)
      val ((run, t0, t1), c) = cpu(Streams.drain(spark, backlog, o.work, runId, tr,
        if (tr.enabled) Some(timers) else None))
      if (tr.enabled) spark.streams.removeListener(ll)
      val wall = (t1 - t0) / 1e9
      timedS += wall
      walls.getOrElseUpdate(tr.enabled, mutable.ArrayBuffer()) += wall
      // every backlog event was due when the drain started
      val evLat = run.recs.flatMap(b => Iterator.fill(b.rows.toInt)((b.endNs - t0) / 1e6))
      if (!tr.enabled) { lat ++= evLat; cpus += c }
      else {
        val qw = run.recs.flatMap(b => Iterator.fill(b.rows.toInt)((b.startNs - t0) / 1e6))
        layerReps += streamFigures(run, runId, snap, ll, qw, Nil)
      }
      attempted += expected.size
      failed += checkStream(expected, run)
      rep += 1
    }
    val rss = peakRssMb()
    val untraced = walls.getOrElse(false, mutable.ArrayBuffer())
    val wall = med(untraced.toSeq)
    val (ovS, ovPct) = overhead(untraced.toSeq, walls.getOrElse(true, mutable.ArrayBuffer()).toSeq)
    val (tailPct, p99) = tail(lat.toSeq)
    Outcome(
      e2e(setup, bytes / 1e6 / wall, med(lat.toSeq), p99, wall, med(cpus.toSeq), rss),
      perLayer(layerReps.toSeq, ovS, ovPct), attempted, failed, problems.toSeq,
      ListMap("why" -> "drain throughput: parse, serialize and publish do nearly all the work",
        "input" -> ListMap("schema" -> "trip_report", "files" -> files, "events" -> events.size,
          "bytes" -> bytes),
        "reps" -> rep, "walls_s" -> untraced.toSeq, "latency_samples" -> lat.size,
        "latency_tail_pct" -> tailPct,
        "publish_dir" -> new File(o.work, "out-rep0").getPath))
  }

  /** Decode a run's published files against the expected events; returns
    * failed events and deletes the output. */
  private def checkStream(expected: Seq[String], run: Streams.Run): Long = {
    val (bad, ps) = Checks.stream(expected, Checks.readMessages(run.out))
    problems ++= ps
    deleteTree(new File(run.out))
    bad
  }

  def streamPaced(): Outcome = {
    val rate = scale(2000, 1000).toDouble
    val triggerMs = 500L
    val windowS = if (o.trace) o.seconds / 2 else o.seconds
    val nEvents = (rate * windowS).toInt
    var events: IndexedSeq[Gen.Event] = IndexedSeq.empty
    val setup = setupS {
      events = Streams.batteryEvents(o.seed, nEvents)
    } {
      val warm = Streams.batteryEvents(o.seed + 1, (rate * (if (o.smoke) 1.0 else 4.0)).toInt)
      val (run, _) = Streams.paced(spark, warm, rate, triggerMs, 20, o.work, "warm",
        plain, None, None)
      checkStream(warm.map(_.canonical), run)
    }
    val bytes = events.map(_.json.length + 1L).sum
    var failedEv = 0L
    def window(tr: Tracer, tag: String): (Seq[Double], Map[String, Double], Double, Double, Seq[Double]) = {
      tr.beginRun(tag)
      val ll = new LatencyListener()
      val snap = if (tr.enabled) timerSnapshot else (0.0, 0.0, 0.0)
      val ((run, feeder), c) = cpu(Streams.paced(spark, events, rate, triggerMs, 30, o.work, tag,
        tr, if (tr.enabled) Some(timers) else None, if (tr.enabled) Some(ll) else None))
      val msgs = Checks.readMessages(run.out)
      val (bad, ps) = Checks.stream(events.map(_.canonical), msgs)
      problems ++= ps
      failedEv += bad
      val epochOf = msgs.flatMap(m => m.canonical.map(cn => seqOf(cn) -> m.epoch)).toMap
      val recs = run.recs.map(b => b.epoch -> b).toMap
      val lat = Streams.openLoopLatencyMs(feeder.dueNs, epochOf, recs.map { case (e, b) => e -> b.endNs })
      val late = feeder.sentNs.indices.map(i => (feeder.sentNs(i) - feeder.dueNs(i)) / 1e6)
      val qw = epochOf.toSeq.flatMap { case (s, e) => recs.get(e).map(b => (b.startNs - feeder.dueNs(s)) / 1e6) }
      val wall = run.recs.lastOption.map(b => (b.endNs - feeder.dueNs(0)) / 1e9).getOrElse(Double.NaN)
      val figs = if (tr.enabled) streamFigures(run, tag, snap, ll, qw, late) else Map.empty[String, Double]
      deleteTree(new File(run.out))
      (lat, figs, wall, c, late)
    }
    val (lat, _, wall, c, late) = window(plain, "untraced")
    val rss = peakRssMb()
    val tracedOut = if (o.trace) Some(window(traced, "traced")) else None
    val (ovS, ovPct) = tracedOut.map(t => overhead(Seq(med(lat)), Seq(med(t._1))))
      .map { case (s, p) => (s / 1e3, p) }.getOrElse((0.0, 0.0))
    val (tailPct, p99) = tail(lat)
    Outcome(
      e2e(setup, bytes / 1e6 / wall, med(lat), p99, wall, c, rss),
      perLayer(tracedOut.map(_._2).toSeq, ovS, ovPct),
      nEvents.toLong * (if (o.trace) 2 else 1), failedEv, problems.toSeq,
      ListMap("why" -> "open loop below capacity: per-batch engine cost and queue wait set latency",
        "input" -> ListMap("schema" -> "battery_status", "events" -> nEvents, "bytes" -> bytes,
          "rate_per_s" -> rate, "trigger_ms" -> triggerMs, "window_s" -> windowS),
        "offered_mb_per_s" -> bytes / 1e6 / windowS,
        "latency_samples" -> lat.size, "latency_tail_pct" -> tailPct,
        "gen_late_ms_p99" -> tail(late)._2,
        "publish_dir" -> new File(o.work, "out-untraced").getPath))
  }

  private def seqOf(canonical: String): Int = {
    val v = canonical.stripPrefix("[").takeWhile(_ != ']').split(",")
    (v(0).toLong * 2048 + v(1).toLong).toInt
  }

  // ------------------------------------------------------------ batch

  /** Shared driver of the batch flows. Every run reads a fresh copy of
    * the input, so nothing keyed on the input path (memo tables) carries
    * over: each run pays its own memo builds. Untraced, CLI runs fill the
    * window (at least `minReps`) and the end-to-end figures are their
    * medians.
    * Traced, the first CLI run, in the same state as the first untraced
    * one, has its jobs recorded and charged to layers ([[JobLayers]]);
    * then a recorded run between two unrecorded ones gives the tracing
    * overhead (recorded wall minus their mean, so a steady warming trend
    * cancels); last, the isolation run gives the sub-layer figures and
    * must write the same rows as the CLI. Every run's output is checked
    * after it. */
  private def batchFlow[A](base: File, bytes: Long, why: String, input: ListMap[String, Any],
                           setup: Double, minReps: Int, first: String,
                           rules: Seq[(Regex, String)], outputs: Seq[String])
                          (flow: (String, String) => A)
                          (check: (String, String, A) => (Seq[String], Map[String, Double]))
                          (isolated: (String, String, Tracer) => Map[String, Double]): Outcome = {
    var timedS = 0.0
    var rep = 0
    val walls = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    var layers = Map.empty[String, Double]
    var tracedWall = Double.NaN
    var failed = 0L
    val keep = new File(o.work, "out-traced")
    def fail(what: String, ps: Seq[String]): Unit =
      if (ps.nonEmpty) { failed += 1; problems ++= ps.map(p => s"$what: $p") }
    def more: Boolean = if (o.trace) rep < 4 else rep < minReps || timedS < o.seconds
    while (more) {
      val in = new File(o.work, s"in-rep$rep")
      copyTree(base, in)
      val out = new File(o.work, s"out-rep$rep")
      val record = o.trace && (rep == 0 || rep == 2)
      val m0 = (MemoClock.totalS, MemoClock.count)
      if (record) { listener.settle(); listener.startRecording() }
      val ((res, t0, t1, wall), c) = cpu {
        val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
        val r = try Right(flow(in.getPath, out.getPath)) catch { case e: Exception => Left(e) }
        (r, t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
      }
      val jobs = if (record) listener.stopRecording() else Nil
      res match {
        case Left(e) =>
          fail(s"rep $rep", Seq(s"flow failed: $e"))
          timedS = o.seconds
        case Right(a) =>
          timedS += wall
          val (ps, figs) = check(in.getPath, out.getPath, a)
          fail(s"rep $rep", ps)
          if (!record) { walls += wall; cpus += c }
          else if (rep == 2) tracedWall = wall
          else {
            layers = figs ++ jobFigures(jobs, first, rules, t0, t1) ++ Map(
              "memo.build_s" -> (MemoClock.totalS - m0._1),
              "memo.builds" -> (MemoClock.count - m0._2).toDouble,
              "write_mb" -> dirBytes(out) / 1e6)
            copyTree(out, keep)
          }
      }
      deleteTree(in); deleteTree(out)
      rep += 1
    }
    val rss = peakRssMb()
    if (o.trace) {
      val in = new File(o.work, "in-isolated")
      copyTree(base, in)
      val out = new File(o.work, "out-isolated")
      traced.beginRun("isolated")
      val figs = try Some(isolated(in.getPath, out.getPath, traced)) catch {
        case e: Exception => fail("isolation run", Seq(e.toString)); None
      }
      figs.foreach { f =>
        fail("isolation run", outputs.flatMap(sub =>
          Checks.sameRows(spark, new File(keep, sub).getPath, new File(out, sub).getPath)))
        layers = layers ++ f ++ selfSeconds("isolated").collect {
          case (n, v) if IsolatedSubLayers.contains(n) => s"${n}_s" -> v
        }
      }
      rep += 1
      deleteTree(in); deleteTree(out); deleteTree(keep)
    }
    val wall = med(walls.toSeq)
    val (ovS, ovPct) =
      if (walls.isEmpty || tracedWall.isNaN) (0.0, 0.0)
      else {
        val base = walls.sum / walls.size
        (tracedWall - base, 100.0 * (tracedWall - base) / base)
      }
    val (tailPct, tailMs) = tail(walls.map(_ * 1e3).toSeq)
    Outcome(
      e2e(setup, bytes / 1e6 / wall, wall * 1e3, tailMs, wall, med(cpus.toSeq), rss),
      perLayer(Seq(layers), ovS, ovPct), rep.toLong, failed, problems.toSeq,
      ListMap("why" -> why, "input" -> input, "reps" -> rep,
        "latency_samples" -> walls.size, "latency_tail_pct" -> tailPct,
        "walls_s" -> walls.toSeq, "traced_wall_s" -> tracedWall))
  }

  /** Sub-layers only the isolation run can time: the CLI's lazy plan runs
    * them inside one action. */
  private val IsolatedSubLayers = Set("dedup.shingle", "dedup.minhash", "dedup.cc",
    "multimodal.hash", "multimodal.pairs", "multimodal.clusters")

  /** Layer figures of one recorded CLI run: time per layer and sub-layer
    * ([[JobLayers.seconds]]), the ledger per layer, task CPU of extraction,
    * and the slowest task of the flow over its median task. */
  private def jobFigures(jobs: Seq[JobRec], first: String, rules: Seq[(Regex, String)],
                         t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    val charged = JobLayers.assign(jobs, first, rules)
    val secs = JobLayers.seconds(charged, t0Ms, t1Ms)
    def top(l: String) = l.takeWhile(_ != '.')
    val times = secs.groupBy(kv => top(kv._1)).map { case (l, m) => s"$l.s" -> m.values.sum } ++
      secs.collect { case (k, v) if k.contains('.') => s"${k}_s" -> v }
    val ledgers = charged.groupBy(j => top(j._2))
      .map { case (l, js) => l -> js.map(j => listener.ledger(j._1.group)) }
    val ledgerFigs = LedgerLayers.flatMap { layer =>
      val ls = ledgers.getOrElse(layer, Nil)
      Seq(s"$layer.tasks" -> ls.map(_.tasks.get()).sum.toDouble,
        s"$layer.stages" -> ls.map(_.stages.size).sum.toDouble,
        s"$layer.shuffle_mb" -> ls.map(_.shuffleWriteBytes.get()).sum / 1e6,
        s"$layer.spill_mb" -> ls.map(_.spillBytes.get()).sum / 1e6,
        s"$layer.gc_s" -> ls.map(_.gcMs.get()).sum / 1e3)
    }
    val taskMs = ledgers.getOrElse("multimodal", Nil).flatMap(_.taskMs.asScala).map(_.toDouble)
    val taskFigs = if (taskMs.isEmpty) Map.empty[String, Double] else Map(
      "multimodal.max_task_s" -> taskMs.max / 1e3,
      "multimodal.task_skew" -> taskMs.max / math.max(1.0, Stats.median(taskMs)))
    times ++ ledgerFigs ++ taskFigs ++ Map(
      "extract.cpu_s" -> ledgers.getOrElse("extract", Nil).map(_.cpuNs.get()).sum / 1e9)
  }

  private def copyTree(from: File, to: File): Unit = {
    deleteTree(to)
    to.mkdirs()
    Option(from.listFiles()).toSeq.flatten.foreach { f =>
      if (f.isDirectory) copyTree(f, new File(to, f.getName))
      else Files.copy(f.toPath, new File(to, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def writeParquet(df: org.apache.spark.sql.DataFrame, dir: File): Unit =
    df.coalesce(4).write.mode("overwrite").parquet(dir.getPath)

  def releaseFlow(): Outcome = {
    import spark.implicits._
    val nDocs = scale(600, 300)
    val base = new File(o.work, "web")
    var corpus: Gen.WebCorpus = null
    // no warm-up: the measured run is the JVM's first, and pays Spark's
    // code generation and the JIT (one run of the verb, cold or warm, is
    // all the window affords)
    val setup = setupS {
      corpus = Gen.web(o.seed, nDocs)
      writeParquet(corpus.docs.toDF("doc_id", "html"), base)
    } {}
    val kinds = ListMap(corpus.kinds.toSeq.sortBy(_._1): _*)
    batchFlow(base, corpus.bytes,
      "extract, dedup, shuffle and parquet writes do the work; JSON, IPC and publish do none",
      ListMap("docs" -> nDocs, "bytes" -> corpus.bytes, "planted" -> kinds,
        "planted_share" -> ListMap(kinds.toSeq.map { case (k, v) => k -> v.toDouble / nDocs }: _*)),
      setup, 1, "extract", Flows.ReleaseLayers, Seq("released.parquet", "manifest.parquet")) {
      (in, out) => Flows.release(in, out)
    } { (_, out, r) =>
      (Checks.release(spark, out, nDocs, r),
        Map("extract.kept_ratio" -> r.kept.toDouble / math.max(1L, r.docsIn)))
    } { (in, out, tr) => Flows.releaseIsolated(spark, in, out, tr) }
  }

  def mediaDedup(): Outcome = {
    import spark.implicits._
    val nImages = scale(600, 150)
    val nAudio = scale(1200, 150)
    val base = new File(o.work, "media")
    var corpus: Gen.MediaCorpus = null
    // warm-up: one run of the verb on a same-sized input of another seed,
    // so the measured runs do not pay the JVM's and Spark's one-time
    // compilation (a JVM-cold run of this flow spread up to 0.26 over ten
    // seeds); then the median of at least two runs
    val setup = setupS {
      corpus = Gen.media(o.seed, nImages, nAudio)
      writeParquet(corpus.rows.toDF("doc_id", "media_type", "payload"), base)
    } {
      val warm = new File(o.work, "warm")
      val warmOut = new File(o.work, "warm-out")
      val wc = Gen.media(o.seed + 1, nImages, nAudio)
      writeParquet(wc.rows.toDF("doc_id", "media_type", "payload"), warm)
      val c = Flows.clusters(warm.getPath, warmOut.getPath)
      problems ++= Checks.media(spark, warm.getPath, warmOut.getPath, wc, c).map(p => s"warm-up: $p")
      deleteTree(warm); deleteTree(warmOut)
    }
    val c = corpus
    var pairsChecked = false
    batchFlow(base, c.bytes,
      "the multimodal pair family, the heaviest module, with large cliques that skew one task",
      ListMap("images" -> nImages, "audio" -> nAudio, "bytes" -> c.bytes,
        "clique_members" -> c.cliqueMembers, "image_docs_per_hash" -> c.docsPerHash("image"),
        "audio_copies" -> c.audioCopies, "audio_docs_per_hash" -> c.docsPerHash("audio"),
        "planted_pairs" -> c.planted.size),
      setup, 2, "multimodal", Nil, Seq(".")) {
      (in, out) => Flows.clusters(in, out)
    } { (in, out, st) =>
      val ps = Checks.media(spark, in, out, c, st, checkPairs = !pairsChecked)
      pairsChecked = true
      (ps, Map.empty[String, Double])
    } {
      (in, out, tr) => Flows.clustersIsolated(spark, in, out, tr)
    }
  }
}
