package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.Socket

/** Unit checks of the benchmark's own arithmetic. `run.py --selftest`
  * runs these, then a smoke-sized run of every workload. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // the tail percentile leaves at least ten samples beyond it
    check("tail: 1000 samples -> p99") { Stats.tail((1 to 1000).map(_.toDouble))._1 == 99.0 }
    check("tail: 999 samples -> p95") { Stats.tail((1 to 999).map(_.toDouble))._1 == 95.0 }
    check("tail: 10000 samples -> p99.9") { Stats.tail((1 to 10000).map(_.toDouble))._1 == 99.9 }
    check("tail: 40 samples -> p75") { Stats.tail((1 to 40).map(_.toDouble))._1 == 75.0 }
    check("tail: 5 samples -> median") {
      Stats.tail(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((50.0, 3.0))
    }
    check("percentile interpolates") { Stats.percentile(Seq(0.0, 10.0), 25) == 2.5 }

    // self time = duration minus the union of the children's intervals
    val p = Span(0, "p", -1, "r", 0, 100)
    val kids = Seq(Span(1, "a", 0, "r", 10, 30), Span(2, "b", 0, "r", 20, 50),
      Span(3, "c", 0, "r", 60, 70), Span(4, "d", 0, "r", 90, 120),
      Span(5, "x", 0, "other-run", 0, 100), Span(6, "g", 1, "r", 10, 30))
    check("self time: overlaps once, clipped to parent, own run only") {
      Tracer.selfNs(p, p +: kids) == 100 - (40 + 10 + 10)
    }
    check("self time: leaf is its duration") { Tracer.selfNs(kids(2), p +: kids) == 10 }
    check("union length") { Stats.unionLength(Seq((0L, 5L), (3L, 8L), (10L, 12L))) == 10 }

    // the jobs of an uninstrumented flow are charged to layers in job order
    val jobs = Seq(JobRec(1, "job-1", "collect at Main.scala", 1000, 1100),
      JobRec(2, "job-2", "count at graft.operators.Dedup$.cc", 1100, 1400),
      JobRec(3, "job-3", "count at Main.scala", 1400, 1500),
      JobRec(4, "job-4", "(9) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n" +
        "Arguments: file:/o/released.parquet, false, Parquet", 1500, 1800),
      JobRec(5, "job-5", "(1) Scan parquet\nLocation: InMemoryFileIndex [file:/o/released.parquet]",
        1800, 1850))
    val charged = JobLayers.assign(jobs, "extract", Flows.ReleaseLayers)
    check("job layers: a marked job sets the layer, unmarked ones continue it") {
      charged.map(_._2) == Seq("extract", "dedup", "dedup", "textops.shard", "textops.shard")
    }
    check("job layers: seconds add up to the wall, planning gaps go to the next job") {
      JobLayers.seconds(charged, 900, 1900) ==
        Map("extract" -> 0.2, "dedup" -> 0.4, "textops.shard" -> 0.4)
    }
    check("job layers: overlapping jobs are not counted twice") {
      JobLayers.seconds(Seq(JobRec(1, "a", "", 0, 500) -> "x", JobRec(2, "b", "", 100, 300) -> "y"),
        0, 600) == Map("x" -> 0.3, "y" -> 0.3)
    }

    // open-loop latency counts from when an event was due
    val due = Array(0L, 100000000L, 200000000L)
    val lat = Streams.openLoopLatencyMs(due, Map(0 -> 7L, 1 -> 7L, 2 -> 7L), Map(7L -> 300000000L))
    check("open loop: latency from due time") { lat.sorted == Seq(100.0, 200.0, 300.0) }
    check("open loop: unpublished events have no latency") {
      Streams.openLoopLatencyMs(due, Map(0 -> 7L), Map(7L -> 300000000L)) == Seq(300.0)
    }
    // the feeder's schedule does not wait for a slow reader
    val events = Streams.batteryEvents(1L, 200)
    val f = new Streams.Feeder(events, 2000.0)
    f.begin()
    val s = new Socket("127.0.0.1", f.port)
    Thread.sleep(300) // a stalled consumer: nothing read yet
    val in = new BufferedReader(new InputStreamReader(s.getInputStream))
    val got = Iterator.continually(in.readLine()).take(200).toVector
    s.close(); f.close()
    check("feeder: events sent in order, all of them") { got == events.map(_.json) }
    check("feeder: due times follow the schedule, not the reader") {
      f.dueNs.indices.forall(i =>
        math.abs(f.dueNs(i) - f.dueNs(0) - i * 500000L) <= 1)
    }
    check("feeder: send never precedes due") { f.sentNs.indices.forall(i => f.sentNs(i) >= f.dueNs(i)) }

    check("multiset diff") {
      Checks.multisetDiff(Array(1L, 2L, 2L, 3L), Array(2L, 3L, 3L, 4L)) == ((2L, 2L))
    }
    check("battery events carry their sequence number") {
      events.indices.forall(i => Gen.batterySeq(java.util.Arrays.asList(
        events(i).canonical.stripPrefix("[").split(",").take(2): _*)) == i)
    }
    check("generators are seeded") {
      Gen.web(3L, 50).docs == Gen.web(3L, 50).docs &&
        Gen.media(3L, 40, 40, 2).rows.map(r => (r._1, r._2, r._3.toSeq)) ==
          Gen.media(3L, 40, 40, 2).rows.map(r => (r._1, r._2, r._3.toSeq)) &&
        Gen.web(3L, 50).docs != Gen.web(4L, 50).docs
    }
    check("planted media pairs are within max-hamming by construction") {
      val m = Gen.media(5L, 200, 100, 3)
      val h = m.rows.map(r => r._1 -> graft.operators.Multimodal.phashOf(r._1, r._2, r._3)).toMap
      m.planted.nonEmpty && m.planted.forall { case (a, b) =>
        java.lang.Long.bitCount(h(a) ^ h(b)) <= Flows.MaxHamming }
    }
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
