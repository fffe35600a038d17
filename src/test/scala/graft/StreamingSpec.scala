package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dsir, TextOps}
import graft.streaming.{AsofEvent, Session, SessionEvent, StreamOps, StreamPipeline}

/** Structured Streaming specs (SURVEY §2 a8 and the d-rows). A d-row spec
  * drains its operator — a StreamOps operator, or for a stateless d-row
  * the batch core itself — through [[SparkSpec.drainStream]] and compares
  * the sink with the batch twin; specs that assert mid-stream state or
  * need watermark-advancing flush batches keep their own query loop. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("d1/a8: ND-JSON stream → parse → IPC → publish round-trips every event") {
    val out = StreamPipeline.a8StreamPipeline(spark, sfDir)
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    // the two-sided exceptAll is the delivery proof: had the publisher
    // received nothing, `out` would be empty and the second check fails
    // (the harness clears its buffer after the run for heap hygiene)
    assert(out.exceptAll(ev).count() == 0 && ev.exceptAll(out).count() == 0)
    assert(out.count() > 0)
  }

  test("a8 pipeline resumes from checkpoint without loss or duplication") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-resume-")
    val src = base.resolve("src"); val out = base.resolve("out")
    java.nio.file.Files.createDirectories(src)
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    val schema = ev.schema
    val lines = ev.select(to_json(struct(ev.columns.map(col): _*))).as[String].collect()
    val (first, second) = lines.splitAt(lines.length / 2)
    def writeChunk(name: String, chunk: Array[String]): Unit = {
      java.nio.file.Files.write(src.resolve(name),
        chunk.mkString("\n").getBytes("UTF-8")); ()
    }
    val outStr = out.toString // capture a String: Path is not serializable
    def runOnce(): Unit = {
      val q = StreamPipeline.publishStream(
          spark.readStream.text(src.toString), schema, maxRows = 4096,
          epoch => new graft.streaming.FilePublisher(outStr, epoch))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      q.awaitTermination()
      spark.streams.resetTerminated()
    }
    writeChunk("part1.txt", first)
    runOnce() // drains chunk 1, then shuts down (bolson drain contract)
    writeChunk("part2.txt", second)
    runOnce() // MUST resume from the checkpoint: only chunk 2 is new
    val files = spark.read.format("binaryFile").load(s"$out/*.arrow")
      .select(col("content")).as[Array[Byte]]
      .map(b => graft.ipc.IpcMessage(0L, 0L, b.length.toLong, b))
    val published = graft.ipc.ArrowIpc.deserialize(spark, files, schema)
    assert(published.count() == lines.length,
      "restart must neither drop nor re-publish rows")
    assert(published.exceptAll(ev).count() == 0 && ev.exceptAll(published).count() == 0,
      "published rows equal the corpus exactly")
  }

  test("d2: watermark-windowed aggregation finalizes windows in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val q = StreamOps.windowedCounts(
        stream.toDF().toDF("ts", "event_type"), watermark = "10 minutes", windowLen = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("d2_sink").start()
    try {
      stream.addData(Seq((ts(1), "a"), (ts(2), "a"), (ts(30), "b")))
      q.processAllAvailable()
      // watermark still inside hour 0 → nothing finalized yet
      assert(spark.table("d2_sink").count() == 0)
      // an event 3 hours later pushes the watermark past hour 0's end
      stream.addData(Seq((Timestamp.valueOf("2024-01-01 03:00:00"), "c")))
      q.processAllAvailable()
      val rows = spark.table("d2_sink")
        .select("event_type", "n_events").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("a" -> 2L, "b" -> 1L))
    } finally q.stop()
  }

  test("d3: streaming sessionize closes a session once the watermark passes the gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SessionEvent]
    val min = 60L * 1000 * 1000
    val q = StreamOps.sessionize(stream.toDS(), gapMicros = 30 * min, watermarkDelay = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("d3_sink").start()
    try {
      // user 1: three events within the gap
      stream.addData(Seq(
        SessionEvent(1L, 10 * min),
        SessionEvent(1L, 15 * min),
        SessionEvent(1L, 20 * min)))
      q.processAllAvailable()
      assert(spark.table("d3_sink").count() == 0, "session still open")
      // far-future event advances the watermark beyond 20min + gap
      stream.addData(Seq(SessionEvent(2L, 600 * min)))
      q.processAllAvailable()
      stream.addData(Seq(SessionEvent(2L, 1200 * min)))
      q.processAllAvailable()
      val sessions = spark.table("d3_sink").as[Session].collect()
        .filter(_.user_id == 1L)
      assert(sessions.toSeq == Seq(Session(1L, 3L, 10 * min, 20 * min)))
    } finally q.stop()
  }

  test("d4: watermarked stream-stream join matches pairs within the interval only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = StreamOps.streamJoin(
      clicks.toDF().toDF("user_id", "ts"),
      buys.toDF().toDF("r_user_id", "rts"))
    val q = joined.select(col("user_id"), col("ts"), col("rts"))
      .writeStream.outputMode("append").format("memory").queryName("d4_sink").start()
    try {
      clicks.addData(Seq((1L, ts(0)), (2L, ts(5))))
      buys.addData(Seq((1L, ts(10)), (1L, ts(45)), (2L, ts(50))))
      q.processAllAvailable()
      val rows = spark.table("d4_sink").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("rts").toString))
      // user1 click@0 matches buy@10 (within 30m) but not buy@45;
      // user2 click@5 vs buy@50 is outside the interval
      assert(rows.toSet == Set((1L, ts(10).toString)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("d3: a late within-watermark event extends the open session downward") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SessionEvent]
    val min = 60L * 1000 * 1000
    val q = StreamOps.sessionize(stream.toDS(), gapMicros = 30 * min, watermarkDelay = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("d3_late").start()
    try {
      stream.addData(Seq(SessionEvent(1L, 20 * min), SessionEvent(1L, 25 * min)))
      q.processAllAvailable()
      // late but within watermark (25-10=15 <= 18): must merge and lower start
      stream.addData(Seq(SessionEvent(1L, 18 * min)))
      q.processAllAvailable()
      stream.addData(Seq(SessionEvent(2L, 600 * min)))
      q.processAllAvailable()
      stream.addData(Seq(SessionEvent(2L, 1200 * min)))
      q.processAllAvailable()
      val s = spark.table("d3_late").as[Session].collect().filter(_.user_id == 1L)
      assert(s.toSeq == Seq(Session(1L, 3L, 18 * min, 25 * min)),
        s"late event must extend session start downward, got ${s.toSeq}")
    } finally q.stop()
  }

  test("d3: two late events older than open-start-minus-gap merge into ONE session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[SessionEvent]
    val min = 60L * 1000 * 1000
    // gap 5 min, watermark delay 60 min: events at 10 and 12 arrive after
    // the session [40,42] opened — both admissible, both older than
    // 40-5=35. They are within gap of EACH OTHER, so batch c13 makes them
    // one session [10,12] n=2; emitting each as a singleton is the bug.
    val q = StreamOps.sessionize(stream.toDS(), gapMicros = 5 * min, watermarkDelay = "60 minutes")
      .writeStream.outputMode("append").format("memory").queryName("d3_late_pair").start()
    try {
      stream.addData(Seq(SessionEvent(1L, 40 * min), SessionEvent(1L, 42 * min)))
      q.processAllAvailable()
      stream.addData(Seq(SessionEvent(1L, 10 * min)))
      q.processAllAvailable()
      stream.addData(Seq(SessionEvent(1L, 12 * min)))
      q.processAllAvailable()
      // flush: advance the watermark far past every session's end + gap
      stream.addData(Seq(SessionEvent(2L, 600 * min)))
      q.processAllAvailable()
      stream.addData(Seq(SessionEvent(2L, 1200 * min)))
      q.processAllAvailable()
      val s = spark.table("d3_late_pair").as[Session].collect()
        .filter(_.user_id == 1L).sortBy(_.start_us)
      assert(s.toSeq == Seq(
        Session(1L, 2L, 10 * min, 12 * min),
        Session(1L, 2L, 40 * min, 42 * min)),
        s"late events within gap of each other must merge, got ${s.toSeq}")
    } finally q.stop()
  }

  test("d5: stream dedup suppresses within-watermark duplicates across micro-batches") {
    import spark.implicits._
    // second half: the same ids again in a later micro-batch, still
    // inside the watermark
    val sink = drainStream(Seq((1L, ts(0)), (2L, ts(1)), (1L, ts(2)),
        (1L, ts(3)), (2L, ts(4)), (3L, ts(5)))) { s =>
      StreamOps.streamDedup(s.toDF("event_id", "ts"), idCols = Seq("event_id"))
    }
    val ids = sink.select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L),
      s"each id must appear exactly once, got ${ids.toSeq}")
  }

  test("d6: streaming near-dup flags an identical later doc, in and across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val min = 60L * 1000 * 1000
    val stream = MemoryStream[(Long, String, Long)]
    // see streamNearDup scaladoc: the FMGWS→agg chain trips the
    // conservative global-watermark checker though no late row is possible
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    spark.conf.set(checkKey, "false")
    val q = StreamOps.streamNearDup(
        stream.toDF().toDF("doc_id", "text", "ts_us"), watermarkDelay = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("d6_sink").start()
    try {
      // doc 1 and doc 2 identical (hamming 0) IN THE SAME BATCH;
      // doc 3 unrelated
      // start at t=100min: a doc exactly AT the initial watermark (0) would
      // be boundary-dropped by the downstream stateful aggregate
      stream.addData(Seq(
        (1L, "alpha beta gamma delta epsilon zeta", 100 * min),
        (2L, "alpha beta gamma delta epsilon zeta", 101 * min),
        (3L, "totally different words here entirely now", 102 * min)))
      q.processAllAvailable()
      // doc 4: identical again, a LATER micro-batch (state path)
      stream.addData(Seq((4L, "alpha beta gamma delta epsilon zeta", 103 * min)))
      q.processAllAvailable()
      // flush both stateful stages
      stream.addData(Seq((98L, "flush one", 600 * min)))
      q.processAllAvailable()
      stream.addData(Seq((99L, "flush two", 1200 * min)))
      q.processAllAvailable()
      val got = spark.table("d6_sink").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("is_dup"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong))).toMap
      assert(got(1L) == ((false, None)), s"first copy is clean, got ${got(1L)}")
      assert(got(2L) == ((true, Some(1L))), s"in-batch dup, got ${got(2L)}")
      assert(got(3L) == ((false, None)), s"unrelated doc clean, got ${got(3L)}")
      assert(got(4L) == ((true, Some(1L))), s"cross-batch dup vs state, got ${got(4L)}")
    } finally {
      q.stop()
      spark.conf.unset(checkKey)
    }
  }

  test("d6 streaming near-dup agrees with batch simhashPairs on the corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val min = 60L * 1000 * 1000
    // feed the documents table with ts = doc_id minutes: "earlier doc" in
    // the stream ⇔ smaller doc_id, so the batch expectation is exactly:
    // doc b is flagged iff some pair (a, b) with a < b exists, and
    // dup_of(b) = min such a
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val batchPairs = graft.operators.Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val expectDup = batchPairs.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    // +100 min offset: ts=0 sits exactly on the initial watermark and drops
    val input = docs.collect().map(r => (r.getLong(0), r.getString(1), (r.getLong(0) + 100) * min))
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    spark.conf.set(checkKey, "false")
    val stream = MemoryStream[(Long, String, Long)]
    val q = StreamOps.streamNearDup(
        stream.toDF().toDF("doc_id", "text", "ts_us"), watermarkDelay = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("d6_corpus").start()
    try {
      stream.addData(input.toSeq)
      q.processAllAvailable()
      val maxTs = input.map(_._3).max
      stream.addData(Seq((-1L, "flush one", maxTs + 600 * min)))
      q.processAllAvailable()
      stream.addData(Seq((-2L, "flush two", maxTs + 1200 * min)))
      q.processAllAvailable()
      val got = spark.table("d6_corpus").filter(col("doc_id") >= 0).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toMap
      assert(got.size == input.length, "one verdict per doc")
      val mismatches = got.filter { case (id, dupOf) => dupOf != expectDup.get(id) }
      assert(mismatches.isEmpty,
        s"stream vs batch disagreement on ${mismatches.take(5)}")
      assert(expectDup.nonEmpty, "corpus has near-dups to exercise the path")
    } finally {
      q.stop()
      spark.conf.unset(checkKey)
    }
  }

  test("d7 streaming packing equals c23 batch packing row-for-row") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    // split mid-shard: cross-batch state must carry the running count
    val sink = drainStream(docs.sortBy(_._1)) { s =>
      StreamOps.streamSeqPack(s.toDF("doc_id", "text"))
    }
    val streamed = sink
      .select("doc_id", "shard", "n_tokens", "cum_tokens", "pack_id")
    val batch = graft.operators.TextOps.c23SeqPack(spark, sfDir)
      .select("doc_id", "shard", "n_tokens", "cum_tokens", "pack_id")
    assert(streamed.count() == docs.length)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streaming packs must equal batch packs exactly")
  }

  test("d10 streaming vocabulary equals batch term counts; top-k view matches c34") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val sink = drainStream(docs, "complete") { s =>
      StreamOps.streamVocab(s.toDF("doc_id", "text"))
    }
    val streamed = sink.as[(String, Long)].collect().toMap
    val batch = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("term").count().as[(String, Long)].collect().toMap
    assert(streamed == batch, "running counts must equal the batch aggregation")
    val topk = streamed.toSeq.sortBy { case (t, n) => (-n, t) }.take(100)
    val c34 = graft.operators.TextOps.c34VocabTopk(spark, sfDir).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("tf"))).toSeq
    assert(topk == c34, "top-k view on the sink must equal c34's cut")
  }

  test("d12 streaming quality verdicts equal c35 batch row-for-row") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq ++
      Seq((9001L, "a  b"), (9002L, "solo"), (9003L, "MiXeD CaSe MiXeD"),
        (9004L, null)) // edge shapes; null text drops in BOTH forms
    val sink = drainStream(docs) { s =>
      TextOps.qualityVerdicts(
        TextOps.rowLocalQualityCounts(s.toDF("doc_id", "text")).drop("sorted"))
    }
    val cols = Seq("doc_id", "n_words", "n_types", "max_tc",
      "ttr", "top_share", "rule_len", "rule_ttr", "rule_top_share", "keep")
    val streamed = sink
      .select(cols.map(col): _*).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    // batch twin over the same doc set (corpus + edge docs)
    val tc = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val batch = graft.operators.TextOps.qualityVerdicts(
      tc.groupBy("doc_id")
        .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_types"),
          max(col("c")).as("max_tc")))
      .select(cols.map(col): _*).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(streamed.keySet == batch.keySet)
    assert(!streamed.contains(9004L), "null text must not emit a verdict row")
    streamed.foreach { case (id, row) =>
      assert(row == batch(id), s"doc $id stream vs batch verdict")
    }
    // the stream must see both verdicts on this corpus
    assert(streamed.values.exists(_.last == true))
    assert(streamed.values.exists(_.last == false))
  }

  test("d13 streaming freq score equals the batch twin under the same vocab artifact") {
    import spark.implicits._
    import graft.operators.TextOps
    // the shipped artifact: c34's top-k vocabulary cut + the corpus total
    val vocab = TextOps.c34VocabTopk(spark, sfDir, k = 100).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("tf"))).toSeq
    val total = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")))
      .count()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq ++
      Seq((9001L, "zzzzz qqqqq xxxxx"), // pure OOV: scores exactly 0
        (9002L, null)) // null text drops in both forms
    val sink = drainStream(docs) { s =>
      StreamOps.streamFreqScore(s.toDF("doc_id", "text"), vocab, total)
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    // batch twin: c41's shape restricted to the SAME bounded artifact
    val vdf = broadcast(vocab.toDF("term", "ctf"))
    val batch = docs.toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .join(vdf, Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("ctf"), lit(0L))).as("sum_ctf"))
      .withColumn("mean_prob_r",
        round(col("sum_ctf").cast("double") / col("n_tokens") / lit(total), 6))
      .withColumn("keep", col("mean_prob_r") >= 0.033)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(streamed.keySet == batch.keySet)
    assert(!streamed.contains(9002L), "null text must not emit a score row")
    streamed.foreach { case (id, row) =>
      assert(row == batch(id), s"doc $id stream vs batch score")
    }
    val oov = streamed(9001L)
    assert(oov(2) == 0L && oov(3) == 0.0 && oov(4) == false,
      s"pure-OOV doc must score exactly 0: $oov")
    // the bounded artifact must still discriminate on this corpus
    assert(streamed.values.exists(_.last == true))
    assert(streamed.values.exists(_.last == false))
  }

  test("d37 streaming DSIR selection equals batch c80 row-for-row; unseen buckets score neutral 0") {
    import spark.implicits._
    import graft.operators.Dsir
    val art = Dsir.trainDsir(spark, sfDir)
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val docs = corpus ++ Seq(
      (9001L, "zzzzz qqqqq zzzzz"), // words unseen at train time
      (9002L, null.asInstanceOf[String])) // null text drops on both paths
    val sink = drainStream(docs) { s =>
      Dsir.weightsOf(Dsir.scoreDocs(s.toDF("doc_id", "text"), art))
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    // batch twin: c80's own weights projection over the same frame —
    // the SAME subtree by construction, executed in batch mode
    val batch = Dsir.weightsOf(Dsir.scoreDocs(
        docs.toDF("doc_id", "text"), art)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(streamed.keySet == batch.keySet)
    assert(!streamed.contains(9002L), "null text must not emit a row")
    streamed.foreach { case (id, row) =>
      assert(row == batch(id), s"doc $id stream vs batch weight")
    }
    // the gate row itself agrees on the corpus slice (same artifact
    // via the per-dir memo)
    val gate = Dsir.c80DsirWeights(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    corpus.map(_._1).filter(streamed.contains).foreach { id =>
      assert(streamed(id) == gate(id), s"doc $id stream vs c80 gate row")
    }
    // every word of 9001 hashes to a bucket outside the artifact:
    // the shared coalesce scores it exactly 0 (the documented
    // neutral fallback that lets one artifact serve new data)
    val unseen = streamed(9001L)
    assert(unseen(2) == 0L && unseen(3) == 0.0 && unseen(4) == false,
      s"unseen-bucket doc must score exactly 0: $unseen")
  }

  test("d38 streaming containment hits fold to batch c81 over the straddling pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val existing = docs.filter(_._1 % 7 != 3)
    // incoming: the held-out slice plus a CONSTRUCTED doc-in-doc arrival —
    // an existing doc quoted verbatim inside fresh padding (the asymmetric
    // case c81 exists for), plus a null-text row (drops on both paths)
    val quoted = existing.head._2
    val incoming = docs.filter(_._1 % 7 == 3) ++ Seq(
      (900001L, "pad1 pad2 pad3 pad4 pad5 " + quoted + " pad6 pad7"),
      (900002L, null.asInstanceOf[String]))
    val statics = StreamOps.containStatics(existing.toDF("doc_id", "text"))
    val sink = drainStream(incoming) { s =>
      StreamOps.streamContainment(s.toDF("doc_id", "text"), statics)
    }
    // fold: hit rows are per colliding fingerprint; every duplicate
    // carries identical verified ratios, so the fold is a pure distinct
    val streamed = sink
      .drop("fp").distinct().collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ex_id")) ->
        ((r.getAs[Long]("n_common"), r.getAs[Long]("n_in"),
          r.getAs[Long]("ex_ns"), r.getAs[Double]("cont_in_r"),
          r.getAs[Double]("cont_ex_r"), r.getAs[Boolean]("contained"))))
      .toMap
    // batch reference: c81's core over the UNION corpus, restricted to
    // the straddling (incoming × existing) pairs, reoriented to
    // (arrival, corpus) direction
    val union = (existing ++ incoming).toDF("doc_id", "text")
    val exIds = existing.map(_._1).toSet
    val inIds = incoming.map(_._1).toSet
    val batch = Dedup.containmentOn(union, Dedup.shingleRows(union))
      .collect().flatMap { r =>
        val (da, db) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        val v = (r.getAs[Long]("n_common"), r.getAs[Long]("na"),
          r.getAs[Long]("nb"), r.getAs[Double]("cont_a_in_b_r"),
          r.getAs[Double]("cont_b_in_a_r"), r.getAs[Boolean]("contained"))
        if (inIds(da) && exIds(db))
          Some((da, db) -> v)
        else if (inIds(db) && exIds(da))
          Some((db, da) -> ((v._1, v._3, v._2, v._5, v._4, v._6)))
        else None
      }.toMap
    assert(streamed.keySet == batch.keySet,
      s"straddling candidate sets differ: stream-only=${streamed.keySet -- batch.keySet}, batch-only=${batch.keySet -- streamed.keySet}")
    streamed.foreach { case (k, v) =>
      assert(v == batch(k), s"pair $k stream vs batch containment")
    }
    assert(!streamed.keys.exists(_._1 == 900002L), "null text must not emit")
    // the constructed doc-in-doc arrival must hit its quoted source
    // with full corpus-side containment (every shingle of the quoted
    // doc appears in the arrival — plus the boundary shingles)
    val hit = streamed.collectFirst {
      case ((900001L, ex), v) if ex == existing.head._1 => v }
    assert(hit.nonEmpty, "doc-in-doc arrival must collide with its source")
    assert(hit.get._5 == 1.0 && hit.get._6,
      s"quoted source must be fully contained: ${hit.get}")
  }

  test("d39 streaming ANN query hits fold to the batch index serve") {
    import spark.implicits._
    import graft.operators.Similarity
    val embs = Tables.embeddings(spark, sfDir)
    val candRows = embs.filter(col("vec_id") >= 5)
    // at-rest index over the candidates; codebook from the full universe
    // so cells match the in-memory searches (buildVectorIndex's contract)
    val (cb, codes) = Similarity.buildVectorIndex(candRows,
      codebookFrom = Some(embs))
    val tmp = java.nio.file.Files.createTempDirectory("graft-d39-").toString
    // the materialized-table rule: the static side is an at-rest frame
    Similarity.reconstructCandidates(cb, codes)
      .write.mode("overwrite").parquet(s"$tmp/cand")
    val candStatic = spark.read.parquet(s"$tmp/cand")
    val cbSeq = cb.collect().map(r =>
      (r.getAs[Number]("cell").longValue(),
        r.getSeq[Double](r.fieldIndex("centroid")).toArray)).toSeq
    val queries = embs.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val nprobe = 2
    val sink = drainStream(queries) { s =>
      StreamOps.streamAnnScore(s.toDF("vec_id", "embedding"), candStatic, cbSeq, nprobe)
    }
    val hits = sink.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_r")))
    // the batch serve from the SAME artifacts
    val want = Similarity.queryVectorIndex(
        embs.filter(col("vec_id") < 5), cb, codes, k = 5, nprobe = nprobe)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_r")))
    // 1. every batch result row exists among the hits with the same score
    val hitSet = hits.map(h => (h._1, h._3) -> h._4).toMap
    want.foreach { case (qid, _, nid, adc) =>
      assert(hitSet.get((qid, nid)).contains(adc),
        s"batch row ($qid, $nid, $adc) missing from stream hits")
    }
    // 2. the downstream top-k fold reproduces the batch ranking
    val folded = hits.groupBy(_._1).flatMap { case (qid, hs) =>
      hs.toSeq.sortBy(h => (-h._4, h._3)).take(5).zipWithIndex
        .map { case (h, i) => (qid, i + 1L, h._3, h._4) }
    }.toSet
    assert(folded == want.toSet,
      s"fold diverges: fold-only=${folded -- want.toSet}, batch-only=${want.toSet -- folded}")
    // 3. hit volume = the probed cells' candidate counts (cell-sized
    // emission, never the corpus)
    val cellSizes = candStatic.groupBy("cell").count().collect()
      .map(r => r.getAs[Number]("cell").longValue() -> r.getAs[Long]("count")).toMap
    hits.groupBy(_._1).foreach { case (qid, hs) =>
      val probed = hs.map(_._2).distinct
      assert(probed.length <= nprobe, s"query $qid probed ${probed.length} cells")
      assert(hs.length == probed.map(cellSizes).sum,
        s"query $qid hit volume != probed cell sizes")
    }
  }

  test("d40 streaming as-of seals on the watermark and equals batch b14 on the full replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type")).collect()
      .filter(r => Set("click", "purchase")(r.getString(3)))
      .map(r => AsofEvent(r.getLong(1), r.getLong(0), r.getLong(2),
        is_right = r.getString(3) == "purchase"))
    val maxTs = ev.map(_.ts_us).max
    val minTs = ev.map(_.ts_us).min
    // a delay of half the corpus' event-time span guarantees batch 1
    // seals the early half and holds the late half open — both sides of
    // the watermark guard get exercised on any corpus shape
    val delayMin = math.max(1L, (maxTs - minTs) / 2 / 60000000L)
    val stream = MemoryStream[AsofEvent]
    val q = StreamOps.streamAsof(stream.toDS(),
        watermarkDelay = s"$delayMin minutes")
      .writeStream.outputMode("append").format("memory").queryName("d40_sink").start()
    try {
      // batch 1: every real event, deliberately NOT in event-time order
      stream.addData(ev.sortBy(e => (e.id * 2654435761L) % 1000003))
      q.processAllAvailable()
      val afterB1 = spark.table("d40_sink").count()
      // the half-span watermark cannot have sealed everything yet, and
      // must have sealed something
      assert(afterB1 < ev.count(!_.is_right),
        "every left sealed after batch 1 — the watermark guard is dead")
      assert(afterB1 > 0, "nothing sealed after batch 1 — the flush is dead")
      // batch 2: a far-future sentinel right on an unused key pushes the
      // watermark past every real left; all answers must flush
      stream.addData(Seq(AsofEvent(999999999L, 0L,
        maxTs + 4 * delayMin * 60000000L, is_right = true)))
      q.processAllAvailable()
      val got = spark.table("d40_sink")
        .filter(col("key") =!= 999999999L).collect()
        .map(r => r.getAs[Long]("left_id") ->
          ((r.getAs[Long]("key"), r.getAs[Long]("left_ts_us"),
            Option(r.getAs[java.lang.Long]("right_id")).map(_.longValue()),
            Option(r.getAs[java.lang.Long]("right_ts_us")).map(_.longValue()))))
        .toMap
      val want = graft.operators.Relational.b14AsofJoin(spark, sfDir).collect()
        .map(r => r.getAs[Long]("click_id") ->
          ((r.getAs[Long]("user_id"), r.getAs[Long]("click_ts_us"),
            Option(r.getAs[java.lang.Long]("purchase_id")).map(_.longValue()),
            Option(r.getAs[java.lang.Long]("purchase_ts_us")).map(_.longValue()))))
        .toMap
      assert(got.size == want.size,
        s"sealed ${got.size} lefts, batch b14 has ${want.size}")
      got.foreach { case (id, v) =>
        assert(v == want(id), s"click $id stream vs batch as-of")
      }
    } finally q.stop()
  }

  test("d40 a late right inside the watermark corrects an unsealed left before it seals") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val M = 60L * 1000 * 1000 // one minute in us
    val stream = MemoryStream[AsofEvent]
    val q = StreamOps.streamAsof(stream.toDS(), watermarkDelay = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("d40_late").start()
    try {
      // batch 1: a right at t=1m, the left at t=5m, and a clock event far
      // ahead on another key (t=12m) so the watermark moves to 2m — the
      // left (5m) stays unsealed
      stream.addData(Seq(
        AsofEvent(1L, 10L, 1 * M, is_right = true),
        AsofEvent(1L, 100L, 5 * M, is_right = false),
        AsofEvent(2L, 0L, 12 * M, is_right = true)))
      q.processAllAvailable()
      assert(spark.table("d40_late").isEmpty, "left emitted before its seal")
      // batch 2: a LATE right at t=4m (>= watermark 2m — admissible) that
      // must become the answer — carrying b23's non-integral payload
      // (string label + double value, r15) — then a clock push sealing
      // the left
      stream.addData(Seq(
        AsofEvent(1L, 11L, 4 * M, is_right = true,
          payload = Some(graft.streaming.AsofPayload("buy", 19.75))),
        AsofEvent(2L, 0L, 30 * M, is_right = true)))
      q.processAllAvailable()
      val out = spark.table("d40_late").filter(col("key") === 1L).collect()
      assert(out.length == 1)
      assert(out.head.getAs[Long]("left_id") == 100L)
      assert(out.head.getAs[java.lang.Long]("right_id") == 11L,
        s"late-but-admissible right must win: ${out.head}")
      // the matched right's payload rides the answer whole and exact
      assert(out.head.getAs[String]("right_label") == "buy")
      assert(out.head.getAs[Double]("right_value") == 19.75)
    } finally q.stop()
  }

  test("d41 forward streaming as-of equals batch b22 on the full replay; tolerance is mandatory") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // forward without a tolerance must refuse: the wait never seals
    val err = intercept[IllegalArgumentException](
      StreamOps.streamAsof(spark.emptyDataset[AsofEvent],
        direction = "forward"))
    assert(err.getMessage.contains("tolerance"))
    val tol = 30L * 60 * 1000 * 1000
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type")).collect()
      .filter(r => Set("click", "purchase")(r.getString(3)))
      .map(r => AsofEvent(r.getLong(1), r.getLong(0), r.getLong(2),
        is_right = r.getString(3) == "purchase"))
    val maxTs = ev.map(_.ts_us).max
    val stream = MemoryStream[AsofEvent]
    val q = StreamOps.streamAsof(stream.toDS(), watermarkDelay = "10 minutes",
        direction = "forward", toleranceUs = Some(tol))
      .writeStream.outputMode("append").format("memory").queryName("d41_sink").start()
    try {
      stream.addData(ev.sortBy(e => (e.id * 40503L) % 65537))
      q.processAllAvailable()
      stream.addData(Seq(AsofEvent(999999999L, 0L,
        maxTs + 2 * tol, is_right = true)))
      q.processAllAvailable()
      val got = spark.table("d41_sink")
        .filter(col("key") =!= 999999999L).collect()
        .map(r => r.getAs[Long]("left_id") ->
          ((r.getAs[Long]("key"), r.getAs[Long]("left_ts_us"),
            Option(r.getAs[java.lang.Long]("right_id")).map(_.longValue()),
            Option(r.getAs[java.lang.Long]("right_ts_us")).map(_.longValue()))))
        .toMap
      val want = graft.operators.Relational.b22AsofForward(spark, sfDir).collect()
        .map(r => r.getAs[Long]("click_id") ->
          ((r.getAs[Long]("user_id"), r.getAs[Long]("click_ts_us"),
            Option(r.getAs[java.lang.Long]("purchase_id")).map(_.longValue()),
            Option(r.getAs[java.lang.Long]("purchase_ts_us")).map(_.longValue()))))
        .toMap
      assert(got.size == want.size,
        s"sealed ${got.size} lefts, batch b22 has ${want.size}")
      got.foreach { case (id, v) =>
        assert(v == want(id), s"click $id stream vs batch forward as-of")
      }
      // a forward match seals as soon as the watermark passes ITS time —
      // before the left's whole window has elapsed (the early-seal
      // optimization); matched and unmatched lefts must both exist
      assert(got.values.exists(_._3.isDefined) && got.values.exists(_._3.isEmpty))
    } finally q.stop()
  }

  test("d42 streaming media card: mid-stream prefix fold, drained card equals batch c87") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{MediaRecord, Multimodal}
    val records = Multimodal.mediaTable(spark, sfDir).collect().toSeq
    val stream = MemoryStream[MediaRecord]
    val q = Multimodal.cardFold(Multimodal.decodeDs(stream.toDS()))
      .writeStream.outputMode("complete").format("memory")
      .queryName("d42_sink").start()
    def card(): Map[String, Seq[Any]] =
      spark.table("d42_sink").collect()
        .map(r => r.getAs[String]("media_type") -> r.toSeq).toMap
    def batchFold(rs: Seq[MediaRecord]): Map[String, Seq[Any]] =
      Multimodal.cardFold(Multimodal.decodeDs(
          spark.createDataset(rs))).collect()
        .map(r => r.getAs[String]("media_type") -> r.toSeq).toMap
    try {
      val (a, b) = records.splitAt(records.length / 2)
      stream.addData(a); q.processAllAvailable()
      assert(card() == batchFold(a),
        "mid-stream card must fold exactly the arrived prefix")
      stream.addData(b); q.processAllAvailable()
      val want = Multimodal.c87MediaCard(spark, sfDir).collect()
        .map(r => r.getAs[String]("media_type") -> r.toSeq).toMap
      assert(card() == want, "drained card must equal batch c87")
    } finally q.stop()
  }

  test("d43 streaming phash routing folds to the corpus-index hamming matches") {
    import spark.implicits._
    import graft.operators.{MediaRecord, Multimodal}
    // the at-rest index: the batch c88 frame, materialized once
    val index = spark.read.parquet(Multimodal.phashIndexTablePath(spark, sfDir))
    val corpus = index.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    // arrivals: fresh ids (re-crawls), payloads = PGM and lossless-PNG
    // re-encodes of known corpus images — the router must surface their
    // corpus twins (PNG hash equality makes hamming 0 by the stability spec)
    val baseIds = Seq(0L, 3L, 12L, 33L)
    val arrivals = baseIds.map(id => MediaRecord(id + 5000000L, "image",
        Multimodal.pgmPayload(id))) ++
      baseIds.map(id => MediaRecord(id + 6000000L, "png",
        Multimodal.pngTranscode(id, Multimodal.pgmPayload(id))))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamPhashRoute(s, index)
    }
    // fold the raw per-segment hits (d26's rule) and compare to the
    // driver-side brute hamming scan of the whole index
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_doc"),
        r.getAs[Long]("hamming"))).toSet
    val want = (for {
      a <- arrivals
      ph = Multimodal.phashOf(a.doc_id, a.media_type, a.payload)
      (cd, cph) <- corpus
      ham = java.lang.Long.bitCount(ph ^ cph).toLong if ham <= 3
    } yield (a.doc_id, cd, ham)).toSet
    assert(got == want, s"stream-only=${got -- want}, brute-only=${want -- got}")
    // every arrival's own corpus twin is found at hamming 0
    baseIds.foreach { id =>
      assert(got.contains((id + 5000000L, id, 0L)), s"PGM twin of $id missed")
      assert(got.contains((id + 6000000L, id, 0L)), s"PNG twin of $id missed")
    }
  }

  test("d49 streaming media cluster inheritance: arrivals inherit their " +
      "near-dups' frozen clusters, once per pair") {
    import spark.implicits._
    import graft.operators.{MediaRecord, Multimodal}
    val index = spark.read.parquet(Multimodal.phashIndexTablePath(spark, sfDir))
    val labels = spark.read.parquet(Multimodal.mediaLabelTablePath(spark, sfDir))
    val corpus = index.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    val lbl = labels.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id")).toMap
    val c102 = Multimodal.c102MediaClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseIds = Seq(0L, 3L, 12L, 33L)
    val arrivals = baseIds.map(id =>
      MediaRecord(id + 5000000L, "image", Multimodal.pgmPayload(id)))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamMediaClusterAssign(s, index, labels)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_doc"),
        r.getAs[Long]("hamming"), r.getAs[Long]("cluster_id"))).toSeq
    // EXACTLY once per (arrival, near-dup) pair — the canonical-band
    // emission is the stateless dedup
    assert(got.size == got.distinct.size, "duplicate pair rows")
    val want = (for {
      a <- arrivals
      ph = Multimodal.phashOf(a.doc_id, a.media_type, a.payload)
      (cd, cph) <- corpus
      ham = java.lang.Long.bitCount(ph ^ cph).toLong if ham <= 3
    } yield (a.doc_id, cd, ham,
      math.min(lbl.getOrElse(cd, cd), cd))).toSet
    assert(got.toSet == want,
      s"stream-only=${(got.toSet -- want).take(4)}, " +
        s"brute-only=${(want -- got.toSet).take(4)}")
    // each replayed corpus image inherits ITS OWN c102 cluster:
    // the min inherited label across its hits equals the gate row's
    baseIds.foreach { id =>
      val inherited = got.filter(_._1 == id + 5000000L).map(_._4)
      assert(inherited.nonEmpty && inherited.min == c102(id),
        s"arrival of $id inherited ${inherited.sorted.take(3)}, " +
          s"c102 says ${c102(id)}")
    }
    ()
  }

  test("d51 streaming recipe routing equals the batch c111 rows; unknown source reads null") {
    import spark.implicits._
    import graft.operators.TextOps
    val plan = TextOps.recipePlanOf(spark, sfDir)
    val c111 = TextOps.c111RecipeSample(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val replayIds = Seq(1L, 7L, 42L, 333L)
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(replayIds: _*))
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val arrivals = docs :+ ((99999999L, "src-not-in-plan", "some fresh text"))
    val sink = drainStream(arrivals) { s =>
      TextOps.recipeCopies(s.toDF("doc_id", "source", "text"), plan)
    }
    val got = sink.collect()
      .map(r => r.getLong(0) ->
        Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    replayIds.foreach(id =>
      assert(got(id).contains(c111(id)),
        s"arrival $id read ${got(id)}, c111 says ${c111(id)}"))
    assert(got(99999999L).isEmpty,
      "a source outside the plan must read null (new material)")
    ()
  }

  test("d50 streaming joint verdict: replays inherit BOTH frozen clusters; " +
      "fresh material reads null") {
    import spark.implicits._
    import graft.operators.{Dedup, JointRecord, Multimodal}
    val docs = Tables.documents(spark, sfDir)
    val textIdx = Dedup.textClusterIndexOf(
      docs.select("doc_id", "text"),
      spark.read.parquet(Dedup.clusterTablePath(spark, sfDir)))
    val mediaIdx = Multimodal.mediaClusterIndexOf(
      spark.read.parquet(Multimodal.phashIndexTablePath(spark, sfDir)),
      spark.read.parquet(Multimodal.mediaLabelTablePath(spark, sfDir)))
    val c107 = Multimodal.c107JointDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val baseIds = Seq(0L, 3L, 12L, 33L) // image docs: doc_id % 3 = 0
    val textOf = docs.filter(col("doc_id").isin(baseIds: _*))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    // replays re-keyed far out of the corpus + one fresh arrival whose
    // text is unseen and whose payload is an out-of-corpus generator id
    val freshPayloadId = 7777777L
    val arrivals = baseIds.map(id =>
      JointRecord(id + 7000000L, textOf(id), "image",
        Multimodal.pgmPayload(id))) :+
      JointRecord(99999999L, "zqxv unseen gibberish wopr", "image",
        Multimodal.pgmPayload(freshPayloadId))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamJointVerdict(s, textIdx, mediaIdx)
    }
    val got = sink.collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(got.size == arrivals.size, "one verdict row per arrival")
    // every replay inherits EXACTLY its c107 cluster pair — the
    // serving twin and the gate row answer with one voice
    baseIds.foreach { id =>
      val (tc, mc) = c107(id)
      val v = got(id + 7000000L)
      assert(v == ((Some(tc), Some(mc), true, true, true)),
        s"replay of $id read $v, c107 says ($tc, $mc)")
    }
    // the fresh arrival: unseen text reads null / false; the media
    // verdict equals a driver probe of the same index (no assumption
    // about hash collisions — the index decides)
    val freshHash = Multimodal.phashOf(99999999L, "image",
      Multimodal.pgmPayload(freshPayloadId))
    val idxMap = mediaIdx.collect()
      .map(r => r.getAs[Long]("phash") -> r.getAs[Long]("cluster_id")).toMap
    val wantMc = idxMap.get(freshHash)
    val fresh = got(99999999L)
    assert(fresh._1.isEmpty && !fresh._3, s"fresh text must read null: $fresh")
    assert(fresh._2 == wantMc && fresh._4 == wantMc.isDefined &&
      fresh._5 == (wantMc.isDefined || false),
      s"fresh media verdict $fresh vs index probe $wantMc")
    ()
  }

  test("d53 streaming AUDIO cluster inheritance: the d49 machinery over the " +
      "audio index inherits c104's frozen clusters") {
    import spark.implicits._
    import graft.operators.{MediaRecord, Multimodal}
    val index = spark.read.parquet(Multimodal.audioHashTablePath(spark, sfDir))
    val labels = spark.read.parquet(Multimodal.audioLabelTablePath(spark, sfDir))
    val corpus = index.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    val lbl = labels.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id")).toMap
    val c104 = Multimodal.c104AudioClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseIds = Seq(1L, 4L, 13L, 34L) // audio docs: doc_id % 3 = 1
    val arrivals = baseIds.map(id =>
      MediaRecord(id + 5000000L, "audio", Multimodal.wavPayload(id)))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamMediaClusterAssign(s, index, labels)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_doc"),
        r.getAs[Long]("hamming"), r.getAs[Long]("cluster_id"))).toSeq
    assert(got.size == got.distinct.size, "duplicate pair rows")
    val want = (for {
      a <- arrivals
      ph = Multimodal.phashOf(a.doc_id, a.media_type, a.payload)
      (cd, cph) <- corpus
      ham = java.lang.Long.bitCount(ph ^ cph).toLong if ham <= 3
    } yield (a.doc_id, cd, ham,
      math.min(lbl.getOrElse(cd, cd), cd))).toSet
    assert(got.toSet == want,
      s"stream-only=${(got.toSet -- want).take(4)}, " +
        s"brute-only=${(want -- got.toSet).take(4)}")
    // each replayed corpus audio inherits ITS OWN c104 cluster
    baseIds.foreach { id =>
      val inherited = got.filter(_._1 == id + 5000000L).map(_._4)
      assert(inherited.nonEmpty && inherited.min == c104(id),
        s"arrival of $id inherited ${inherited.sorted.take(3)}, " +
          s"c104 says ${c104(id)}")
    }
    ()
  }

  test("d54 streaming shard-digest contributions: any-partitioned replay " +
      "folds to EXACTLY the batch c112 manifest") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // replay the corpus shuffled — the fold must not care about arrival
    // order or batch boundaries
    val shuffled = docs.sortBy(d => d._1 * 2654435761L % 1000).toSeq
    val sink = drainStream(shuffled) { s =>
      StreamOps.streamShardDigest(s.toDF("doc_id", "text"))
    }
    val M = BigInt("2305843009213693951")
    val folded = sink.collect()
      .map(r => (r.getAs[String]("shard"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("digest1"), r.getAs[Long]("digest2")))
      .groupBy(_._1).view.mapValues { rows =>
        (rows.size.toLong, rows.map(_._2).sum,
          (rows.map(r => BigInt(r._3)).sum % M).toLong,
          (rows.map(r => BigInt(r._4)).sum % M).toLong)
      }.toMap
    val want = TextOps.c112ShardManifest(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(folded == want,
      s"fold-only=${(folded.toSet -- want.toSet).take(3)}, " +
        s"gate-only=${(want.toSet -- folded.toSet).take(3)}")
  }

  test("d52 streaming video cluster inheritance: replays inherit EXACTLY the " +
      "frozen c106 label; fresh material reads null") {
    import spark.implicits._
    import graft.operators.{MediaRecord, Multimodal}
    val index = Multimodal.videoClusterIndexOf(
      spark.read.parquet(Multimodal.videoFidTablePath(spark, sfDir)),
      spark.read.parquet(Multimodal.videoLabelTablePath(spark, sfDir)))
    val c106 = Multimodal.c106VideoClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseIds = Seq(2L, 5L, 14L, 35L) // video docs: doc_id % 3 = 2
    // replays re-keyed far out of the corpus (payload byte-identical —
    // the hash walk reads only the bytes) + one fresh arrival from an
    // out-of-corpus generator id
    val arrivals = baseIds.map(id =>
      MediaRecord(id + 7000000L, "video", Multimodal.y4mPayload(id))) :+
      MediaRecord(99999999L, "video", Multimodal.y4mPayload(7777777L))
    val got = drainStream(arrivals) { s =>
      StreamOps.streamVideoClusterInherit(s, index)
    }.collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(2))).toMap
    assert(got.size == arrivals.size, "one verdict row per arrival")
    // every replay inherits EXACTLY its source's c106 cluster — the
    // serving twin and the gate row answer with one voice
    baseIds.foreach { id =>
      assert(got(id + 7000000L) == ((Some(c106(id)), true)),
        s"replay of $id read ${got(id + 7000000L)}, c106 says ${c106(id)}")
    }
    assert(got(99999999L) == ((None, false)),
      s"fresh material must read null: ${got(99999999L)}")
    // a non-video arrival refuses loudly (the d44 dispatch rule)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainStream(Seq(MediaRecord(1L, "image", Multimodal.pgmPayload(0L)))) { s =>
        StreamOps.streamVideoClusterInherit(s, index)
      }
    }
    assert(e.getMessage != null)
    ()
  }

  test("d43 routes AUDIO arrivals against an audio phash index through the same dispatch") {
    import spark.implicits._
    import graft.operators.{MediaRecord, Multimodal}
    // the audio index: the batch c90 frame (same (doc_id, phash) shape —
    // the router is modality-agnostic once the hash dispatch agrees)
    val index = Multimodal.c90AudioPhash(spark, sfDir)
    val corpus = index.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    val baseIds = Seq(1L, 4L, 13L, 34L) // audio docs (doc_id % 3 == 1)
    val arrivals = baseIds.map(id =>
      MediaRecord(id + 7000000L, "audio", Multimodal.wavPayload(id)))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamPhashRoute(s, index)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_doc"),
        r.getAs[Long]("hamming"))).toSet
    val want = (for {
      a <- arrivals
      ph = Multimodal.audioPhashOf(a.doc_id, a.payload)
      (cd, cph) <- corpus
      ham = java.lang.Long.bitCount(ph ^ cph).toLong if ham <= 3
    } yield (a.doc_id, cd, ham)).toSet
    assert(got == want, s"stream-only=${got -- want}, brute-only=${want -- got}")
    baseIds.foreach(id => assert(got.contains((id + 7000000L, id, 0L)),
      s"audio twin of $id missed"))
  }

  test("d44 routes video arrivals frame-by-frame against the c91 frame index") {
    import spark.implicits._
    import graft.operators.{MediaRecord, Multimodal}
    val index = Multimodal.c91VideoPhash(spark, sfDir)
    val corpus = index.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("phash")))
    val baseIds = Seq(2L, 5L, 14L, 35L) // video docs (doc_id % 3 == 2)
    val arrivals = baseIds.map(id =>
      MediaRecord(id + 8000000L, "video", Multimodal.y4mPayload(id)))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamVideoPhashRoute(s, index)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("corpus_doc"), r.getAs[Long]("corpus_frame"),
        r.getAs[Long]("hamming"))).toSet
    val want = (for {
      a <- arrivals
      (f, ph) <- Multimodal.videoFramePhashes(a.doc_id, a.payload)
      (cd, cf, cph) <- corpus
      ham = java.lang.Long.bitCount(ph ^ cph).toLong if ham <= 3
    } yield (a.doc_id, f, cd, cf, ham)).toSet
    assert(got == want, s"stream-only=${(got -- want).take(5)}, " +
      s"brute-only=${(want -- got).take(5)}")
    // every arrival's own corpus twin collides frame-for-frame at 0
    baseIds.foreach { id =>
      val nFrames = 3 + id % 6
      (0L until nFrames).foreach(f =>
        assert(got.contains((id + 8000000L, f, id, f, 0L)),
          s"frame twin ($id, $f) missed"))
    }
    // non-video arrivals refuse loudly (the dispatch contract)
    val e = intercept[Exception] {
      StreamOps.streamVideoPhashRoute(
        spark.createDataset(Seq(MediaRecord(1L, "image",
          Multimodal.pgmPayload(1L)))).as[MediaRecord], index)
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("d11 streaming ingest hits fold to c37's exact statuses and dup_of") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    // c37's split: existing %7!=3; incoming = %7==3 plus the rekeyed recrawls
    val existingRows = docs.filter(_._1 % 7 != 3)
    val incoming = docs.filter(_._1 % 7 == 3) ++
      docs.filter(d => d._1 % 11 == 5 && d._1 % 7 != 3)
        .map(d => (d._1 + 1000000000000L, d._2))
    val existing = existingRows.toDF("doc_id", "text")
    // statics built once and persisted — the contract callers follow so
    // the corpus subtree isn't re-executed per micro-batch
    val statics = StreamOps.ingestStatics(existing)
    statics.exact.persist(); statics.bands.persist()
    try {
      val hits = drainStream(incoming) { s =>
        StreamOps.streamIngest(s.toDF("doc_id", "text"), statics)
      }.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"), r.getAs[Long]("ex_id")))
      val byDoc = hits.groupBy(_._1)
      val statuses = incoming.map { case (id, _) =>
        val h = byDoc.getOrElse(id, Array.empty)
        val exact = h.filter(_._2 == "exact")
        val near = h.filter(_._2 == "near")
        val (st, of) =
          if (exact.nonEmpty) ("exact_dup", exact.map(_._3).min)
          else if (near.nonEmpty) ("near_dup", near.map(_._3).min)
          else ("new", -1L)
        id -> ((st, of))
      }.toMap
      val batch = graft.operators.Dedup.c37IncrementalDedup(spark, sfDir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("status"),
            if (r.isNullAt(2)) -1L else r.getAs[Long]("dup_of"))))
        .toMap
      assert(statuses == batch,
        "streaming hit fold must equal c37's statuses and dup_of exactly")
    } finally {
      statics.exact.unpersist(); statics.bands.unpersist()
    }
  }

  test("d8 streaming decontamination hits aggregate to c24's batch n_shared") {
    import spark.implicits._
    val sh8 = spark.read.parquet(
      graft.operators.Dedup.shingleTablePath(spark, sfDir, n = 8))
    val evalShingles = sh8.filter(col("doc_id") % 50 === 0)
      .select(col("shingle")).distinct()
    val bytes = graft.functions.BloomFunctions.buildFilter(
      evalShingles, "shingle", 1L << 16, 0.01)
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // two batches: the operator is stateless, so the split is arbitrary
    val sink = drainStream(docs) { s =>
      StreamOps.streamDecontam(s.toDF("doc_id", "text"), evalShingles, bytes)
    }
    val streamed = sink
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val batch = graft.operators.TextOps.c24Decontam(spark, sfDir)
      .filter(col("contaminated")).select("doc_id", "n_shared")
    assert(batch.count() > 0, "corpus must contain contaminated docs")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streaming hit counts must equal batch n_shared for contaminated docs")
  }

  test("d9 streaming cell assignment equals the batch argmax, ties included") {
    import spark.implicits._
    val cb = graft.operators.Similarity.labelCodebook(spark, sfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Double](1).toArray)).toSeq
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val sink = drainStream(vecs) { s =>
      StreamOps.streamAssignCells(s.toDF("vec_id", "embedding"), cb)
    }
    val streamed = sink.select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val batch = graft.operators.Similarity
      .assignCells(e, graft.operators.Similarity.labelCodebook(spark, sfDir))
      .filter(col("arn") === 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell").toLong).toMap
    assert(streamed.size == vecs.size)
    assert(streamed == batch, "stream routing must equal the batch argmax")
  }

  test("d15 streaming embedding moments equal c45's exact integer sums after the last trigger") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val sink = drainStream(vecs, "complete") { s =>
      graft.operators.Similarity.fixedPointMoments(s.toDF("vec_id", "embedding"))
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Int]("pos") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sum_v4"),
          r.getAs[java.math.BigDecimal]("sum_sq4").longValueExact(),
          r.getAs[Long]("min_v4"), r.getAs[Long]("max_v4")))).toMap
    val batch = graft.operators.Similarity.c45EmbedMoments(spark, sfDir)
      .collect()
      .map(r => r.getAs[Int]("pos") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sum_v4"),
          r.getAs[String]("sum_sq4").toLong,
          r.getAs[Long]("min_v4"), r.getAs[Long]("max_v4")))).toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch,
      "running integer moments must equal the batch aggregation exactly")
  }

  test("d17 streaming pair counts equal c44's weighted totals; top-k cut matches") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val sink = drainStream(docs, "complete") { s =>
      StreamOps.streamPairCounts(s.toDF("doc_id", "text"))
    }
    val streamed = sink.collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
        r.getAs[Long]("cnt")).toMap
    // occurrence-direct counting ≡ the batch distinct-word weighting:
    // brute-force totals from raw text
    val pc = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { case (_, t) =>
      t.toLowerCase.split(" ", -1).foreach { w =>
        (0 until w.length - 1).foreach { i =>
          val k = (w.substring(i, i + 1), w.substring(i + 1, i + 2))
          pc(k) = pc.getOrElse(k, 0L) + 1L
        }
      }
    }
    assert(streamed == pc.toMap,
      "streaming occurrence counts must equal the weighted batch totals")
    // and the batch top-k cut derives from this sink
    val cut = streamed.toSeq.sortBy { case ((x, y), n) => (-n, x, y) }.take(50)
    val batch = graft.operators.TextOps.c44BpePairs(spark, sfDir).collect()
      .map(r => ((r.getAs[String]("a"), r.getAs[String]("b")),
        r.getAs[Long]("cnt"))).toSeq
    assert(cut == batch, "top-50 over the sink must equal c44's cut")
  }

  test("d18 streaming release audit equals batch c49 on the non-removed statuses") {
    import spark.implicits._
    // the same derived old snapshot c49's harness builds, materialized
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val oldDir = java.nio.file.Files
      .createTempDirectory("graft-d18-old-").toString
    docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("text")))
      .write.mode("overwrite").parquet(oldDir)
    val newDocs = docs.as[(Long, String)].collect().toSeq
    val sink = drainStream(newDocs) { s =>
      StreamOps.streamReleaseAudit(s.toDF("doc_id", "text"), spark.read.parquet(oldDir))
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val batch = graft.operators.TextOps.c49SnapshotDiff(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .filter(_._2 != "removed").toMap // absence cannot arrive on a stream
    assert(streamed.size == batch.size)
    assert(streamed == batch,
      "stream classification must equal batch c49 minus removed")
    assert(Set("added", "changed", "unchanged").subsetOf(streamed.values.toSet))
  }

  test("d16 streaming whitening equals batch c47 under the same moments artifact") {
    import spark.implicits._
    // the shipped artifact: full-precision (mean, sd) from the exact
    // integer sums — NOT the 6-dp-rounded card values
    val moments = graft.operators.Similarity
      .fixedPointMoments(Tables.embeddings(spark, sfDir)).collect()
      .map { r =>
        val n = r.getAs[Long]("n")
        val mean = r.getAs[Long]("sum_v4").toDouble / 10000.0 / n
        val sd = math.sqrt(
          r.getAs[java.math.BigDecimal]("sum_sq4").doubleValue() / 1e8 / n -
            mean * mean)
        (r.getAs[Int]("pos"), mean, sd)
      }.toSeq
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val sink = drainStream(vecs) { s =>
      StreamOps.streamWhiten(s.toDF("vec_id", "embedding"), moments)
    }
    val streamed = sink.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos")) ->
        r.getAs[Double]("z_r")).toMap
    val batch = graft.operators.Similarity.c47Whiten(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos")) ->
        r.getAs[Double]("z_r")).toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch, "stream whitening must equal batch c47")
  }

  test("d14 streaming semantic routing: hits re-derive brute-force; no self-match on re-ingest") {
    import spark.implicits._
    import graft.functions.NearestCells.round6
    val cb = graft.operators.Similarity.labelCodebook(spark, sfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Double](1).toArray)).toSeq
    // static side: c43's memoized assignment table (spec'd by the c43
    // re-derivation spec); collected here as the brute-force ground truth
    val corpus = spark.read.parquet(
      graft.operators.Similarity.assignedTablePath(spark, sfDir))
    val members = corpus.collect().map { r =>
      (r.getAs[Long]("vec_id"), r.getSeq[Double](r.fieldIndex("v")).toArray,
        r.getAs[Int]("cell").toLong)
    }
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    // stream: every corpus vector re-ingested under its ORIGINAL id (must
    // not match itself) plus 50 byte-identical copies under fresh ids
    // (must hit their originals at cosine 1.0)
    val streamRows = vecs ++ vecs.take(50).map { case (id, e) => (id + 100000L, e) }
    val sink = drainStream(streamRows) { s =>
      StreamOps.streamSemanticRoute(s.toDF("vec_id", "embedding"), corpus, cb)
    }
    val hits = sink.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("ex_id")) ->
        ((r.getAs[Long]("cell"), r.getAs[Double]("cent_r"),
          r.getAs[Double]("cosine_r")))).toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    // brute-force: stream-side argmax over the artifact, then score
    // against the static cell's members only
    val expected = streamRows.flatMap { case (id, emb) =>
      val v = emb.map(_.toDouble).toArray
      val (score, cell) = cb.map { case (c, cv) => (round6(cos(v, cv)), c) }
        .minBy { case (s, c) => (-s, c) }
      members.filter { case (exId, _, exCell) => exCell == cell && exId != id }
        .flatMap { case (exId, ev, _) =>
          val cr = round6(cos(v, ev))
          if (cr >= 0.35) Some((id, exId) -> ((cell, score, cr))) else None
        }
    }.toMap
    assert(hits == expected, "stream hits must equal the brute-force derivation")
    // the fresh copies must rediscover their originals at cosine 1.0
    vecs.take(50).foreach { case (id, _) =>
      assert(hits.get((id + 100000L, id)).exists(_._3 == 1.0),
        s"copy of vec $id must hit its original at 1.0")
    }
    // and nothing ever matches itself
    assert(hits.keys.forall { case (a2, b2) => a2 != b2 })
  }

  test("d3 streaming sessions agree with c13 batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessionEvent].collect().toSeq
    val stream = MemoryStream[SessionEvent]
    val q = StreamOps.sessionize(stream.toDS(), gapMicros = 30L * 60 * 1000 * 1000)
      .writeStream.outputMode("append").format("memory").queryName("d3_batch_cmp").start()
    val maxUs = ev.map(_.ts_us).max
    try {
      stream.addData(ev)
      q.processAllAvailable()
      // flush: advance watermark far beyond every open session's timeout
      stream.addData(Seq(SessionEvent(-1L, maxUs + 100L * 60 * 60 * 1000 * 1000)))
      q.processAllAvailable()
      stream.addData(Seq(SessionEvent(-1L, maxUs + 200L * 60 * 60 * 1000 * 1000)))
      q.processAllAvailable()
      val streamed = spark.table("d3_batch_cmp")
        .filter(col("user_id") >= 0)
        .select("user_id", "n_events", "start_us", "end_us")
      val batch = graft.operators.Relational.c13Sessionize(spark, sfDir)
        .select("user_id", "n_events", "start_us", "end_us")
      assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
        "streaming and batch sessionization must produce identical sessions")
    } finally q.stop()
  }

  test("d34 transformWithState sessions ≡ d3 flatMapGroupsWithState ≡ c13 batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000
    // arrival order is pinned to event time (r20): this spec splits the
    // feed into two batches, so it must not depend on the scan's
    // accidental row order — the fan-out floor hash-partitions the scan,
    // and a near-max-ts event landing in batch 1 would advance the
    // watermark past batch 2's older events (a genuine late-data drop,
    // not a parity break). In-order arrival is the semantics this spec
    // pins; late-arrival behavior is its own spec.
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessionEvent].collect().toSeq
      .sortBy(e => (e.ts_us, e.user_id))
    val maxUs = ev.map(_.ts_us).max
    def runThrough(name: String,
                   f: org.apache.spark.sql.Dataset[SessionEvent] =>
                     org.apache.spark.sql.Dataset[Session]): Seq[Seq[Any]] = {
      val stream = MemoryStream[SessionEvent]
      val q = f(stream.toDS()).writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        // two batches so mid-stream state genuinely carries, then the
        // same watermark-advancing flush protocol as the d3 spec
        val (a, b) = ev.splitAt(ev.length / 2)
        stream.addData(a); q.processAllAvailable()
        stream.addData(b); q.processAllAvailable()
        stream.addData(Seq(SessionEvent(-1L, maxUs + 100L * 60 * 60 * 1000 * 1000)))
        q.processAllAvailable()
        stream.addData(Seq(SessionEvent(-1L, maxUs + 200L * 60 * 60 * 1000 * 1000)))
        q.processAllAvailable()
        spark.table(name).filter(col("user_id") >= 0)
          .orderBy("user_id", "start_us").collect().map(_.toSeq).toSeq
      } finally q.stop()
    }
    // transformWithState needs the RocksDB provider (multi-column-family
    // state layout — see sessionizeTws's scaladoc); the d3 run below goes
    // back to the session default to prove the two coexist
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val savedProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val viaTws =
      try runThrough("d34_tws", ds => StreamOps.sessionizeTws(ds, gap))
      finally savedProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    val viaFmgws = runThrough("d34_fmgws",
      ds => StreamOps.sessionize(ds, gap))
    assert(viaTws == viaFmgws,
      "the two stateful APIs must carry identical session semantics")
    assert(viaTws.nonEmpty, "flush must seal real sessions")
    // and both agree with the batch oracle twin
    val batch = graft.operators.Relational.c13Sessionize(spark, sfDir)
      .select("user_id", "n_events", "start_us", "end_us")
      .orderBy("user_id", "start_us").collect().map(_.toSeq).toSeq
    assert(viaTws == batch, "transformWithState sessions must equal batch c13")
  }

  test("d20 streaming JPEG codec equals batch c53 row-for-row") {
    import spark.implicits._
    val M = graft.operators.Multimodal
    // c53's subset (doc_id % 3 == 1) as arriving image records, plus
    // audio/video rows that must be dropped BEFORE the codec loop
    val ids = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % 3 == 1).toSeq
    val media = ids.map(id =>
      graft.operators.MediaRecord(id, "image", M.pgmPayload(id))) ++
      Seq(graft.operators.MediaRecord(2L, "audio", M.wavPayload(2L)),
        graft.operators.MediaRecord(5L, "video", M.y4mPayload(5L)))
    val sink = drainStream(media) { s =>
      StreamOps.streamJpegCodec(s)
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    val batch = M.c53ImageCodec(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(streamed.keySet == batch.keySet,
      "stream must emit exactly the image-typed doc ids")
    streamed.foreach { case (id, row) =>
      assert(row == batch(id), s"doc $id stream vs batch jpeg stats")
    }
  }

  test("d21 streaming BPE tokenize equals driver-side apply of the same artifact") {
    import spark.implicits._
    val merges = graft.operators.TextOps.trainBpe(spark, sfDir)
    assert(merges.nonEmpty)
    def bruteMergePass(syms: Vector[String], m: (String, String)): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == m._1 && syms(i + 1) == m._2) {
          out += (syms(i) + syms(i + 1)); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val expected = docs.map { case (id, text) =>
      val ws = text.toLowerCase.split(" ", -1).filter(_.nonEmpty).toSeq
      val nTok = ws.map(w =>
        merges.foldLeft(w.map(_.toString).toVector)(bruteMergePass).length).sum
      id -> Seq(ws.length.toLong, nTok.toLong)
    }.toMap
    val sink = drainStream(docs) { s =>
      TextOps.bpeTokenizeDocs(s.toDF("doc_id", "text"), merges).drop("tokens")
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Seq(r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"))).toMap
    assert(streamed.keySet == expected.keySet)
    streamed.foreach { case (id, row) =>
      assert(row == expected(id), s"doc $id stream vs brute-force tokenize")
    }
  }

  test("d19 streaming image codec equals batch c51 row-for-row") {
    import spark.implicits._
    // the full mixed-modality media table: audio/video rows must be
    // dropped BEFORE the codec loop, image rows must round-trip
    val media = graft.operators.Multimodal.mediaTable(spark, sfDir)
      .collect().toSeq
    val sink = drainStream(media) { s =>
      StreamOps.streamImageCodec(s)
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    val batch = graft.operators.Multimodal.c51ImageCodec(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(streamed.keySet == batch.keySet,
      "stream must emit exactly the image-typed doc ids")
    streamed.foreach { case (id, row) =>
      assert(row == batch(id), s"doc $id stream vs batch codec stats")
    }
  }

  test("d22 streaming BM25 scores match batch c55 under the same stats artifact") {
    import spark.implicits._
    import graft.operators.TextOps
    // the artifact: c55's corpus statistics, trained at rest
    val docsDf = Tables.documents(spark, sfDir)
    val toks = docsDf.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("term"))
    val n = docsDf.count()
    val t = toks.count()
    val dfs = TextOps.C55QueryTerms.map { q =>
      q -> toks.filter(col("term") === q).select("doc_id").distinct().count()
    }
    val stats = StreamOps.Bm25Stats(n, t, dfs)
    val docs = docsDf.select("doc_id", "text").as[(Long, String)].collect().toSeq ++
      Seq((9001L, "no match terms here at all"), // all-zero tf: score exactly 0
        (9002L, null)) // null text drops in both forms
    val sink = drainStream(docs) { s =>
      StreamOps.streamBm25(s.toDF("doc_id", "text"), stats)
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(!streamed.contains(9002L), "null text must not emit a score row")
    assert(streamed(9001L).last == 0.0, "all-OOV doc scores exactly 0")
    // batch c55's top-20 rows must appear in the stream output with
    // IDENTICAL columns (same arithmetic, same rounding, same sum order)
    val batch = TextOps.c55Bm25(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (id, row) =>
      assert(streamed(id) == row, s"doc $id stream vs batch BM25 columns")
    }
    // and every streamed corpus doc is present exactly once
    assert(streamed.size == docs.length - 1)
  }

  test("d23 streaming winnowing equals batch c57 row-for-row") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq :+ ((9001L, "too short"))
    val sink = drainStream(docs) { s =>
      TextOps.winnowProjection(s.toDF("doc_id", "text"))
    }
    val streamed = sink.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    val batch = graft.operators.TextOps.c57Winnow(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(streamed.keySet == batch.keySet + 9001L)
    batch.foreach { case (id, row) =>
      assert(streamed(id) == row, s"doc $id stream vs batch winnow")
    }
    // the sub-k doc degrades to the empty fingerprint set, never an error
    val short = streamed(9001L)
    assert(short(1) == 2L && short(2) == 0L && short(4) == 0L,
      s"sub-k doc must yield zero grams and fingerprints: $short")
  }

  test("d24 streaming LM transitions equal the batch pairs-model join") {
    import spark.implicits._
    import graft.operators.TextOps
    val docsDf = Tables.documents(spark, sfDir).select("doc_id", "text")
    val model = TextOps.lmModel(TextOps.docPairs(docsDf)).cache()
    try {
      val docs = docsDf.as[(Long, String)].collect().toSeq ++
        Seq((9001L, "zzz qqq"), // out-of-model pair: dropped by the inner join
          (9002L, null))
      val sink = drainStream(docs) { s =>
        StreamOps.streamLmTransitions(s.toDF("doc_id", "text"), model)
      }
      val streamed = sink.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("a"),
          r.getAs[String]("b"), r.getAs[Long]("ppb"))).sorted.toSeq
      val batch = TextOps.docPairs(docsDf).join(broadcast(model), Seq("a", "b"))
        .withColumn("ppb", expr("(c_pair * 1000000000L) div c_prefix"))
        .select("doc_id", "a", "b", "ppb").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("a"),
          r.getAs[String]("b"), r.getAs[Long]("ppb"))).sorted.toSeq
      assert(streamed == batch,
        "stream transition multiset must equal the batch join exactly")
      assert(!streamed.exists(_._1 == 9001L), "out-of-model pairs drop")
      assert(!streamed.exists(_._1 == 9002L), "null text drops")
    } finally { model.unpersist(); () }
  }

  test("d25 streaming fingerprint match finds planted near-dups against the at-rest index") {
    import spark.implicits._
    import graft.operators.TextOps
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    // the at-rest index, materialized (d11's rule: the static subtree
    // re-executes per micro-batch, so it must be a table, not a pipeline)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-d25-idx-").toString
    TextOps.winnowIndex(corpus).write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    // arrivals: one near-dup of corpus doc 0 (long shared run), one
    // fresh doc with disjoint vocabulary, one null
    val base0 = corpus.filter(col("doc_id") === 0L)
      .head().getAs[String]("text")
    val arrivals = Seq(
      (80001L, "totally new prefix " + base0), // shares doc 0's runs
      (80002L, (0 until 40).map(i => s"fresh$i").mkString(" ")),
      (80003L, null.asInstanceOf[String]))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamWinnowMatch(s.toDF("doc_id", "text"), index)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_doc"),
        r.getAs[String]("fp")))
    assert(got.exists(m => m._1 == 80001L && m._2 == 0L),
      "planted near-dup must match its source through the index")
    assert(!got.exists(_._1 == 80002L), "disjoint-vocab doc must not match")
    assert(!got.exists(_._1 == 80003L), "null text drops")
    // every reported match is REAL: the fp is in both docs' selected sets
    val batchIdx = index.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"))).toSet
    val arrivalFps = TextOps.winnowIndex(
        arrivals.toDF("doc_id", "text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"))).toSet
    got.foreach { case (id, m, fp) =>
      assert(arrivalFps((id, fp)) && batchIdx((m, fp)),
        s"match ($id, $m, $fp) not grounded in both fingerprint sets")
    }
    // and the match set is exactly the batch join's prediction
    val expected = arrivalFps.flatMap { case (id, fp) =>
      batchIdx.collect { case (m, f) if f == fp && m != id => (id, m, fp) } }
    assert(got.toSet == expected)
  }

  test("d26 streaming dup-start hits equal the batch probe; islands merge to c62 spans") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    // the at-rest index, materialized (d11's rule)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-d26-idx-").toString
    Dedup.dupShingleIndexOf(corpus).write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    // arrivals: a doc embedding corpus doc 0's full text after a fresh
    // 2-token prefix (hits from start 2 onward), a disjoint-vocab doc,
    // a doc repeating only ITSELF (at-rest semantic: no hits), a null
    val base0 = corpus.filter(col("doc_id") === 0L).head().getAs[String]("text")
    val selfRun = (0 until 6).map(i => s"own$i").mkString(" ")
    val arrivals = Seq(
      (90001L, s"fresh0 fresh1 $base0"),
      (90002L, (0 until 40).map(i => s"new$i").mkString(" ")),
      (90003L, s"$selfRun filler $selfRun"),
      (90004L, null.asInstanceOf[String]))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamDupStarts(s.toDF("doc_id", "text"), index)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("i"))).toSet
    // exactly the batch probe of the same arrivals against the index
    val batch = Dedup.positionalShingles(
        arrivals.toDF("doc_id", "text"), 5)
      .join(index, "sh").select("doc_id", "i").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("i"))).toSet
    assert(got == batch, "stream hit set must equal the batch probe")
    assert(got.exists(_._1 == 90001L), "planted corpus run must hit")
    assert(!got.exists(_._1 == 90002L), "disjoint vocab must not hit")
    assert(!got.exists(_._1 == 90003L),
      "self-repeating arrival is new data at the at-rest semantic")
    assert(!got.exists(_._1 == 90004L), "null text drops")
    // the downstream fold is exactly c62's island merge: one maximal
    // span covering doc 0's embedded text, starting at token 2
    val spans = Dedup.mergeStartIslands(
        sink.select("doc_id", "i"), 5)
      .filter(col("doc_id") === 90001L).collect()
    val len0 = base0.split(" ").length
    assert(spans.length == 1 &&
      spans.head.getAs[Long]("span_start") == 2L &&
      spans.head.getAs[Long]("span_end") == (2L + len0 - 1) &&
      spans.head.getAs[Long]("span_tokens") == len0.toLong,
      s"hits must merge to the single embedded-run span, got ${spans.toSeq}")
  }

  test("d27 streaming span hits: tagged probes equal batch; fold confirms runs, kills mirages") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    val idx5Dir = java.nio.file.Files
      .createTempDirectory("graft-d27-idx5-").toString
    val idx20Dir = java.nio.file.Files
      .createTempDirectory("graft-d27-idx20-").toString
    Dedup.dupShingleIndexOf(corpus, 5).write.mode("overwrite").parquet(idx5Dir)
    Dedup.dupShingleIndexOf(corpus, 20).write.mode("overwrite").parquet(idx20Dir)
    val idx5 = spark.read.parquet(idx5Dir)
    val idx20 = spark.read.parquet(idx20Dir)
    // a long corpus doc to embed (true >= 20-token exact run), and three
    // 8-token snippets from three OTHER docs stitched back-to-back — each
    // produces at-rest 5-gram hits whose islands fuse (boundary gap = 5
    // <= n) into a >= 20-token CANDIDATE, but no 20-gram of the stitched
    // text exists at rest: the mirage c65 exists to kill
    val docsArr = corpus.filter(col("text").isNotNull).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").split(" ", -1)))
    val (_, longToks) = docsArr.filter(_._2.length >= 24).head
    val snippetSrc = docsArr.filter(d => d._2.length >= 8)
      .filterNot(_._2.sameElements(longToks)).take(3)
    assert(snippetSrc.length == 3, "corpus must offer three snippet donors")
    val mirage = snippetSrc.map(_._2.take(8).mkString(" ")).mkString(" ")
    val arrivals = Seq(
      (80001L, s"fresh0 fresh1 ${longToks.mkString(" ")}"),
      (80002L, mirage),
      (80003L, (0 until 30).map(i => s"zzz$i").mkString(" ")))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamSpanHits(s.toDF("doc_id", "text"), idx5, idx20)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("i"),
        r.getAs[Boolean]("strong"))).toSet
    // tagged hit set ≡ the two batch probes of the same arrivals
    val arrDf = arrivals.toDF("doc_id", "text")
    def batchProbe(idx: org.apache.spark.sql.DataFrame, w: Int, s: Boolean) =
      Dedup.positionalShingles(arrDf, w).join(idx, "sh")
        .select("doc_id", "i").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("i"), s)).toSet
    assert(got == batchProbe(idx5, 5, s = false) ++ batchProbe(idx20, 20, s = true),
      "stream hit set must equal the batch probes")
    // the downstream fold: embedded run survives confirmation with the
    // exact evidence count, the stitched mirage dies, noise never hits
    val folded = Dedup.spansMinOfHits(sink).collect()
    val lenL = longToks.length.toLong
    assert(folded.exists(r => r.getAs[Long]("doc_id") == 80001L &&
      r.getAs[Long]("span_start") == 2L &&
      r.getAs[Long]("span_tokens") >= lenL &&
      r.getAs[Long]("n_exact") >= lenL - 19L),
      s"embedded run must confirm, got ${folded.toSeq}")
    assert(!folded.exists(_.getAs[Long]("doc_id") == 80002L),
      "stitched mirage candidate must be killed by 20-gram confirmation")
    // ...and it WAS a candidate (the kill is the threshold working,
    // not the mirage failing to chain)
    val mirageCand = Dedup.mergeStartIslands(
        sink.filter(!col("strong"))
          .filter(col("doc_id") === 80002L).select("doc_id", "i"), 5)
      .filter(col("span_tokens") >= 20)
    assert(mirageCand.count() >= 1,
      "mirage must chain into a >= 20-token candidate island")
    assert(!got.exists(_._1 == 80003L), "disjoint vocab must not hit")
  }

  test("d28 streaming contamination probe: hits equal batch; fold equals c68") {
    import spark.implicits._
    import graft.operators.{Dedup, TextOps}
    // the at-rest corpus shingle index = the training side of c68's split
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 =!= 0).select("doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-d28-idx-").toString
    Dedup.shingleRows(corpus, 8).write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    // arrivals: the gate's own eval items (so the fold can be pinned to
    // c68 row-for-row) + a clean long doc + a sub-8-token doc + a null
    val evalDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val arrivals = evalDocs.toSeq ++ Seq(
      (70001L, (0 until 40).map(i => s"probe$i").mkString(" ")),
      (70002L, "too short for one shingle"),
      (70003L, null.asInstanceOf[String]))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamContamProbe(s.toDF("doc_id", "text"), index)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("shingle"),
        r.getAs[Long]("c_doc"))).toSet
    // hit set ≡ the batch probe of the same arrivals
    val arrDf = arrivals.toDF("doc_id", "text")
    val batch = Dedup.shingleRows(arrDf.filter(col("text").isNotNull), 8)
      .join(index.select(col("shingle"), col("doc_id").as("c_doc")), "shingle")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("shingle"),
        r.getAs[Long]("c_doc"))).toSet
    assert(got == batch, "stream hit set must equal the batch probe")
    assert(!got.exists(t => t._1 >= 70001L), "clean/short/null never hit")
    // the downstream fold over (arrival totals, stream hits) is
    // row-for-row c68 on the gate's eval items
    val totals = Dedup.shingleRows(arrDf.filter(col("text").isNotNull), 8)
      .groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val folded = TextOps.contamReportOfHits(totals,
      sink.select("doc_id", "shingle", "c_doc"))
    val evalIds = evalDocs.map(_._1).toSet
    val gotRep = folded.filter(col("doc_id").isin(evalIds.toSeq: _*))
      .collect().map(_.toSeq)
    val want = TextOps.c68ContamReport(spark, sfDir).collect().map(_.toSeq)
    assert(gotRep.toSeq == want.toSeq,
      "fold over stream hits must equal the c68 gate report")
    // the clean arrival folds to an explicit zero row, not an absence
    val clean = folded.filter(col("doc_id") === 70001L).collect()
    assert(clean.length == 1 && clean.head.getAs[Long]("n_hit_docs") == 0L)
  }

  test("d30 streaming full tokenization equals the at-rest CLI derivation per doc") {
    import spark.implicits._
    val merges = graft.operators.TextOps.trainBpe(spark, sfDir)
    // the batch twin IS the `Main tokenize` expression shape, derived
    // here through the REPLACE-CHAIN reference formulation so stream
    // and batch take independent token paths
    val want = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => length(w) >= 1).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_words"),
        flatten(transform(col("ws"),
          w => graft.operators.TextOps.applyBpeMerges(w, merges))).as("tokens"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2).length.toLong, r.getSeq[String](2).toVector))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val sink = drainStream(docs) { s =>
      TextOps.bpeTokenizeDocs(s.toDF("doc_id", "text"), merges)
    }
    val got = sink.orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getSeq[String](3).toVector))
    assert(got.toSeq == want.toSeq,
      "streamed token payloads must equal the at-rest derivation")
    assert(got.exists(_._4.exists(_.length > 1)),
      "the learned merges must fuse tokens in the stream too")
  }

  test("d29 streaming cluster routing: arrivals route to their c69 group") {
    import spark.implicits._
    import graft.operators.Dedup
    val routing = Dedup.spanClusterRoutingOf(spark, sfDir)
    // invariant the route relies on: sharing a shingle implies sharing a
    // cluster, so each sh maps to exactly one cluster_id
    assert(routing.groupBy("sh").count().filter(col("count") > 1).isEmpty,
      "a shingle mapping to two clusters contradicts the edge relation")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-d29-idx-").toString
    routing.write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    // an arrival embedding the text of a doc KNOWN to sit in a
    // non-singleton cluster must route to exactly that cluster
    val clustered = Dedup.c69SpanClusters(spark, sfDir)
      .filter(!col("is_canonical")).head()
    val srcId = clustered.getAs[Long]("doc_id")
    val srcCluster = clustered.getAs[Long]("cluster_id")
    val srcText = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === srcId).head().getAs[String]("text")
    val arrivals = Seq(
      (60001L, s"fresh $srcText"),
      (60002L, (0 until 40).map(i => s"route$i").mkString(" ")),
      (60003L, "short"),
      (60004L, null.asInstanceOf[String]))
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamClusterRoute(s.toDF("doc_id", "text"), index)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh"),
        r.getAs[Long]("cluster_id"))).toSet
    // hit set ≡ the batch probe of the same arrivals
    val batch = Dedup.positionalShingles(
        arrivals.toDF("doc_id", "text"), 20)
      .join(index, "sh")
      .select("doc_id", "sh", "cluster_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh"),
        r.getAs[Long]("cluster_id"))).toSet
    assert(got == batch, "stream hit set must equal the batch probe")
    val routed = got.filter(_._1 == 60001L).map(_._3)
    assert(routed == Set(srcCluster),
      s"embedded arrival must route to cluster $srcCluster, got $routed")
    assert(!got.exists(t => t._1 >= 60002L),
      "disjoint/short/null arrivals route nowhere")
  }

  test("d45 streaming soft-dedup weights: replays inherit 1/|cluster|, unseen docs weight 1.0") {
    import spark.implicits._
    import graft.operators.Dedup
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-d45-idx-").toString
    Dedup.softWeightIndexOf(spark, sfDir).write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    // a corpus doc KNOWN to sit in a non-singleton cluster: its replay
    // must inherit a weight strictly below 1.0
    val clustered = Dedup.c92SoftDedup(spark, sfDir)
      .filter(col("cluster_size") > 1).head()
    val srcId = clustered.getAs[Long]("doc_id")
    val srcW = clustered.getAs[Double]("weight_r")
    assert(srcW < 1.0)
    val srcText = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === srcId).head().getAs[String]("text")
    val arrivals = Seq(
      (70001L, srcText),                                  // replay → 1/|cluster|
      (70002L, "genuinely new material never seen before"), // unseen → 1.0
      (70003L, null.asInstanceOf[String]))                // null → filtered
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamSoftWeight(s.toDF("doc_id", "text"), index)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("weight_r"))).toMap
    assert(got == Map(70001L -> srcW, 70002L -> 1.0),
      s"expected replay at $srcW and unseen at 1.0, got $got")
    // full-replay parity: the stream result ≡ the batch probe of the
    // same arrivals through the same expression
    val batch = StreamOps.streamSoftWeight(
        arrivals.toDF("doc_id", "text"), index)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("weight_r"))).toMap
    assert(got == batch, "stream must equal the batch probe")
  }

  test("d46 streaming domain curation: row-local extraction + blocklist verdict, stream ≡ batch") {
    import spark.implicits._
    import graft.operators.Curation
    val arrivals = Seq(
      (80001L, "https://www.src3.example.com/en/article-1?ref=0"), // blocked
      (80002L, "https://www.src4.example.com/de/article-2?ref=1"), // clean
      (80003L, "http://news.example.org/path/x"),                  // no www, http
      (80004L, null.asInstanceOf[String]),                         // null → filtered
      (80005L, "https://src7.example.com"),          // path-less, blocked host
      (80006L, "HTTPS://WWW.Src13.example.com?q=1"), // shouty scheme/www, blocked
      (80007L, "not a url at all"))                  // garbage → '' pseudo-domain
    val sink = drainStream(arrivals) { s =>
      StreamOps.streamDomainFilter(s.toDF("doc_id", "url"))
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
        r.getAs[Boolean]("is_blocked"))).toSet
    assert(got == Set(
      (80001L, "src3.example.com", true),
      (80002L, "src4.example.com", false),
      (80003L, "news.example.org", false),
      // a path-less or case-shifted URL must NOT escape the blocklist
      (80005L, "src7.example.com", true),
      (80006L, "src13.example.com", true),
      (80007L, "", false)),
      s"extraction/verdict diverged: $got")
    // full-replay parity through the same expressions
    val batch = StreamOps.streamDomainFilter(arrivals.toDF("doc_id", "url"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("domain"), r.getAs[Boolean]("is_blocked"))).toSet
    assert(got == batch, "stream must equal the batch extraction")
    // the shared-subtree rule holds literally: the arrival-side domain
    // equals the batch provenance derivation on the gate corpus
    val prov = Curation.provenance(spark, sfDir)
      .select("doc_id", "url").limit(3).collect()
    prov.foreach { r =>
      val b = StreamOps.streamDomainFilter(
        Seq((r.getAs[Long]("doc_id"), r.getAs[String]("url")))
          .toDF("doc_id", "url")).head()
      assert(b.getAs[String]("domain").endsWith(".example.com"))
    }
  }

  test("d31 streaming byte-level tokenize: stream ≡ batch, any byte sequence round-trips") {
    import spark.implicits._
    import graft.functions.{ByteBpeAlphabet, ByteBpeFunctions}
    import graft.operators.TextOps
    val merges = TextOps.trainBpeBytes(spark, sfDir)
    // corpus arrivals plus inputs the char-level path cannot serve:
    // mixed case, emoji, control bytes, CJK
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .limit(50).collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val exotic = Seq(
      70001L -> "Mixed CASE and a \tTAB",
      70002L -> "emoji 🙂 and CJK 你好",
      70003L -> "double  space survives staged",
      70004L -> null.asInstanceOf[String])
    val arrivals = corpus ++ exotic
    val batch = TextOps.bpeTokenizeDocs(
        arrivals.toDF("doc_id", "text"), merges, bytes = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).toVector))
    val sink = drainStream(arrivals) { s =>
      TextOps.bpeTokenizeDocs(s.toDF("doc_id", "text"), merges, bytes = true)
        .withColumnRenamed("n_words", "n_pretokens")
    }
    val got = sink.orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_pretokens"),
        r.getAs[Long]("n_tokens"), r.getSeq[String](3).toVector))
    assert(got.toSeq == batch.toSeq,
      "streamed byte-level tokens must equal the batch derivation")
    assert(got.exists(_._4.exists(_.length > 1)),
      "the byte-level merges must fuse tokens in the stream too")
    // every single-spaced arrival round-trips byte-for-byte through
    // unstage(concat(tokens)) — the byte-level fidelity contract
    val byId = arrivals.toMap
    got.filter(t => byId(t._1) != null && !byId(t._1).contains("  "))
      .foreach { t =>
        val detok = ByteBpeAlphabet.unstage(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            t._4.mkString)).toString
        assert(detok == byId(t._1),
          s"doc ${t._1} failed the streamed detokenize round trip")
      }
    assert(!got.exists(_._1 == 70004L), "null text emits no row")
  }

  test("d32 streaming banded near-dup: stream ≡ batch probe; self route at cosine 1") {
    import spark.implicits._
    import graft.operators.Similarity
    val threshold = 0.3
    val corpus = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-d32-idx-").toString
    Similarity.bandedIndexOf(corpus).write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    // arrivals: 20 corpus vectors re-id'd (each must hit its own source
    // at cosine 1.0), plus a null embedding (must emit nothing)
    val src = corpus.limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val arrivals = src.map { case (id, e) => (id + 800000000L, e) } :+
      ((899999999L, null.asInstanceOf[Array[Float]]))
    val sink = drainStream(arrivals.toSeq) { s =>
      StreamOps.streamNearDupBanded(s.toDF("vec_id", "embedding"), index, threshold)
    }
    val got = sink.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("band"), r.getAs[Double]("cosine_r"))).toSet
    // batch probe of the same arrivals through the same operator
    val batch = StreamOps.streamNearDupBanded(
        arrivals.toSeq.toDF("vec_id", "embedding"), index, threshold)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("band"), r.getAs[Double]("cosine_r"))).toSet
    assert(got == batch, "stream hit set must equal the batch probe")
    // every re-id'd arrival collides with its identical at-rest source
    // in EVERY band (same vector ⇒ same sign pattern) at cosine 1.0
    src.foreach { case (id, _) =>
      val self = got.filter(t => t._1 == id + 800000000L && t._2 == id)
      assert(self.size == Similarity.C71Bands,
        s"arrival ${id + 800000000L} must hit source $id in all bands, " +
          s"got ${self.size}")
      assert(self.forall(_._4 == 1.0), s"self-hit cosine must round to 1.0")
    }
    assert(!got.exists(_._1 == 899999999L), "null embedding emits no row")
    // and the distinct fold's pairs all verify >= threshold
    assert(got.forall(_._4 >= threshold))
  }

  test("d33 streaming index add: stream-quantized codes ≡ the batch --add derivation") {
    import spark.implicits._
    import graft.operators.Similarity
    val m = 4
    val cb = Similarity.labelCodebook(spark, sfDir)
    val arrivalsDf = Tables.embeddings(spark, sfDir)
      .select(col("vec_id") + 700000000L, col("embedding")).limit(40)
    val arrivals = arrivalsDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)) :+
      ((799999999L, null.asInstanceOf[Array[Float]]))
    // batch truth: the exact `index --add` quantize of the same frame
    val want = Similarity.quantizeAgainstCodebook(
        arrivals.toSeq.toDF("vec_id", "embedding"), cb, m)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getSeq[Long](2).toVector))
    val sink = drainStream(arrivals.toSeq) { s =>
      StreamOps.streamIndexAdd(s.toDF("vec_id", "embedding"), cb, m)
    }
    val got = sink.orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getSeq[Long](2).toVector))
    assert(got.toSeq == want.toSeq,
      "stream-quantized codes must equal the batch --add derivation")
    assert(got.length == 40, "the null-embedding arrival must emit no row")
    // the output carries NO raw floats — it is the at-rest codes schema
    val schema = sink.schema
    assert(!schema.exists(f =>
      f.dataType.simpleString.contains("double") ||
        f.dataType.simpleString.contains("float")),
      s"stream add leaked floats: $schema")
  }

  test("d55 streaming WET extraction equals batch c117 row-for-row, refusals included") {
    import spark.implicits._
    import graft.operators.Extract
    // the arrival payload: the same synthesized markup the batch gate
    // row extracts (malformed %13 docs included), plus a hand-built
    // unterminated-script arrival and a null-markup arrival
    val markup = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Extract.gateMarkup.as("html"))
      .as[(Long, String)].collect().toSeq ++
      Seq((900001L, "<p>live four word line</p><script>var leak = 1;"),
        (900002L, null))
    val sink = drainStream(markup) { s =>
      Extract.htmlExtractOn(s.toDF("doc_id", "html"), "html", 4)
    }
    val cols = Seq("doc_id", "well_formed", "n_lines", "extracted")
    val streamed = sink.select(cols.map(col): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val batch = Extract.c117HtmlExtract(spark, sfDir)
      .select(cols.map(col): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(streamed.size == markup.size - 1, "null markup must emit no row")
    assert(!streamed.contains(900002L))
    batch.foreach { case (id, row) =>
      assert(streamed(id) == row, s"doc $id stream vs batch extraction")
    }
    // the live malformed arrival refuses and never leaks the script
    val live = streamed(900001L)
    assert(live(1) == false && live(3) == "live four word line")
  }

  test("d56 streaming encoding flags equal batch c118 row-for-row") {
    import spark.implicits._
    import graft.operators.Extract
    val corrupted = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Extract.gateCorruption.as("text"))
      .as[(Long, String)].collect().toSeq ++
      Seq((900001L, "live � arrival"), (900002L, null))
    val sink = drainStream(corrupted) { s =>
      Extract.encodingFlagOn(s.toDF("doc_id", "text"), "text")
    }
    val cols = Seq("doc_id", "n_fffd", "n_ctrl", "n_moji", "ok", "repaired")
    val streamed = sink.select(cols.map(col): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val batch = Extract.c118EncodingFlag(spark, sfDir)
      .select(cols.map(col): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(streamed.size == corrupted.size - 1, "null text must emit no row")
    batch.foreach { case (id, row) =>
      assert(streamed(id) == row, s"doc $id stream vs batch flags")
    }
    assert(streamed(900001L)(1) == 1L &&
      streamed(900001L)(5) == "live  arrival")
  }

  test("source audit: batch code never calls StreamOps; no StreamOps def is an alias of an operator core") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    def code(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val operatorFiles = Files.list(root.resolve("operators")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val callers = (operatorFiles :+ root.resolve("Main.scala"))
      .filter(p => code(p).contains("StreamOps"))
    assert(callers.isEmpty, s"batch code calls the stream layer: ${callers.mkString(", ")}")
    // the alias shape: a def whose whole body is one call into an
    // operator object — graft.operators.X.f(...), or X.f(...) for an
    // object X defined under operators/
    val objects = operatorFiles.flatMap(p =>
      "(?m)^object (\\w+)".r.findAllMatchIn(code(p)).map(_.group(1))).toSet
    val src = code(root.resolve("streaming/StreamOps.scala"))
    val member = "(?m)^  (?:override |private(?:\\[\\w+\\])? )?(?:def|case class|final case class|val) ".r
    val starts = member.findAllMatchIn(src).map(_.start).toSeq :+ src.lastIndexOf('}')
    val aliases = starts.sliding(2).collect { case Seq(a, b) => src.substring(a, b) }
      .filter(_.trim.matches("(?s)(private(\\[\\w+\\])? )?def .*"))
      .flatMap { m =>
        val name = "def (\\w+)".r.findFirstMatchIn(m).get.group(1)
        // body: after the signature's `=` (first `) ... =` or `: T =`)
        val eq = "(?s)\\)\\s*(?::[^=]*)?=\\s".r.findFirstMatchIn(m).map(_.end)
        eq.map(m.substring).map { b0 =>
          val b = b0.trim.stripPrefix("{").stripSuffix("}").trim
            .linesIterator.filterNot(_.trim.startsWith("import ")).mkString("\n").trim
          val head = "^(graft\\.operators\\.)?(\\w+)\\.\\w+\\(".r.findFirstMatchIn(b)
          val single = head.exists { h =>
            var depth = 1; var i = h.end
            while (depth > 0 && i < b.length) {
              if (b(i) == '(') depth += 1 else if (b(i) == ')') depth -= 1
              i += 1
            }
            (h.group(1) != null || objects(h.group(2))) && b.substring(i).trim.isEmpty
          }
          if (single) Some(name) else None
        }.getOrElse(None)
      }.toSeq
    assert(aliases.isEmpty, s"StreamOps defs that only alias an operator core: ${aliases.mkString(", ")}")
  }
}
