package graft

import java.io.PrintWriter
import java.net.ServerSocket
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ipc.{ArrowIpc, IpcMessage}

/** End-to-end CLI spec: `graft stream` drains a TCP ND-JSON feed into
  * bounded Arrow IPC files with a contiguous seq column — the bolson
  * stream-mode contract. */
class CliSpec extends SparkSpec {

  test("stream subcommand: socket → IPC files with contiguous seq") {
    import spark.implicits._
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    val outDir = Files.createTempDirectory("graft-cli-").toString
    val n = 500

    val feeder = new Thread(() => {
      val sock = server.accept()
      val w = new PrintWriter(sock.getOutputStream, true)
      (0 until n).foreach(i => w.println(s"""{"id": $i, "v": ${i * 2}}"""))
      w.flush()
      Thread.sleep(5000)
      sock.close()
    })
    feeder.setDaemon(true)
    feeder.start()

    val latFile = s"$outDir/latency.json"
    val metFile = s"$outDir/metrics.json"
    Main.main(Array("stream",
      "--host", "127.0.0.1", "--port", port.toString,
      "--out", outDir,
      "--schema-ddl", "id BIGINT, v BIGINT",
      "--max-rows", "64", "--seq-col",
      "--idle-timeout-ms", "4000",
      "--latency", latFile, "--metrics", metFile))

    val schema = StructType.fromDDL("id BIGINT, v BIGINT, seq BIGINT")
    val msgs = SparkSpec.session.read.format("binaryFile").load(s"$outDir/*.arrow")
      .select(col("content")).as[Array[Byte]]
      .map(b => IpcMessage(0L, 0L, b.length.toLong, b))
    val rows = ArrowIpc.deserialize(SparkSpec.session, msgs, schema)
      .orderBy("seq").collect()
    assert(rows.length == n, s"published ${rows.length} of $n rows")
    assert(rows.map(_.getAs[Long]("seq")).toSeq == (0L until n).toSeq,
      "seq contiguous across micro-batches")
    rows.foreach(r => assert(r.getAs[Long]("v") == r.getAs[Long]("id") * 2))

    // --latency / --metrics shutdown dumps (bolson cli.cpp:62-66,92-94):
    // per-batch samples with our rows accounted for, and per-stage totals
    val lat = Files.readString(java.nio.file.Paths.get(latFile))
    assert(lat.startsWith("[") && lat.contains("\"batch_id\""),
      s"latency dump has per-batch samples: $lat")
    val sampleRows = "\"input_rows\":(\\d+)".r
      .findAllMatchIn(lat).map(_.group(1).toLong).sum
    assert(sampleRows >= n, s"latency samples account for all $n rows: $lat")
    val met = Files.readString(java.nio.file.Paths.get(metFile))
    assert(met.contains(s"\"rows_published\":$n"), s"metrics totals: $met")
    assert(met.contains("\"messages_published\""), s"metrics totals: $met")

    // per-stage decomposition (bolson latency.h parity): every stage was
    // actually timed (non-zero totals) and the per-batch stage sums stay
    // within the measured batch execution time — the socket source feeds
    // single-partition batches, so stage core-ms cannot exceed wall-ms by
    // more than bookkeeping slop
    def metric(name: String): Double =
      s""""$name":([0-9.]+)""".r.findFirstMatchIn(met).map(_.group(1).toDouble)
        .getOrElse(fail(s"$name missing from metrics dump: $met"))
    val parseTot = metric("parse_ms_total")
    val serTot = metric("serialize_ms_total")
    val pubTot = metric("publish_ms_total")
    assert(parseTot > 0 && serTot > 0 && pubTot > 0,
      s"all stages timed: parse=$parseTot serialize=$serTot publish=$pubTot")
    val addBatchTotal = "\"add_batch_ms\":(\\d+)".r
      .findAllMatchIn(lat).map(_.group(1).toDouble).sum
    assert(parseTot + serTot + pubTot <= addBatchTotal * 1.5 + 100,
      s"stage sums (${parseTot + serTot + pubTot} ms) should be bounded by " +
        s"batch execution time ($addBatchTotal ms)")
    assert(lat.contains("\"parse_ms\"") && lat.contains("\"serialize_ms\"") &&
      lat.contains("\"publish_ms\""), s"per-batch stage fields present: $lat")
    // the engine's per-batch phases: per batch in the dump, averaged in
    // the metrics
    assert(lat.contains("\"phases_ms\":{") && lat.contains("\"walCommit\":"),
      s"per-batch phases present: $lat")
    assert(met.contains("\"phase_walCommit_ms_avg\"") &&
      met.contains("\"phase_commitOffsets_ms_avg\""), s"phase averages: $met")
    // the run's codegen compile count: a recompile regression shows here
    assert(met.matches(""".*"codegen_compiles":\d+[,}].*"""),
      s"codegen_compiles is a whole count: $met")
    // and the Janino time those compiles took
    assert(met.matches(""".*"codegen_compile_ms":\d+\.\d[,}].*"""),
      s"codegen_compile_ms is a millisecond figure: $met")
  }

  test("dedup subcommand: exact and minhash modes write canonical survivors") {
    val outExact = Files.createTempDirectory("graft-dedup-e-").toString
    Main.main(Array("dedup", "--in", sfDir, "--out", outExact, "--mode", "exact"))
    val distinctTexts = Tables.documents(spark, sfDir)
      .select("text").distinct().count()
    assert(spark.read.parquet(outExact).count() == distinctTexts,
      "exact mode keeps one doc per distinct text")

    val outMh = Files.createTempDirectory("graft-dedup-m-").toString
    Main.main(Array("dedup", "--in", sfDir, "--out", outMh, "--mode", "minhash"))
    val survivors = spark.read.parquet(outMh)
    // survivors = canonical docs of c19's clustering at the same threshold
    val canonicals = graft.operators.Dedup.c19DedupCluster(spark, sfDir)
      .filter(col("is_canonical")).count()
    assert(survivors.count() == canonicals,
      "minhash mode keeps exactly the cluster canonicals")
    // and survivors are pairwise non-near-dup at the threshold: every
    // dropped doc had a smaller-id near-dup partner
    assert(survivors.count() < Tables.documents(spark, sfDir).count(),
      "corpus contains near-dups, so some docs must drop")

    val outSh = Files.createTempDirectory("graft-dedup-s-").toString
    Main.main(Array("dedup", "--in", sfDir, "--out", outSh,
      "--mode", "simhash", "--max-hamming", "3"))
    val shSurvivors = spark.read.parquet(outSh).count()
    val total = Tables.documents(spark, sfDir).count()
    assert(shSurvivors > 0 && shSurvivors < total,
      s"simhash mode drops near-dups and keeps the rest ($shSurvivors of $total)")
  }

  test("vocab subcommand: writes c34's exact top-k cut") {
    val out = Files.createTempDirectory("graft-vocab-").toString
    Main.main(Array("vocab", "--in", sfDir, "--out", out, "--k", "10"))
    val got = spark.read.parquet(out).orderBy(col("tf").desc, col("term"))
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("tf")))
    val want = graft.operators.TextOps.c34VocabTopk(spark, sfDir, k = 10)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("tf")))
    assert(got.toSeq == want.toSeq)
    assert(got.length == 10)
  }

  test("chunk subcommand: chunks an arbitrary parquet exactly like the operator") {
    val inDir = Files.createTempDirectory("graft-chunk-in-").toString
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .write.mode("overwrite").parquet(inDir)
    val out = Files.createTempDirectory("graft-chunk-out-").toString
    Main.main(Array("chunk", "--in", inDir, "--out", out,
      "--size", "16", "--stride", "12"))
    val got = spark.read.parquet(out)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("chunk_tokens"), r.getAs[String]("chunk_text")))
    val want = graft.operators.TextOps.chunkDocs(
        Tables.documents(spark, sfDir), chunkSize = 16, stride = 12)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("chunk_tokens"), r.getAs[String]("chunk_text")))
    assert(got.toSeq == want.toSeq)
    assert(got.length > Tables.documents(spark, sfDir).count())
  }

  test("semdedup subcommand: verdicts over an arbitrary parquet equal c43's") {
    val out = Files.createTempDirectory("graft-semdedup-").toString
    Main.main(Array("semdedup",
      "--in", s"$sfDir/embeddings.parquet", "--out", out))
    val got = spark.read.parquet(out).orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("cent_r"), r.getAs[Boolean]("keep")))
    val want = graft.operators.Similarity.c43SemanticDedup(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("cent_r"), r.getAs[Boolean]("keep")))
    assert(got.toSeq == want.toSeq)
    // a trained-artifact codebook is accepted in place of the label one
    val cbDir = Files.createTempDirectory("graft-semdedup-cb-").toString
    graft.operators.Similarity.labelCodebook(spark, sfDir)
      .write.mode("overwrite").parquet(cbDir)
    val out2 = Files.createTempDirectory("graft-semdedup2-").toString
    Main.main(Array("semdedup", "--in", s"$sfDir/embeddings.parquet",
      "--out", out2, "--codebook", cbDir))
    val got2 = spark.read.parquet(out2).orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("cent_r"), r.getAs[Boolean]("keep")))
    assert(got2.toSeq == want.toSeq)
  }

  test("whiten subcommand: long-form z values over an arbitrary parquet equal c47's") {
    val out = Files.createTempDirectory("graft-whiten-").toString
    Main.main(Array("whiten",
      "--in", s"$sfDir/embeddings.parquet", "--out", out))
    val got = spark.read.parquet(out).orderBy("vec_id", "pos").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos"),
        r.getAs[Double]("z_r")))
    val want = graft.operators.Similarity.c47Whiten(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos"),
        r.getAs[Double]("z_r")))
    assert(got.toSeq == want.toSeq)
  }

  test("moments subcommand: artifact feeds streamWhiten identically to the in-engine path") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-moments-").toString
    Main.main(Array("moments",
      "--in", s"$sfDir/embeddings.parquet", "--out", out))
    val art = spark.read.parquet(out).orderBy("pos").collect()
    // the artifact must carry c45's exact integer sums
    val card = graft.operators.Similarity.c45EmbedMoments(spark, sfDir)
      .orderBy("pos").collect()
    art.zip(card).foreach { case (a, c) =>
      assert(a.getAs[Long]("sum_v4") == c.getAs[Long]("sum_v4"))
      assert(a.getAs[String]("sum_sq4") == c.getAs[String]("sum_sq4"))
    }
    // and the derived (mean, sd) drive streamWhiten to batch-c47 values
    val m = art.map(r => (r.getAs[Int]("pos"), r.getAs[Double]("mean"),
      r.getAs[Double]("sd"))).toSeq
    val viaArtifact = graft.streaming.StreamOps.streamWhiten(
        Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), m)
      .orderBy("vec_id", "pos").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos"),
        r.getAs[Double]("z_r")))
    val batch = graft.operators.Similarity.c47Whiten(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos"),
        r.getAs[Double]("z_r")))
    assert(viaArtifact.toSeq == batch.toSeq)
  }

  test("diff subcommand: release audit over two parquets equals the operator") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val newDir = Files.createTempDirectory("graft-diff-new-").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.write.mode("overwrite").parquet(newDir)
    val oldDir = Files.createTempDirectory("graft-diff-old-").toString
    docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
      .write.mode("overwrite").parquet(oldDir)
    val out = Files.createTempDirectory("graft-diff-out-").toString
    Main.main(Array("diff", "--old", oldDir, "--new", newDir, "--out", out))
    val got = spark.read.parquet(out).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status")))
    val want = graft.operators.TextOps.snapshotDiff(
        spark.read.parquet(oldDir), spark.read.parquet(newDir))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status")))
    assert(got.toSeq == want.toSeq)
    assert(got.exists(_._2 == "added") && got.exists(_._2 == "changed"))
  }

  test("shard --manifest: the release manifest equals the c112 gate over the input") {
    val base = Files.createTempDirectory("graft-cli-shman-").toString
    Main.main(Array("shard", "--in", s"$sfDir/documents.parquet",
      "--out", s"$base/shards", "--manifest", s"$base/manifest"))
    val got = spark.read.parquet(s"$base/manifest").orderBy("shard")
      .collect().map(_.toSeq)
    val want = graft.operators.TextOps.c112ShardManifest(spark, sfDir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      "CLI manifest diverges from the c112 gate")
    // the manifest certifies the WRITTEN shards: re-derive each shard's
    // doc count from the partitioned output and compare
    val written = spark.read.parquet(s"$base/shards")
      .groupBy("shard").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    want.foreach { r =>
      // partition-column read-back can coerce digit-only hex ('07'→7):
      // compare under that coercion, the write layout's known quirk
      val s = r(0).asInstanceOf[String]
      val k = if (written.contains(s)) s else s.dropWhile(_ == '0') match {
        case "" => "0"
        case x => x
      }
      assert(written(k) == r(1).asInstanceOf[Long],
        s"shard $s doc count mismatch vs written output")
    }
  }

  test("dedup --pairs: the audit surface equals the c2 gate row") {
    val out = Files.createTempDirectory("graft-cli-pairs-").toString + "/p"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.main(Array("dedup", "--pairs", "--in", sfDir, "--out", out))
    }
    val got = spark.read.parquet(out)
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq)
    val want = graft.operators.Dedup.c2DedupMinhash(spark, sfDir)
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI pair surface diverges from c2")
    assert(buf.toString("UTF-8").contains(s""""pairs":${want.length}"""),
      buf.toString("UTF-8"))
  }

  test("shard --verify: a clean download certifies; one altered doc flags its shard") {
    val base = Files.createTempDirectory("graft-cli-shver-").toString
    Main.main(Array("shard", "--in", s"$sfDir/documents.parquet",
      "--out", s"$base/shards", "--manifest", s"$base/manifest"))
    def verify(inPath: String): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.main(Array("shard", "--verify", "--in", inPath,
          "--manifest", s"$base/manifest"))
      }
      buf.toString("UTF-8").trim
    }
    // the publisher's own output verifies clean (shard re-derived from
    // content, so the partition layout's hex coercion is irrelevant)
    val ok = verify(s"$base/shards")
    assert(ok.contains("\"ok\":true") && ok.contains("\"bad\":0"), ok)
    // one altered doc: exactly that doc's shard flags (the tamper moves
    // its digest AND its token mass; doc/shard membership is unchanged
    // because the shard key hashes doc_id:text — the altered text moves
    // the doc to a DIFFERENT shard, so up to 2 shards flag)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val tampered = docs.withColumn("text",
      when(col("doc_id") === 7L, concat(col("text"), lit(" tampered")))
        .otherwise(col("text")))
    tampered.write.mode("overwrite").parquet(s"$base/tampered")
    val badOut = verify(s"$base/tampered")
    assert(badOut.contains("\"ok\":false"), badOut)
    val nBad = "\"bad\":(\\d+)".r.findFirstMatchIn(badOut).get.group(1).toInt
    assert(nBad >= 1 && nBad <= 2, s"one-doc tamper must flag 1-2 shards: $badOut")
    // a missing doc also flags (delete instead of alter)
    val missing = docs.filter(col("doc_id") =!= 7L)
    missing.write.mode("overwrite").parquet(s"$base/missing")
    assert(verify(s"$base/missing").contains("\"ok\":false"))
  }

  test("shard subcommand: partitioned-by-shard layout, dense positions, full columns carried") {
    val inDir = Files.createTempDirectory("graft-shard-in-").toString
    Tables.documents(spark, sfDir)
      .write.mode("overwrite").parquet(inDir)
    val out = Files.createTempDirectory("graft-shard-out-").toString
    Main.main(Array("shard", "--in", inDir, "--out", out))
    // physical layout: one directory per shard (what a loader consumes)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.nonEmpty && shardDirs.forall(_.matches("shard=[0-9a-f]")))
    val written = spark.read.parquet(out)
    assert(written.count() == Tables.documents(spark, sfDir).count())
    // every input column survives the shuffle, plus (shard, pos, h)
    val cols = written.columns.toSet
    assert(Set("doc_id", "text", "lang", "source", "n_chars",
      "shard", "pos", "h").subsetOf(cols), cols.toString)
    written.collect().groupBy(_.getAs[String]("shard")).foreach { case (sh, rs) =>
      assert(rs.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until rs.length).toSeq,
        s"dense positions in shard $sh")
    }
  }

  test("ingest subcommand: statuses match c37's operator; --new-only keeps full columns") {
    // incoming = a replay of 3 existing docs (exact dups) + 1 fresh doc
    val docs = Tables.documents(spark, sfDir)
    val incDir = Files.createTempDirectory("graft-ingest-in-").toString
    import spark.implicits._
    val fresh = Seq((9000000L, "entirely fresh ingest content never seen before ok"))
      .toDF("doc_id", "text")
    docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .unionAll(fresh)
      .write.mode("overwrite").parquet(incDir)
    val out = Files.createTempDirectory("graft-ingest-out-").toString
    Main.main(Array("ingest", "--existing", sfDir, "--incoming", incDir,
      "--out", out))
    val statuses = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(statuses.size == 4)
    (0L until 3L).foreach(i => assert(statuses(i + 5000000L) == "exact_dup"))
    assert(statuses(9000000L) == "new")

    val outNew = Files.createTempDirectory("graft-ingest-new-").toString
    Main.main(Array("ingest", "--existing", sfDir, "--incoming", incDir,
      "--out", outNew, "--new-only"))
    val kept = spark.read.parquet(outNew)
    assert(kept.columns.toSet == Set("doc_id", "text"), "full incoming columns")
    assert(kept.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(9000000L))
  }

  test("decontam subcommand: flags and drops docs overlapping an eval parquet") {
    // eval set = the c24 convention (doc_id % 50 == 0), written as a
    // standalone parquet the way a real benchmark set arrives
    val evalDir = Files.createTempDirectory("graft-eval-").toString + "/eval.parquet"
    Tables.documents(spark, sfDir).filter(col("doc_id") % 50 === 0)
      .select("doc_id", "text").write.parquet(evalDir)

    val outFlag = Files.createTempDirectory("graft-decontam-f-").toString
    Main.main(Array("decontam", "--in", sfDir, "--eval", evalDir, "--out", outFlag))
    val flagged = spark.read.parquet(outFlag)
    // the eval docs themselves are in --in and trivially 100% contaminated;
    // restricted to the disjoint training docs, flags must equal c24's
    val c24 = graft.operators.TextOps.c24Decontam(spark, sfDir)
      .select("doc_id", "n_shared", "contaminated")
    val train = flagged.filter(col("doc_id") % 50 =!= 0)
      .select("doc_id", "n_shared", "contaminated")
    assert(train.exceptAll(c24).count() == 0 && c24.exceptAll(train).count() == 0,
      "CLI flags on non-eval docs must equal c24's oracle-checked output")
    // every eval doc long enough to carry an 8-shingle must self-flag
    val longEval = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0)
      .filter(size(split(lower(col("text")), " ")) >= 8)
      .select("doc_id")
    assert(flagged.join(longEval, "doc_id").filter(!col("contaminated")).count() == 0,
      "every shingle-bearing eval doc present in the corpus must flag as contaminated")

    val outDrop = Files.createTempDirectory("graft-decontam-d-").toString
    Main.main(Array("decontam", "--in", sfDir, "--eval", evalDir,
      "--out", outDrop, "--drop"))
    val kept = spark.read.parquet(outDrop)
    val expectKeep = flagged.filter(!col("contaminated")).count()
    assert(kept.count() == expectKeep, "--drop keeps exactly the clean docs")
    assert(kept.columns.contains("text"), "--drop emits full documents")
  }

  test("curate subcommand: stages compose to exactly the component operators' intersection") {
    val evalDir = Files.createTempDirectory("graft-ceval-").toString + "/eval.parquet"
    Tables.documents(spark, sfDir).filter(col("doc_id") % 50 === 0)
      .select("doc_id", "text").write.parquet(evalDir)
    val out = Files.createTempDirectory("graft-curate-").toString
    Main.main(Array("curate", "--in", sfDir, "--eval", evalDir, "--out", out))
    val curated = spark.read.parquet(out)

    // expected id set: (min quality-surviving doc per near-dup cluster)
    // ∩ decontaminated — canonicals are promoted AMONG quality survivors,
    // so a cluster whose full-corpus canonical fails the quality gate
    // still contributes its best surviving member instead of vanishing
    val quality = graft.operators.TextOps.c7TextQuality(spark, sfDir)
      .filter(col("keep")).select("doc_id")
    val lbl = spark.read.parquet(
        graft.operators.Dedup.clusterTablePath(spark, sfDir))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val canon = quality.join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .groupBy("cluster_id").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val docs = Tables.documents(spark, sfDir)
    val clean = graft.operators.TextOps.decontaminate(
        docs.select("doc_id", "text"),
        spark.read.parquet(evalDir).select("doc_id", "text"))
      .filter(!col("contaminated")).select("doc_id")
    val expected = canon.intersect(clean)
    val got = curated.select("doc_id")
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "curated ids must equal the intersection of the verified stages")
    // the over-drop regression: the old full-corpus-canonical semi-join
    // can only ever keep a subset of the survivor-promoted canonicals
    val fullCorpusCanon = graft.operators.Dedup
      .dedupDocuments(spark, sfDir, "minhash").select("doc_id")
    val oldExpected = quality.intersect(fullCorpusCanon).intersect(clean)
    assert(oldExpected.exceptAll(got).count() == 0,
      "survivor-promoted curation must keep every doc the old rule kept")
    info(s"curate: kept ${got.count()} docs " +
      s"(full-corpus-canonical rule would keep ${oldExpected.count()})")
    assert(curated.count() > 0 && curated.count() < docs.count(),
      "curation must keep some docs and drop some docs")
    // every curated doc carries its cluster-canonical split
    val c30 = graft.operators.Dedup.c30ClusterSplit(spark, sfDir)
      .select(col("doc_id"), col("split").as("expect_split"))
    assert(curated.join(c30, "doc_id")
      .filter(col("split") =!= col("expect_split")).count() == 0)
    assert(curated.columns.toSet.contains("text") &&
      curated.columns.toSet.contains("split"))
  }

  test("codec subcommand: decode and resize over an arbitrary media parquet") {
    import spark.implicits._
    val M = graft.operators.Multimodal
    // mixed corpus: the three raw containers plus real PNG payloads
    val inDir = Files.createTempDirectory("graft-codec-in-").toString
    val mixed = M.mediaTable(spark, sfDir).collect().toSeq ++
      Seq(0L, 3L, 12L).map(id => graft.operators.MediaRecord(
        id + 100000L, "png", M.pngTranscode(id, M.pgmPayload(id))))
    spark.createDataset(mixed).toDF()
      .write.mode("overwrite").parquet(inDir)
    // decode mode: features equal the operator's for every record
    val outF = Files.createTempDirectory("graft-codec-feat-").toString
    Main.main(Array("codec", "--in", inDir, "--out", outF))
    val got = spark.read.parquet(outF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("media_type"), r.getAs[Long]("width"),
          r.getAs[Long]("height"), r.getAs[Long]("v_sum"))).toMap
    assert(got.size == mixed.size)
    mixed.foreach { r =>
      val want = M.decode(r)
      assert(got(r.doc_id) == ((want.media_type, want.width, want.height, want.v_sum)),
        s"doc ${r.doc_id} CLI features diverge from the operator")
    }
    // png rows decode to the SAME raster stats as their pgm source
    Seq(0L, 3L, 12L).foreach { id =>
      assert(got(id + 100000L)._4 == got(id)._4,
        s"png transcode of doc $id changed the raster sum")
    }
    // resize mode: every output is a valid container at the target dims
    val outR = Files.createTempDirectory("graft-codec-resize-").toString
    Main.main(Array("codec", "--in", inDir, "--out", outR, "--resize", "16x8"))
    val resized = spark.read.parquet(outR)
      .select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])].collect()
    assert(resized.length == mixed.size)
    resized.foreach { case (id, mt, payload) =>
      val f = M.decode(graft.operators.MediaRecord(id, mt, payload))
      if (mt != "audio") assert(f.width == 16 && f.height == 8,
        s"doc $id ($mt) not resized to 16x8")
      else assert(f.n_units == 16 * 8, s"doc $id audio not resampled to 128")
    }
  }

  test("card subcommand: dataset card over an arbitrary parquet equals c61's") {
    import graft.operators.TextOps
    val out = Files.createTempDirectory("graft-cli-card-").toString + "/card"
    Main.main(Array("card", "--in", s"$sfDir/documents.parquet", "--out", out))
    val got = spark.read.parquet(out).orderBy("metric").collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value_r")).toSeq
    val want = TextOps.c61DatasetCard(spark, sfDir).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value_r")).toSeq
    assert(got == want, "CLI card diverges from the operator")
  }

  test("search subcommand: BM25 top-k over an arbitrary parquet equals c55's ranking") {
    import graft.operators.TextOps
    val out = Files.createTempDirectory("graft-cli-search-").toString + "/ranked"
    Main.main(Array("search", "--in", s"$sfDir/documents.parquet",
      "--terms", TextOps.C55QueryTerms.mkString(","), "--out", out, "--k", "20"))
    val got = spark.read.parquet(out)
      .orderBy(desc("score"), asc("doc_id")).collect().map(_.toSeq)
    val want = TextOps.c55Bm25(spark, sfDir).collect().map(_.toSeq)
    assert(got.length == 20)
    assert(got.toSeq == want.toSeq, "CLI ranking diverges from the operator")
  }

  test("fingerprint subcommand: per-doc digests equal c57; --index joins dup docs") {
    import spark.implicits._
    import graft.operators.TextOps
    val base = Files.createTempDirectory("graft-cli-fp-").toString
    // corpus + one planted near-dup pair sharing a long run
    val run = (0 until 20).map(i => s"shared$i").mkString(" ")
    val extra = Seq((90001L, s"prefix words here $run"),
      (90002L, s"$run and a different tail entirely"))
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(extra.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$base/docs")
    Main.main(Array("fingerprint", "--in", s"$base/docs", "--out", s"$base/fp"))
    val got = spark.read.parquet(s"$base/fp").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    val want = TextOps.c57Winnow(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    want.foreach { case (id, row) =>
      assert(got(id) == row, s"doc $id CLI digest diverges from c57")
    }
    // --index mode: the planted pair shares at least one fp row
    Main.main(Array("fingerprint", "--in", s"$base/docs",
      "--out", s"$base/idx", "--index"))
    val shared = spark.read.parquet(s"$base/idx")
      .groupBy("fp").agg(collect_set(col("doc_id")).as("ds"))
      .filter(array_contains(col("ds"), 90001L) &&
        array_contains(col("ds"), 90002L))
      .count()
    assert(shared >= 1, "planted near-dup pair must share an index fingerprint")
  }

  test("curate --shards/--pack-budget: terminal stages equal the c40/c76 operators") {
    val out = Files.createTempDirectory("graft-curate-ps-").toString
    val packOut = Files.createTempDirectory("graft-curate-pk-").toString + "/packs"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.main(Array("curate", "--in", sfDir, "--out", out,
        "--shards", "1", "--pack-budget", "256", "--pack-out", packOut))
    }
    val manifest = buf.toString("UTF-8").trim
    val curated = spark.read.parquet(out)
    // shard stage ≡ the c40 library derivation over the curated frame:
    // h = md5(doc_id:text), shard = prefix, pos dense per shard
    assert(Seq("h", "shard", "pos").forall(curated.columns.contains),
      s"curated output must carry the shard assignment: ${curated.columns.toSeq}")
    val bad = curated.filter(
      col("h") =!= md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))) ||
      col("shard") =!= substring(col("h"), 1, 1)).count()
    assert(bad == 0, "shard columns must re-derive from the c40 hash rule")
    val posOk = curated.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"))
      .filter(col("mn") =!= 0L || col("mx") =!= col("n") - 1).count()
    assert(posOk == 0, "pos must be dense 0..n-1 within every shard")
    // pack stage ≡ packFfdOn over exactly the curated (pre-shard) docs
    val packs = spark.read.parquet(packOut)
    val want = graft.operators.TextOps
      .packFfdOn(curated.select("doc_id", "text"), 256)
    assert(packs.exceptAll(want).count() == 0 &&
      want.exceptAll(packs).count() == 0,
      "CLI pack table diverges from packFfdOn over the curated set")
    // manifest counts ≡ the written artifacts
    val nShards = curated.select("shard").distinct().count()
    val nPacks = packs.select("shard", "pack_id").distinct().count()
    assert(manifest.contains(s""""curated":${curated.count()}"""), manifest)
    assert(manifest.contains(s""""shards":$nShards"""), manifest)
    assert(manifest.contains(s""""packs":$nPacks,"pack_budget":256"""), manifest)
    // flag hygiene: --pack-budget without --pack-out refuses loudly
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("curate", "--in", sfDir, "--out", out,
        "--pack-budget", "256"))
    }
    assert(e.getMessage.contains("--pack-out"), e.getMessage)
  }

  test("plan subcommand: prints lshPlan's pick; c2's defaults at threshold 0.5") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.main(Array("plan", "--threshold", "0.5", "--perm", "8"))
    }
    val out = buf.toString("UTF-8").trim
    assert(out.contains("\"bands\":4") && out.contains("\"rows\":2"),
      s"t=0.5 k=8 must plan c2's 4x2: $out")
    val (b, r, _, _) = graft.operators.Dedup.lshPlan(0.5, 8)
    assert(out.contains(s""""bands":$b""") && out.contains(s""""rows":$r"""))
  }

  test("scrub subcommand: span-scrubbed corpus equals c63's over the corpus") {
    import graft.operators.Dedup
    val out = Files.createTempDirectory("graft-cli-scrub-").toString + "/scrubbed"
    Main.main(Array("scrub", "--in", s"$sfDir/documents.parquet", "--out", out))
    val got = spark.read.parquet(out).orderBy("doc_id").collect().map(_.toSeq)
    val want = Dedup.c63SpanScrub(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI scrub diverges from the operator")
    // the scrub actually cut something on the generator's dup-laden corpus
    assert(spark.read.parquet(out).filter(col("n_cut") > 0).count() > 0)
  }

  test("spans subcommand: duplicated-substring spans equal c62's over the corpus") {
    import graft.operators.Dedup
    val out = Files.createTempDirectory("graft-cli-spans-").toString + "/spans"
    Main.main(Array("spans", "--in", s"$sfDir/documents.parquet", "--out", out))
    val got = spark.read.parquet(out)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq)
    val want = Dedup.c62DupSpans(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI spans diverge from the operator")
    assert(want.nonEmpty,
      "the generator's near-dup corpus must yield at least one span")
  }

  test("spans subcommand --min-span: thresholded spans equal c65's over the corpus") {
    import graft.operators.Dedup
    val out = Files.createTempDirectory("graft-cli-spansmin-").toString + "/spans"
    Main.main(Array("spans", "--in", s"$sfDir/documents.parquet", "--out", out,
      "--min-span", "20"))
    val got = spark.read.parquet(out)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq)
    val want = Dedup.c65SpanMinlen(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI --min-span diverges from c65")
    assert(want.nonEmpty, "corpus must yield confirmed long spans")
    // --strong-n without --min-span is a usage error, loudly
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("spans", "--in", s"$sfDir/documents.parquet",
        "--out", out, "--strong-n", "7"))
    }
    assert(e.getMessage.contains("--min-span"))
  }

  test("decontam --report: eval-side view equals c68 on the gate split") {
    import graft.operators.TextOps
    val tmp = Files.createTempDirectory("graft-cli-contam-").toString
    // materialize the gate's own eval/corpus split as external parquets
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.filter(col("doc_id") % 50 === 0).write.parquet(s"$tmp/eval.parquet")
    val corpDir = s"$tmp/corp"
    new java.io.File(corpDir).mkdirs()
    docs.filter(col("doc_id") % 50 =!= 0)
      .write.parquet(s"$corpDir/documents.parquet")
    Main.main(Array("decontam", "--in", corpDir,
      "--eval", s"$tmp/eval.parquet", "--out", s"$tmp/report", "--report"))
    val got = spark.read.parquet(s"$tmp/report").orderBy("doc_id")
      .collect().map(_.toSeq)
    val want = TextOps.c68ContamReport(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI --report diverges from c68")
    assert(want.nonEmpty)
  }

  test("scrub subcommand --min-span: thresholded scrub equals c67's over the corpus") {
    import graft.operators.Dedup
    val out = Files.createTempDirectory("graft-cli-scrubmin-").toString + "/scrub"
    Main.main(Array("scrub", "--in", s"$sfDir/documents.parquet", "--out", out,
      "--min-span", "20"))
    val got = spark.read.parquet(out).orderBy("doc_id").collect().map(_.toSeq)
    val want = Dedup.c67ScrubMinlen(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI --min-span diverges from c67")
    // the threshold preserves SOME short repeats the full scrub cuts
    val fullCuts = Dedup.c63SpanScrub(spark, sfDir).collect()
      .map(_.getAs[Long]("n_cut")).sum
    val minCuts = want.map(_(2).asInstanceOf[Long]).sum
    assert(minCuts > 0 && minCuts < fullCuts,
      s"threshold must bite on the gate corpus: $minCuts vs full $fullCuts")
  }

  test("index/query subcommands: at-rest IVF-PQ serving equals ivfPqSearch") {
    import graft.operators.Similarity
    val tmp = Files.createTempDirectory("graft-cli-vidx-").toString
    val full = Tables.embeddings(spark, sfDir)
    full.filter(col("vec_id") >= 5).write.parquet(s"$tmp/cands.parquet")
    full.filter(col("vec_id") < 5).write.parquet(s"$tmp/queries.parquet")
    // index the candidates; coarse codebook trained on the full universe
    // (exactly the in-memory search's codebook derivation)
    Main.main(Array("index", "--in", s"$tmp/cands.parquet",
      "--out", s"$tmp/idx", "--codebook-from", s"$sfDir/embeddings.parquet"))
    // the at-rest index must hold NO raw floats — that is its point
    val codesSchema = spark.read.parquet(s"$tmp/idx/codes").schema
    assert(!codesSchema.exists(f =>
      f.dataType.simpleString.contains("double") ||
        f.dataType.simpleString.contains("float")),
      s"codes table leaked floats: $codesSchema")
    for (nprobe <- Seq(1, 2)) {
      Main.main(Array("query", "--index", s"$tmp/idx",
        "--queries", s"$tmp/queries.parquet", "--out", s"$tmp/res",
        "--nprobe", nprobe.toString))
      val got = spark.read.parquet(s"$tmp/res")
        .orderBy("query_id", "rnk").collect().map(_.toSeq)
      val want = Similarity.ivfPqSearch(spark, sfDir, nprobe = nprobe)
        .collect().map(_.toSeq)
      assert(got.toSeq == want.toSeq,
        s"nprobe=$nprobe: at-rest serve diverges from ivfPqSearch")
      assert(want.nonEmpty)
    }
  }

  test("index --add: incremental add + query equals a from-scratch rebuild") {
    val tmp = Files.createTempDirectory("graft-cli-vadd-").toString
    val full = Tables.embeddings(spark, sfDir)
    // the serving corpus splits into an initial batch and a later batch
    full.filter(col("vec_id") >= 5 && col("vec_id") < 300)
      .write.parquet(s"$tmp/batch0.parquet")
    full.filter(col("vec_id") >= 300).write.parquet(s"$tmp/batch1.parquet")
    full.filter(col("vec_id") >= 5).write.parquet(s"$tmp/all.parquet")
    full.filter(col("vec_id") < 5).write.parquet(s"$tmp/queries.parquet")
    // incremental: index batch0, then --add batch1 (codebook frozen from
    // the full universe, as a production serving system would pin it)
    Main.main(Array("index", "--in", s"$tmp/batch0.parquet",
      "--out", s"$tmp/inc", "--codebook-from", s"$sfDir/embeddings.parquet"))
    Main.main(Array("index", "--add", "--in", s"$tmp/batch1.parquet",
      "--out", s"$tmp/inc"))
    // reference: one-shot index of everything under the same codebook
    Main.main(Array("index", "--in", s"$tmp/all.parquet",
      "--out", s"$tmp/scratch", "--codebook-from", s"$sfDir/embeddings.parquet"))
    // the incremental codes table IS the from-scratch one (no retrain,
    // no raw floats — same artifact row set)
    val incCodes = spark.read.parquet(s"$tmp/inc/codes")
      .orderBy("vec_id").collect().map(_.toSeq)
    val refCodes = spark.read.parquet(s"$tmp/scratch/codes")
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(incCodes.toSeq == refCodes.toSeq,
      "incrementally-added codes diverge from the from-scratch quantize")
    assert(!spark.read.parquet(s"$tmp/inc/codes").schema.exists(f =>
      f.dataType.simpleString.contains("double") ||
        f.dataType.simpleString.contains("float")),
      "added codes leaked raw floats")
    // serving parity at nprobe = all cells (10 labels in the gate data)
    Main.main(Array("query", "--index", s"$tmp/inc",
      "--queries", s"$tmp/queries.parquet", "--out", s"$tmp/res_inc",
      "--nprobe", "10"))
    Main.main(Array("query", "--index", s"$tmp/scratch",
      "--queries", s"$tmp/queries.parquet", "--out", s"$tmp/res_ref",
      "--nprobe", "10"))
    val gotInc = spark.read.parquet(s"$tmp/res_inc")
      .orderBy("query_id", "rnk").collect().map(_.toSeq)
    val gotRef = spark.read.parquet(s"$tmp/res_ref")
      .orderBy("query_id", "rnk").collect().map(_.toSeq)
    assert(gotInc.toSeq == gotRef.toSeq,
      "add-then-query diverges from rebuild-then-query at nprobe=all")
    assert(gotInc.nonEmpty)
    // duplicate vec_ids must be rejected loudly, not served twice
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("index", "--add", "--in", s"$tmp/batch1.parquet",
        "--out", s"$tmp/inc"))
    }
    assert(e.getMessage.contains("already present"))
  }

  test("index --remove: erasure compacts the codes; add-then-remove equals never-added") {
    val tmp = Files.createTempDirectory("graft-cli-vrm-").toString
    val full = Tables.embeddings(spark, sfDir)
    full.filter(col("vec_id") >= 5 && col("vec_id") < 300)
      .write.parquet(s"$tmp/batch0.parquet")
    full.filter(col("vec_id") >= 300).write.parquet(s"$tmp/batch1.parquet")
    full.filter(col("vec_id") >= 300).select("vec_id")
      .write.parquet(s"$tmp/erase.parquet")
    full.filter(col("vec_id") < 5).write.parquet(s"$tmp/queries.parquet")
    Main.main(Array("index", "--in", s"$tmp/batch0.parquet",
      "--out", s"$tmp/idx", "--codebook-from", s"$sfDir/embeddings.parquet"))
    val beforeAdd = spark.read.parquet(s"$tmp/idx/codes")
      .orderBy("vec_id").collect().map(_.toSeq)
    val cbBefore = spark.read.parquet(s"$tmp/idx/codebook")
      .orderBy("cell").collect().map(_.toSeq)
    // add a batch, then erase exactly it: the codes table must be
    // row-for-row what it was before the add (right-to-erasure leaves
    // no residue, and the survivors' quantization is untouched)
    Main.main(Array("index", "--add", "--in", s"$tmp/batch1.parquet",
      "--out", s"$tmp/idx"))
    Main.main(Array("index", "--remove", "--in", s"$tmp/erase.parquet",
      "--out", s"$tmp/idx"))
    val afterRemove = spark.read.parquet(s"$tmp/idx/codes")
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(afterRemove.toSeq == beforeAdd.toSeq,
      "add-then-remove must equal never-added")
    // the codebook is frozen through the erasure
    val cbAfter = spark.read.parquet(s"$tmp/idx/codebook")
      .orderBy("cell").collect().map(_.toSeq)
    assert(cbAfter.toSeq == cbBefore.toSeq, "codebook must stay frozen")
    // no compaction staging directory left behind
    assert(!new java.io.File(s"$tmp/idx/codes__compact").exists())
    // query-after-remove: no erased id is ever served
    Main.main(Array("query", "--index", s"$tmp/idx",
      "--queries", s"$tmp/queries.parquet", "--out", s"$tmp/res_rm",
      "--nprobe", "10"))
    val served = spark.read.parquet(s"$tmp/res_rm")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty && served.forall(_ < 300),
      s"erased vectors served: ${served.filter(_ >= 300)}")
    // removing ids that are absent is a harmless no-op
    Main.main(Array("index", "--remove", "--in", s"$tmp/erase.parquet",
      "--out", s"$tmp/idx"))
    assert(spark.read.parquet(s"$tmp/idx/codes").count() ==
      beforeAdd.length.toLong)
    // build-only flags are rejected with --remove, and --add/--remove clash
    val e1 = intercept[IllegalArgumentException] {
      Main.main(Array("index", "--remove", "--in", s"$tmp/erase.parquet",
        "--out", s"$tmp/idx", "--m", "4"))
    }
    assert(e1.getMessage.contains("build-only"))
    val e2 = intercept[IllegalArgumentException] {
      Main.main(Array("index", "--add", "--remove",
        "--in", s"$tmp/erase.parquet", "--out", s"$tmp/idx"))
    }
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("phash subcommand: hashes + per-modality pairs over a media parquet") {
    import graft.operators.Multimodal
    val tmp = Files.createTempDirectory("graft-cli-phash-").toString
    // a mixed image/audio media parquet (video refuses by contract —
    // its perceptual surface is c91's per-frame table)
    val recs = Multimodal.mediaTable(spark, sfDir)
      .filter(r => r.media_type != "video").collect().toSeq
    import spark.implicits._
    spark.createDataset(recs).write.parquet(s"$tmp/media.parquet")
    Main.main(Array("phash", "--in", s"$tmp/media.parquet",
      "--out", s"$tmp/hashes"))
    val got = spark.read.parquet(s"$tmp/hashes").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("media_type"), r.getAs[Long]("phash")))).toMap
    val want = recs.map(r => r.doc_id ->
      ((r.media_type, Multimodal.phashOf(r.doc_id, r.media_type, r.payload)))).toMap
    assert(got == want, "CLI hashes diverge from the shared phashOf dispatch")
    // pairs: banded per modality — never a cross-modality pair, hamming
    // verified against the driver brute force
    Main.main(Array("phash", "--in", s"$tmp/media.parquet",
      "--out", s"$tmp/pairs", "--pairs"))
    val pairs = spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    val brute = (for {
      a <- recs; b <- recs if a.doc_id < b.doc_id
      if a.media_type == b.media_type
      ham = java.lang.Long.bitCount(want(a.doc_id)._2 ^ want(b.doc_id)._2).toLong
      if ham <= 3
    } yield (a.doc_id, b.doc_id, ham)).toSet
    assert(pairs == brute,
      s"cli-only=${pairs -- brute}, brute-only=${brute -- pairs}")
    assert(pairs.forall { case (a, b, _) =>
      want(a)._1 == want(b)._1 }, "cross-modality pair escaped the banding")
    assert(pairs.nonEmpty)
  }

  test("phash --add/--remove: the media hash index gets the vector index's " +
      "lifecycle; add-then-remove ≡ never-added") {
    import graft.operators.Multimodal
    val tmp = Files.createTempDirectory("graft-cli-phash-life-").toString
    val recs = Multimodal.mediaTable(spark, sfDir)
      .filter(r => r.media_type != "video").collect().toSeq
    import spark.implicits._
    val (baseRecs, newRecs) = recs.partition(_.doc_id % 2 == 0)
    spark.createDataset(baseRecs).write.parquet(s"$tmp/base.parquet")
    spark.createDataset(newRecs).write.parquet(s"$tmp/new.parquet")
    spark.createDataset(recs).write.parquet(s"$tmp/all.parquet")
    def rowsOf(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("media_type"),
        r.getAs[Long]("phash"), r.getAs[Long]("seg0"), r.getAs[Long]("seg1"),
        r.getAs[Long]("seg2"), r.getAs[Long]("seg3"))).sortBy(_._1).toSeq
    // build over the base, --add the rest: must equal a from-scratch
    // build over the union (the same dispatch + seg projection)
    Main.main(Array("phash", "--in", s"$tmp/base.parquet", "--out", s"$tmp/idx"))
    Main.main(Array("phash", "--add", "--index", s"$tmp/idx",
      "--in", s"$tmp/new.parquet"))
    Main.main(Array("phash", "--in", s"$tmp/all.parquet", "--out", s"$tmp/idx_all"))
    assert(rowsOf(s"$tmp/idx") == rowsOf(s"$tmp/idx_all"),
      "build+add must equal the from-scratch build over the union")
    // right-to-erasure: --remove the added ids restores the base build
    newRecs.map(_.doc_id).toDF("doc_id").write.parquet(s"$tmp/erase.parquet")
    Main.main(Array("phash", "--remove", "--index", s"$tmp/idx",
      "--in", s"$tmp/erase.parquet"))
    Main.main(Array("phash", "--in", s"$tmp/base.parquet", "--out", s"$tmp/idx_base"))
    assert(rowsOf(s"$tmp/idx") == rowsOf(s"$tmp/idx_base"),
      "add-then-remove must equal never-added row-for-row")
    // the compaction staging must not linger
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/idx__compact")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/idx__old")))
    // duplicate doc_ids refuse loudly (a duplicate would route twice)
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("phash", "--add", "--index", s"$tmp/idx",
        "--in", s"$tmp/base.parquet"))
    }
    assert(e.getMessage.contains("already present"), e.getMessage)
    // flag hygiene: the lifecycle verbs are not read paths
    val e2 = intercept[IllegalArgumentException] {
      Main.main(Array("phash", "--add", "--remove", "--index", s"$tmp/idx",
        "--in", s"$tmp/new.parquet"))
    }
    assert(e2.getMessage.contains("mutually exclusive"))
    val e3 = intercept[IllegalArgumentException] {
      Main.main(Array("phash", "--add", "--pairs", "--index", s"$tmp/idx",
        "--in", s"$tmp/new.parquet"))
    }
    assert(e3.getMessage.contains("read path"))
  }

  test("phash --clusters: per-modality components with min-id survivorship") {
    import graft.operators.Multimodal
    val tmp = Files.createTempDirectory("graft-cli-phash-cl-").toString
    val recs = Multimodal.mediaTable(spark, sfDir)
      .filter(r => r.media_type != "video").collect().toSeq
    import spark.implicits._
    spark.createDataset(recs).write.parquet(s"$tmp/media.parquet")
    Main.main(Array("phash", "--in", s"$tmp/media.parquet",
      "--out", s"$tmp/clusters", "--clusters"))
    val got = spark.read.parquet(s"$tmp/clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("media_type"),
        r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
        r.getAs[Boolean]("is_canonical"))).sortBy(_._1).toSeq
    // driver union-find over the per-modality brute pairs
    val hash = recs.map(r =>
      r.doc_id -> ((r.media_type,
        Multimodal.phashOf(r.doc_id, r.media_type, r.payload)))).toMap
    val parent = scala.collection.mutable.Map(recs.map(r => r.doc_id -> r.doc_id): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for {
      a <- recs; b <- recs if a.doc_id < b.doc_id
      if a.media_type == b.media_type
      if java.lang.Long.bitCount(hash(a.doc_id)._2 ^ hash(b.doc_id)._2) <= 3
    } {
      val (ra, rb) = (find(a.doc_id), find(b.doc_id))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = recs.map(r => r.doc_id -> find(r.doc_id)).toMap
    val size = label.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val want = recs.map(r => (r.doc_id, r.media_type, label(r.doc_id),
      size(label(r.doc_id)), r.doc_id == label(r.doc_id))).sortBy(_._1).toSeq
    assert(got == want, "CLI clusters diverge from the driver union-find")
    // a cluster never spans modalities (the band key includes media_type)
    got.groupBy(_._3).values.foreach { rows =>
      assert(rows.map(_._2).distinct.size == 1,
        s"cross-modality cluster: $rows")
    }
    assert(got.exists(_._4 > 1))
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("phash", "--in", s"$tmp/media.parquet",
        "--out", s"$tmp/x", "--clusters", "--pairs"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("c93 gate row ≡ Main phash --pairs on an audio-only media parquet") {
    import graft.operators.Multimodal
    val tmp = Files.createTempDirectory("graft-cli-phash-audio-").toString
    val recs = Multimodal.mediaTable(spark, sfDir)
      .filter(r => r.media_type == "audio").collect().toSeq
    import spark.implicits._
    spark.createDataset(recs).write.parquet(s"$tmp/media.parquet")
    Main.main(Array("phash", "--in", s"$tmp/media.parquet",
      "--out", s"$tmp/pairs", "--pairs"))
    val cli = spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    // the oracled c93 gate row and the CLI surface are the same banding
    // on the same shared hash — c93 additionally verifies env_l1
    val gate = Multimodal.c93AudioPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    assert(cli == gate,
      s"cli-only=${(cli -- gate).take(3)}, gate-only=${(gate -- cli).take(3)}")
    assert(cli.nonEmpty)
  }

  test("cluster-update --media maintains a MIXED-modality phash label table; " +
      "clusters never cross modalities") {
    import graft.operators.{Dedup, Multimodal}
    val tmp = Files.createTempDirectory("graft-cli-clupd-media-").toString
    // a real mixed image+audio hash table via the phash CLI itself
    val recs = Multimodal.mediaTable(spark, sfDir)
      .filter(r => r.media_type != "video").collect().toSeq
    import spark.implicits._
    spark.createDataset(recs).write.parquet(s"$tmp/media.parquet")
    Main.main(Array("phash", "--in", s"$tmp/media.parquet",
      "--out", s"$tmp/corpus"))
    val corpus = spark.read.parquet(s"$tmp/corpus")
      .select("doc_id", "media_type", "phash")
    corpus.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000000000L).as("doc_id"),
        col("media_type"), col("phash"))
      .write.parquet(s"$tmp/crawl")
    val crawl = spark.read.parquet(s"$tmp/crawl")
    // frozen labels: per-modality CC over the corpus-only pairs
    Dedup.connectedComponentsAlternating(
        Multimodal.phashCandidates(corpus, 3, keyCols = Seq("media_type"))
          .select(col("doc_a").as("u"), col("doc_b").as("v")))._1
      .write.parquet(s"$tmp/frozen")
    Main.main(Array("cluster-update", "--media", "--new", s"$tmp/crawl",
      "--corpus", s"$tmp/corpus", "--labels", s"$tmp/frozen",
      "--out", s"$tmp/maintained"))
    val got = spark.read.parquet(s"$tmp/maintained").collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("cluster_id"))).toSet
    // add-then-maintain == full per-modality re-cluster of the merged set
    val full = Dedup.connectedComponentsAlternating(
        Multimodal.phashCandidates(corpus.unionAll(crawl), 3,
          keyCols = Seq("media_type"))
          .select(col("doc_a").as("u"), col("doc_b").as("v")))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == full,
      s"got-only=${(got -- full).take(5)}, full-only=${(full -- got).take(5)}")
    // a cluster never spans modalities, even though image and audio
    // hashes share the table (the banding is keyed by media_type)
    val modality = corpus.unionAll(crawl).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("media_type")).toMap
    got.groupBy(_._2).values.foreach { members =>
      assert(members.map(m => modality(m._1)).size >= 1 &&
        members.map(m => modality(m._1)).toSeq.distinct.size == 1,
        s"cross-modality cluster: ${members.take(6)}")
    }
    // text flags refuse with --media
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("cluster-update", "--media", "--threshold", "0.5",
        "--new", s"$tmp/crawl", "--corpus", s"$tmp/corpus",
        "--labels", s"$tmp/frozen", "--out", s"$tmp/x"))
    }
    assert(e.getMessage.contains("text flags"))
  }

  test("cluster-update subcommand maintains the at-rest label table incrementally") {
    import graft.operators.Dedup
    val tmp = Files.createTempDirectory("graft-cli-clupd-").toString
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // the c37 split: existing corpus + its frozen labels at rest, a new
    // crawl (genuinely new docs + re-keyed byte-identical recrawls)
    docs.filter(col("doc_id") % 7 =!= 3).write.parquet(s"$tmp/corpus.parquet")
    docs.filter(col("doc_id") % 7 === 3)
      .unionAll(docs.filter(col("doc_id") % 11 === 5 && col("doc_id") % 7 =!= 3)
        .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
      .write.parquet(s"$tmp/crawl.parquet")
    spark.read.parquet(Dedup.incrBaseLabelsPath(spark, sfDir))
      .write.parquet(s"$tmp/labels.parquet")
    Main.main(Array("cluster-update", "--new", s"$tmp/crawl.parquet",
      "--corpus", s"$tmp/corpus.parquet", "--labels", s"$tmp/labels.parquet",
      "--out", s"$tmp/updated"))
    val got = spark.read.parquet(s"$tmp/updated").collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("cluster_id"))).toSet
    // the CLI runs exactly the library maintenance pass — whose result
    // the c95 equivalence spec pins to the full re-cluster
    val want = spark.read.parquet(Dedup.incrClustersTablePath(spark, sfDir))
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("cluster_id"))).toSet
    assert(got == want,
      s"cli-only=${(got -- want).take(5)}, lib-only=${(want -- got).take(5)}")
    assert(got.nonEmpty)
  }

  test("domains subcommand: report + cap over a real-URL parquet equal the library pass") {
    import graft.operators.Curation
    val tmp = Files.createTempDirectory("graft-cli-domains-").toString
    // a (doc_id, url, text) parquet with REAL (derived) URLs — the
    // production shape the CLI contract requires
    Curation.provenance(spark, sfDir).select("doc_id", "url", "text")
      .write.parquet(s"$tmp/docs.parquet")
    val docs = spark.read.parquet(s"$tmp/docs.parquet")
    Main.main(Array("domains", "--in", s"$tmp/docs.parquet",
      "--out", s"$tmp/report"))
    val gotReport = spark.read.parquet(s"$tmp/report").collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("n_docs"),
        r.getAs[Boolean]("is_blocked"))).toSet
    val wantReport = Curation.domainStatsOn(docs).collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("n_docs"),
        r.getAs[Boolean]("is_blocked"))).toSet
    assert(gotReport == wantReport)
    assert(gotReport.exists(_._3), "default blocklist flagged nothing")
    Main.main(Array("domains", "--in", s"$tmp/docs.parquet",
      "--out", s"$tmp/capped", "--cap", "5"))
    val gotCap = spark.read.parquet(s"$tmp/capped").collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"))).toSet
    val wantCap = Curation.domainCapOn(docs, 5).collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"))).toSet
    assert(gotCap == wantCap)
    assert(gotCap.groupBy(_._1).values.forall(_.size <= 5), "cap exceeded")
  }

  test("bpe-train/tokenize subcommands: at-rest tokenizer equals the trained artifact") {
    import graft.operators.TextOps
    val tmp = Files.createTempDirectory("graft-cli-bpe-").toString
    Main.main(Array("bpe-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/merges"))
    val merges = spark.read.parquet(s"$tmp/merges").orderBy("rank").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    assert(merges == TextOps.trainBpe(spark, sfDir),
      "CLI-trained merge list diverges from the gate's memoized artifact")
    Main.main(Array("tokenize", "--in", s"$sfDir/documents.parquet",
      "--merges", s"$tmp/merges", "--out", s"$tmp/toks"))
    val got = spark.read.parquet(s"$tmp/toks").orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getSeq[String](3).toVector))
    // independent derivation through the replace-chain formulation
    val want = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => length(w) >= 1).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_words"),
        flatten(transform(col("ws"),
          w => TextOps.applyBpeMerges(w, merges))).as("tokens"))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getSeq[String](2).length.toLong, r.getSeq[String](2).toVector))
    assert(got.toSeq == want.toSeq,
      "CLI tokenize diverges from the replace-chain derivation")
    assert(got.nonEmpty && got.exists(_._4.exists(_.length > 1)),
      "the trained merges must actually fuse some tokens")
  }

  test("bpe-train/tokenize --bytes: byte-level artifact round-trips the corpus") {
    import graft.operators.TextOps
    import graft.functions.ByteBpeFunctions
    val tmp = Files.createTempDirectory("graft-cli-bpeb-").toString
    Main.main(Array("bpe-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/merges", "--bytes"))
    val merges = spark.read.parquet(s"$tmp/merges").orderBy("rank").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    assert(merges == TextOps.trainBpeBytes(spark, sfDir),
      "CLI byte-trained merge list diverges from the c70 memoized artifact")
    Main.main(Array("tokenize", "--in", s"$sfDir/documents.parquet",
      "--merges", s"$tmp/merges", "--out", s"$tmp/toks", "--bytes"))
    val toks = spark.read.parquet(s"$tmp/toks")
    // the token table must reproduce the c70 gate's frequency cut
    val freq = toks.select(explode(col("tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token")).limit(100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val gate = TextOps.c70BpeBytes(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(freq == gate, "CLI --bytes token frequencies diverge from c70")
    // LOSSLESS round trip: unstage(concat(tokens)) == the original text
    // byte-for-byte — the property char-level BPE cannot offer (its
    // word split drops the spaces); single-spaced corpus, so exact
    val bad = toks
      .select(col("doc_id"), ByteBpeFunctions.byteUnstage(
        concat_ws("", col("tokens"))).as("detok"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
        "doc_id")
      .filter(col("detok") =!= col("text"))
      .count()
    assert(bad == 0L, s"$bad docs failed the byte-level detokenize round trip")
    assert(toks.count() > 0)
  }

  test("bpe-train/tokenize --gpt2-pre: exact-pattern artifact round-trips") {
    import graft.functions.ByteBpeFunctions
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-gpt2-").toString
    // contraction + class-mix + whitespace-run text the parity-safe
    // pretokenizer cannot tile the GPT-2 way
    Seq((1L, "don't stop now"), (2L, "abc123  def"), (3L, "I'll go "))
      .toDF("doc_id", "text").write.parquet(s"$tmp/docs")
    Main.main(Array("bpe-train", "--in", s"$tmp/docs",
      "--out", s"$tmp/merges", "--bytes", "--gpt2-pre"))
    Main.main(Array("tokenize", "--in", s"$tmp/docs",
      "--merges", s"$tmp/merges", "--out", s"$tmp/toks",
      "--bytes", "--gpt2-pre"))
    val toks = spark.read.parquet(s"$tmp/toks")
    // losslessness survives the pretokenizer swap (the GPT-2 tiling
    // covers every char, including the whitespace-run pretokens)
    val bad = toks
      .select(col("doc_id"), ByteBpeFunctions.byteUnstage(
        concat_ws("", col("tokens"))).as("detok"))
      .join(spark.read.parquet(s"$tmp/docs"), "doc_id")
      .filter(col("detok") =!= col("text")).count()
    assert(bad == 0L, s"$bad docs failed the --gpt2-pre round trip")
    // n_words counts GPT-2 pretokens: "don't stop now" = don,'t, stop, now
    val n1 = toks.filter(col("doc_id") === 1L).head().getAs[Long]("n_words")
    assert(n1 == 4L, s"expected 4 GPT-2 pretokens for doc 1, got $n1")
    // --gpt2-pre without --bytes must be rejected loudly
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("bpe-train", "--in", s"$tmp/docs",
        "--out", s"$tmp/m2", "--gpt2-pre"))
    }
    assert(e.getMessage.contains("--gpt2-pre requires --bytes"))
  }

  test("unigram-train/tokenize --unigram: artifact equals c75's, tiles losslessly") {
    import graft.operators.Unigram
    val tmp = Files.createTempDirectory("graft-cli-uni-").toString
    Main.main(Array("unigram-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/pieces"))
    val art = spark.read.parquet(s"$tmp/pieces").orderBy("piece").collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("score"))).toSeq
    assert(art == Unigram.trainUnigram(spark, sfDir),
      "CLI-trained artifact diverges from the c75 memoized artifact")
    Main.main(Array("tokenize", "--unigram", "--in", s"$sfDir/documents.parquet",
      "--pieces", s"$tmp/pieces", "--out", s"$tmp/toks"))
    val toks = spark.read.parquet(s"$tmp/toks")
    // the token table must reproduce the c75 gate's frequency cut
    val freq = toks.select(explode(col("tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token")).limit(100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val gate = Unigram.c75UnigramTokenize(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(freq == gate, "CLI --unigram token frequencies diverge from c75")
    // pieces of each doc concatenate back to its space-stripped words
    val bad = toks
      .join(Tables.documents(spark, sfDir).select("doc_id", "text"), "doc_id")
      .filter(concat_ws("", col("tokens")) =!=
        concat_ws("", filter(split(lower(col("text")), " "),
          w => length(w) >= 1)))
      .count()
    assert(bad == 0L, s"$bad docs failed the unigram tiling check")
    // --unigram with a BPE flag is a usage error
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("tokenize", "--unigram", "--bytes",
        "--in", s"$sfDir/documents.parquet",
        "--pieces", s"$tmp/pieces", "--out", s"$tmp/t2"))
    }
    assert(e.getMessage.contains("--bytes/--gpt2-pre are BPE flags"))
  }

  test("wordpiece-train/tokenize --wordpiece: artifact equals c98's, " +
      "markers tile back") {
    import graft.operators.Wordpiece
    val tmp = Files.createTempDirectory("graft-cli-wp-").toString
    Main.main(Array("wordpiece-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/vocab"))
    val vocab = spark.read.parquet(s"$tmp/vocab").orderBy("piece").collect()
      .map(_.getAs[String]("piece")).toSeq
    assert(vocab == Wordpiece.trainWordpiece(spark, sfDir),
      "CLI-trained vocabulary diverges from the c98 memoized artifact")
    Main.main(Array("tokenize", "--wordpiece", "--in",
      s"$sfDir/documents.parquet", "--vocab", s"$tmp/vocab",
      "--out", s"$tmp/toks"))
    val toks = spark.read.parquet(s"$tmp/toks")
    // the token table must reproduce the c98 gate's frequency cut
    val freq = toks.select(explode(col("tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token")).limit(100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val gate = Wordpiece.c98WordpieceTokenize(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(freq == gate, "CLI --wordpiece token frequencies diverge from c98")
    // pieces of each doc, continuation markers stripped, concatenate
    // back to its space-stripped words (no UNK on the self corpus)
    val bad = toks
      .join(Tables.documents(spark, sfDir).select("doc_id", "text"), "doc_id")
      .filter(concat_ws("", transform(col("tokens"),
          t => regexp_replace(t, "^##", ""))) =!=
        concat_ws("", filter(split(lower(col("text")), " "),
          w => length(w) >= 1)))
      .count()
    assert(bad == 0L, s"$bad docs failed the wordpiece tiling check")
    // mixing tokenizer modes is a usage error
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("tokenize", "--unigram", "--wordpiece",
        "--in", s"$sfDir/documents.parquet",
        "--pieces", s"$tmp/vocab", "--out", s"$tmp/t2"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("sketch subcommand: grid equals c100's fold; --estimate equals the d48 twin") {
    import graft.operators.Sketch
    val tmp = Files.createTempDirectory("graft-cli-sketch-").toString
    Main.main(Array("sketch", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/grid"))
    val grid = spark.read.parquet(s"$tmp/grid").collect()
      .map(r => s"${r.getAs[Int]("i")}:${r.getAs[String]("b")}" ->
        r.getAs[Long]("c")).toMap
    assert(grid == Sketch.cmsGrid(spark, sfDir),
      "CLI grid diverges from the c100 fold")
    assert(grid.size <= Sketch.CmsDepth * Sketch.CmsWidth)
    Main.main(Array("sketch", "--estimate", "--grid", s"$tmp/grid",
      "--in", s"$sfDir/documents.parquet", "--out", s"$tmp/est"))
    val got = spark.read.parquet(s"$tmp/est").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val want = Sketch.cmsEstimate(
        Tables.documents(spark, sfDir).select("doc_id", "text"), grid)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(got == want, "CLI estimates diverge from the shared projection")
    // every estimate is a real grid read: >= the token's presence
    assert(got.forall(_._3 >= 1L))
    val e = intercept[RuntimeException] {
      Main.main(Array("sketch", "--estimate",
        "--in", s"$sfDir/documents.parquet", "--out", s"$tmp/e2"))
    }
    assert(e.getMessage.contains("--grid required"), e.getMessage)
  }

  test("sketch --merge: merged grids equal the union corpus's grid exactly") {
    val tmp = Files.createTempDirectory("graft-cli-skmerge-").toString
    // two disjoint slices of the corpus, each sketched independently
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$tmp/a")
    docs.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$tmp/b")
    Main.main(Array("sketch", "--in", s"$tmp/a", "--out", s"$tmp/ga"))
    Main.main(Array("sketch", "--in", s"$tmp/b", "--out", s"$tmp/gb"))
    Main.main(Array("sketch", "--merge", "--grid-a", s"$tmp/ga",
      "--grid-b", s"$tmp/gb", "--out", s"$tmp/gm"))
    def gridOf(p: String): Map[String, Long] =
      spark.read.parquet(p).collect()
        .map(r => s"${r.getAs[Int]("i")}:${r.getAs[String]("b")}" ->
          r.getAs[Long]("c")).toMap
    // the mergeability law, integer-exact: grid(A) ⊕ grid(B) = grid(A∪B)
    assert(gridOf(s"$tmp/gm") == graft.operators.Sketch.cmsGrid(spark, sfDir),
      "merged grid must equal the union corpus's grid")
    // merge is symmetric and zero-preserving: re-merging with an empty
    // grid (sketch of an empty slice) is the identity
    docs.filter(lit(false)).write.parquet(s"$tmp/e")
    Main.main(Array("sketch", "--in", s"$tmp/e", "--out", s"$tmp/ge"))
    Main.main(Array("sketch", "--merge", "--grid-a", s"$tmp/gm",
      "--grid-b", s"$tmp/ge", "--out", s"$tmp/gi"))
    assert(gridOf(s"$tmp/gi") == gridOf(s"$tmp/gm"),
      "merging with an empty grid must be the identity")
    // flag hygiene
    val e = intercept[RuntimeException] {
      Main.main(Array("sketch", "--merge", "--grid-a", s"$tmp/ga",
        "--out", s"$tmp/bad"))
    }
    assert(e.getMessage.contains("--grid-b required"), e.getMessage)
  }

  test("recipe subcommand: plan table and manifest equal the c110 gate") {
    val out = Files.createTempDirectory("graft-cli-recipe-").toString + "/plan"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.main(Array("recipe", "--in", sfDir, "--out", out))
    }
    val manifest = buf.toString("UTF-8").trim
    val got = spark.read.parquet(out).orderBy("source").collect().map(_.toSeq)
    val want = graft.operators.TextOps.c110DataRecipe(spark, sfDir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI recipe diverges from the c110 gate")
    val budget = want.map(_(5).asInstanceOf[Long]).sum
    assert(manifest.contains(s""""sources":${want.length}""") &&
      manifest.contains(s""""budget_tokens":$budget"""), manifest)
  }

  test("publish subcommand: every stage table equals its component operator " +
      "over exactly the sampled set") {
    import graft.operators.TextOps
    val out = Files.createTempDirectory("graft-cli-publish-").toString + "/rel"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.main(Array("publish", "--in", sfDir, "--out", out,
        "--shards", "1", "--pack-budget", "512"))
    }
    val manifest = buf.toString("UTF-8").trim
    // stage 1: the plan table IS c110's
    val gotPlan = spark.read.parquet(s"$out/plan")
      .orderBy("source").collect().map(_.toSeq)
    val wantPlan = TextOps.c110DataRecipe(spark, sfDir).collect().map(_.toSeq)
    assert(gotPlan.toSeq == wantPlan.toSeq,
      "publish plan diverges from the c110 gate")
    // the expected sampled set: c111's copy projection, kept = n_copies ≥ 1
    val docs = graft.Tables.documents(spark, sfDir)
    val expectSampled = docs.select(col("doc_id"), col("source"), col("text"))
      .join(TextOps.recipeCopies(docs, TextOps.recipePlanOf(spark, sfDir))
        .filter(col("n_copies") >= 1).select("doc_id", "n_copies"), "doc_id")
    // stage 3: shards ≡ c40 over the sampled set
    val gotShards = spark.read.parquet(s"$out/shards")
      .orderBy("doc_id").collect().map(_.toSeq)
    val wantShards = TextOps.shuffleShard(expectSampled, 1)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(gotShards.toSeq == wantShards.toSeq,
      "publish shards diverge from shuffleShard over the sampled set")
    // stage 4: packs ≡ c76 over the sampled docs
    val gotPacks = spark.read.parquet(s"$out/packs")
      .orderBy("doc_id").collect().map(_.toSeq)
    val wantPacks = TextOps.packFfdOn(
        expectSampled.select("doc_id", "text"), 512L)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(gotPacks.toSeq == wantPacks.toSeq,
      "publish packs diverge from packFfdOn over the sampled set")
    // stage 5: manifest ≡ c112 over the sampled docs
    val gotMan = spark.read.parquet(s"$out/manifest")
      .orderBy("shard").collect().map(_.toSeq)
    val wantMan = TextOps.shardManifestOn(
        expectSampled.select("doc_id", "text"), 1)
      .orderBy("shard").collect().map(_.toSeq)
    assert(gotMan.toSeq == wantMan.toSeq,
      "publish manifest diverges from shardManifestOn over the sampled set")
    // the combined JSON line carries the release-level totals
    val nSampled = expectSampled.count()
    val copies = expectSampled.agg(sum(col("n_copies"))).head.getLong(0)
    assert(manifest.contains(s""""sampled_docs":$nSampled""") &&
      manifest.contains(s""""total_copies":$copies""") &&
      manifest.contains(s""""sources":${wantPlan.length}""") &&
      manifest.contains(""""digest1":"""), manifest)
    // the recipe really epochs (RecipeBudgetFactor ≥ 2 ⇒ the multiset
    // is bigger than the doc set) — a publish that read copies == docs
    // wouldn't be executing the plan
    assert(nSampled > 0 && copies > nSampled, s"sampled=$nSampled copies=$copies")
  }

  test("joint subcommand: verdict surface and quadrant manifest equal c107") {
    val out = Files.createTempDirectory("graft-cli-joint-").toString + "/joint"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.main(Array("joint", "--in", sfDir, "--out", out))
    }
    val manifest = buf.toString("UTF-8").trim
    val got = spark.read.parquet(out).orderBy("doc_id").collect().map(_.toSeq)
    val want = graft.operators.Multimodal.c107JointDedup(spark, sfDir)
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI joint diverges from the c107 gate")
    val rows = want.map(r => (r(3).asInstanceOf[Boolean], r(4).asInstanceOf[Boolean]))
    def n(t: Boolean, m: Boolean) = rows.count(_ == ((t, m)))
    assert(manifest.contains(s""""docs":${want.length}""") &&
      manifest.contains(s""""media_only":${n(false, true)}""") &&
      manifest.contains(s""""both":${n(true, true)}""") &&
      manifest.contains(s""""clean":${n(false, false)}"""), manifest)
  }

  test("score subcommand: ASCII default equals c41; --unicode/--quality run") {
    import graft.operators.TextOps
    val tmp = Files.createTempDirectory("graft-cli-score-").toString
    Main.main(Array("score", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/freq"))
    val got = spark.read.parquet(s"$tmp/freq").orderBy("doc_id")
      .collect().map(_.toSeq)
    val want = TextOps.c41FreqScore(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI score diverges from the c41 gate")
    Main.main(Array("score", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/q", "--quality"))
    val q = spark.read.parquet(s"$tmp/q").orderBy("doc_id")
      .collect().map(_.toSeq)
    val wantQ = TextOps.c35QualityFilter(spark, sfDir).collect().map(_.toSeq)
    assert(q.toSeq == wantQ.toSeq, "CLI score --quality diverges from c35")
    // --unicode on the ASCII gate corpus must agree with the ASCII path
    // (the variant extends reach, it must not reinterpret simple text)
    Main.main(Array("score", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/uni", "--unicode"))
    val uni = spark.read.parquet(s"$tmp/uni").orderBy("doc_id")
      .collect().map(_.toSeq)
    assert(uni.toSeq == want.toSeq,
      "single-spaced ASCII corpus: unicode and ASCII scores must agree")
  }

  test("select subcommand: train equals c80 gate; artifact round-trip scores identically without lang") {
    import graft.operators.Dsir
    val tmp = Files.createTempDirectory("graft-cli-select-").toString
    Main.main(Array("select", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/w", "--save-artifact", s"$tmp/art"))
    val got = spark.read.parquet(s"$tmp/w").orderBy("doc_id")
      .collect().map(_.toSeq)
    val want = Dsir.c80DsirWeights(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI select diverges from the c80 gate")
    // serving path: score a lang-FREE projection under the stored
    // artifact — must reproduce the trained run bit-for-bit
    val noLang = Files.createTempDirectory("graft-cli-select-nl-").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").write.mode("overwrite").parquet(s"$noLang/docs")
    Main.main(Array("select", "--in", s"$noLang/docs",
      "--out", s"$tmp/w2", "--artifact", s"$tmp/art"))
    val served = spark.read.parquet(s"$tmp/w2").orderBy("doc_id")
      .collect().map(_.toSeq)
    assert(served.toSeq == want.toSeq,
      "at-rest artifact serving diverges from the trained run")
    // --unicode on the single-spaced ASCII gate corpus must agree with
    // the ASCII path (the variant extends reach, it must not
    // reinterpret simple text — score's precedent)
    Main.main(Array("select", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/w3", "--unicode"))
    val uni = spark.read.parquet(s"$tmp/w3").orderBy("doc_id")
      .collect().map(_.toSeq)
    assert(uni.toSeq == want.toSeq,
      "single-spaced ASCII corpus: unicode and ASCII weights must agree")
  }

  test("contain subcommand equals the c81 gate row") {
    import graft.operators.Dedup
    val tmp = Files.createTempDirectory("graft-cli-contain-").toString
    Main.main(Array("contain", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/pairs"))
    val got = spark.read.parquet(s"$tmp/pairs").orderBy("doc_a", "doc_b")
      .collect().map(_.toSeq)
    val want = Dedup.c81ContainmentDedup(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI contain diverges from the c81 gate")
  }

  test("curriculum subcommand equals the c86 gate row") {
    import graft.operators.Curriculum
    val tmp = Files.createTempDirectory("graft-cli-curr-").toString
    Main.main(Array("curriculum", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/order"))
    val got = spark.read.parquet(s"$tmp/order").orderBy("doc_id")
      .collect().map(_.toSeq)
    val want = Curriculum.c86Curriculum(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI curriculum diverges from the c86 gate")
  }

  test("stream --in-dir: restartable file drain resumes without duplicates, seq contiguous") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-resume-").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    def writeBatch(name: String, ids: Range): Unit = {
      val w = new PrintWriter(s"$inDir/$name")
      ids.foreach(i => w.println(s"""{"id": $i, "v": ${i * 3}}"""))
      w.close()
    }
    def drained(): Seq[(Long, Long, Long)] = {
      val schema = StructType.fromDDL("id BIGINT, v BIGINT, seq BIGINT")
      val msgs = spark.read.format("binaryFile").load(s"$outDir/*.arrow")
        .select(col("content")).as[Array[Byte]]
        .map(b => IpcMessage(0L, 0L, b.length.toLong, b))
      ArrowIpc.deserialize(spark, msgs, schema).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"),
          r.getAs[Long]("seq"))).toSeq
    }
    val baseArgs = Array("stream", "--in-dir", inDir, "--checkpoint", ckpt,
      "--out", outDir, "--schema-ddl", "id BIGINT, v BIGINT",
      "--max-rows", "64", "--seq-col")
    writeBatch("part-000.json", 0 until 300)
    Main.main(baseArgs)
    val first = drained()
    assert(first.map(_._1).sorted == (0L until 300L),
      "first drain must publish exactly the first file's rows")
    assert(first.map(_._3).sorted == (0L until 300L), "seq must be 0..299")
    // a restart with NEW input: only the new file drains, seq continues
    writeBatch("part-001.json", 300 until 500)
    Main.main(baseArgs)
    val second = drained()
    assert(second.map(_._1).sorted == (0L until 500L),
      "resume must add exactly the new file's rows — no dups, no loss")
    assert(second.map(_._3).sorted == (0L until 500L),
      "seq must continue contiguously across the restart (at-rest recovery)")
    assert(second.forall { case (id, v, _) => v == id * 3 }, "payload intact")
    // an idle restart (no new input) publishes nothing new
    Main.main(baseArgs)
    assert(drained().length == 500, "an idle restart must be a no-op")
  }

  test("stream --in-dir --batch: seq recovery decodes .arrowbag envelopes") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-bagresume-").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    def writeBatch(name: String, ids: Range): Unit = {
      val w = new PrintWriter(s"$inDir/$name")
      ids.foreach(i => w.println(s"""{"id": $i, "v": ${i * 3}}"""))
      w.close()
    }
    def drained(): Seq[(Long, Long)] = {
      val schema = StructType.fromDDL("id BIGINT, v BIGINT, seq BIGINT")
      val msgs = spark.read.format("binaryFile").load(s"$outDir/*.arrowbag")
        .select(col("content")).as[Array[Byte]]
        .flatMap(b => graft.streaming.BatchEnvelope.decode(b))
      ArrowIpc.deserialize(spark, msgs, schema).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("seq"))).toSeq
    }
    val baseArgs = Array("stream", "--in-dir", inDir, "--checkpoint", ckpt,
      "--out", outDir, "--schema-ddl", "id BIGINT, v BIGINT",
      "--max-rows", "64", "--seq-col", "--batch")
    writeBatch("part-000.json", 0 until 200)
    Main.main(baseArgs)
    val first = drained()
    assert(first.map(_._2).sorted == (0L until 200L), "seq must be 0..199")
    // the restart must recover max(seq)+1 from the ENVELOPE files — a
    // recovery that only scans .arrow would reseed at 0 and duplicate
    writeBatch("part-001.json", 200 until 300)
    Main.main(baseArgs)
    val second = drained()
    assert(second.map(_._1).sorted == (0L until 300L),
      "resume must add exactly the new file's rows — no dups, no loss")
    assert(second.map(_._2).sorted == (0L until 300L),
      "seq must continue contiguously across a --batch restart")
  }

  test("neardup subcommand: banded pairs equal c71; --index equals bandedIndexOf") {
    import graft.operators.Similarity
    val tmp = Files.createTempDirectory("graft-cli-nd-").toString
    Main.main(Array("neardup", "--in", s"$sfDir/embeddings.parquet",
      "--out", s"$tmp/pairs"))
    val got = spark.read.parquet(s"$tmp/pairs")
      .orderBy("vec_a", "vec_b").collect().map(_.toSeq)
    val want = Similarity.c71NearDupBanded(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI neardup diverges from the c71 gate")
    Main.main(Array("neardup", "--index", "--in", s"$sfDir/embeddings.parquet",
      "--out", s"$tmp/idx"))
    val idx = spark.read.parquet(s"$tmp/idx")
    val wantIdx = Similarity.bandedIndexOf(
      Tables.embeddings(spark, sfDir).select("vec_id", "embedding"))
    assert(idx.orderBy("band", "bucket", "vec_id").collect().map(_.toSeq).toSeq ==
      wantIdx.orderBy("band", "bucket", "vec_id").collect().map(_.toSeq).toSeq,
      "CLI neardup --index diverges from bandedIndexOf")
    assert(idx.count() ==
      Similarity.C71Bands * Tables.embeddings(spark, sfDir).count())
  }

  test("search --fuse: hybrid RRF ranking equals c59 over the corpus") {
    import graft.operators.TextOps
    val out = Files.createTempDirectory("graft-cli-fuse-").toString + "/fused"
    Main.main(Array("search", "--in", s"$sfDir/documents.parquet",
      "--out", out, "--terms", TextOps.C55QueryTerms.mkString(","),
      "--k", "20"))
    // plain BM25 path unchanged by the flag refactor
    val plainTop = spark.read.parquet(out)
      .orderBy(desc("score"), asc("doc_id")).collect().map(_.getAs[Long]("doc_id"))
    val wantPlain = TextOps.c55Bm25(spark, sfDir).collect().map(_.getAs[Long]("doc_id"))
    assert(plainTop.toSeq == wantPlain.toSeq)
    Main.main(Array("search", "--in", s"$sfDir/documents.parquet",
      "--out", out, "--terms", TextOps.C55QueryTerms.mkString(","),
      "--k", "20", "--fuse"))
    val got = spark.read.parquet(out)
      .orderBy(desc("rrf_r"), asc("doc_id")).collect().map(_.toSeq)
    val want = TextOps.c59RrfFuse(spark, sfDir).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq, "CLI --fuse diverges from c59")
    assert(want.nonEmpty)
  }

  test("extract subcommand: WET extraction over a markup parquet ≡ c117, " +
    "refusals counted, optional encoding flags ride the same pass") {
    import graft.operators.Extract
    val tmp = Files.createTempDirectory("graft-cli-extract-").toString
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), Extract.gateMarkup.as("html"))
      .write.parquet(s"$tmp/raw")
    Main.main(Array("extract", "--in", s"$tmp/raw", "--out", s"$tmp/wet",
      "--encoding-flags"))
    val got = spark.read.parquet(s"$tmp/wet")
    val want = Extract.c117HtmlExtract(spark, sfDir)
    val cols = Seq("doc_id", "well_formed", "n_lines", "extracted")
    assert(got.select(cols.map(col): _*).exceptAll(want.select(cols.map(col): _*))
      .count() == 0 && want.count() == got.count(),
      "CLI extraction diverges from the c117 gate row")
    // the clean-markup corpus is all-ok under the encoding battery, and
    // the refusal count is exactly the malformed %13 docs
    assert(got.filter(!col("ok")).count() == 0)
    assert(got.filter(!col("well_formed")).count() ==
      want.filter(!col("well_formed")).count())
    assert(got.filter(!col("well_formed")).count() > 0)
  }

  test("tokenizer --export: JSON artifacts round-trip all four trainers " +
    "and tokenize accepts them in place of parquet") {
    import graft.sources.TokenizerJson
    val tmp = Files.createTempDirectory("graft-cli-tokjson-").toString
    // char BPE: export next to the parquet artifact, reader ≡ trainer
    Main.main(Array("bpe-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/merges", "--export", s"$tmp/bpe.json"))
    val merges = spark.read.parquet(s"$tmp/merges").orderBy("rank").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    val bpe = TokenizerJson.read(s"$tmp/bpe.json")
      .asInstanceOf[TokenizerJson.BpeArtifact]
    assert(!bpe.byteLevel && bpe.merges == merges &&
      bpe.meta.get("gpt2_pre").contains("false"))
    // byte BPE: kind byte_bpe, rank order preserved
    Main.main(Array("bpe-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/bmerges", "--bytes", "--export", s"$tmp/bbpe.json"))
    val bmerges = spark.read.parquet(s"$tmp/bmerges").orderBy("rank").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    val bbpe = TokenizerJson.read(s"$tmp/bbpe.json")
      .asInstanceOf[TokenizerJson.BpeArtifact]
    assert(bbpe.byteLevel && bbpe.merges == bmerges)
    // unigram: fixed-point integer scores survive exactly
    Main.main(Array("unigram-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/pieces", "--export", s"$tmp/uni.json"))
    val pieces = spark.read.parquet(s"$tmp/pieces").orderBy("piece").collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("score"))).toSeq
    val uni = TokenizerJson.read(s"$tmp/uni.json")
      .asInstanceOf[TokenizerJson.UnigramArtifact]
    assert(uni.pieces == pieces)
    // wordpiece
    Main.main(Array("wordpiece-train", "--in", s"$sfDir/documents.parquet",
      "--out", s"$tmp/vocab", "--export", s"$tmp/wp.json"))
    val vocab = spark.read.parquet(s"$tmp/vocab").orderBy("piece").collect()
      .map(_.getAs[String]("piece")).toSeq
    val wp = TokenizerJson.read(s"$tmp/wp.json")
      .asInstanceOf[TokenizerJson.WordpieceArtifact]
    assert(wp.vocab == vocab)
    // tokenize through the JSON artifact ≡ through the parquet artifact
    Main.main(Array("tokenize", "--in", s"$sfDir/documents.parquet",
      "--merges", s"$tmp/bpe.json", "--out", s"$tmp/toksj"))
    Main.main(Array("tokenize", "--in", s"$sfDir/documents.parquet",
      "--merges", s"$tmp/merges", "--out", s"$tmp/toksp"))
    val (tj, tp) = (spark.read.parquet(s"$tmp/toksj"),
      spark.read.parquet(s"$tmp/toksp"))
    assert(tj.exceptAll(tp).count() == 0 && tp.exceptAll(tj).count() == 0,
      "tokenize through JSON must equal tokenize through parquet")
    assert(tj.count() > 0)
    // kind/mode mismatch refuses loudly: a word-level artifact applied
    // byte-staged would silently tokenize garbage
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("tokenize", "--in", s"$sfDir/documents.parquet",
        "--merges", s"$tmp/bpe.json", "--bytes", "--out", s"$tmp/bad"))
    }
    assert(e.getMessage.contains("kind"))
    // escaping: quotes, backslashes, controls and non-ASCII round-trip
    // byte-for-byte (the reason the format rides a real JSON writer)
    val nasty = TokenizerJson.WordpieceArtifact(
      Seq("a\"b", "c\\d", "##e\nf", "©π"), Map("k" -> "v\"w"))
    TokenizerJson.write(s"$tmp/nasty.json", nasty)
    assert(TokenizerJson.read(s"$tmp/nasty.json") == nasty)
    // a non-tokenizer JSON file refuses with the format marker message
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/other.json"),
      """{"format":"something-else","version":1}""".getBytes("UTF-8"))
    val e2 = intercept[RuntimeException] { TokenizerJson.read(s"$tmp/other.json") }
    assert(e2.getMessage.contains("graft-tokenizer"))
  }

  test("tokenizer JSON interop: FOREIGN hand-authored artifacts tokenize " +
    "with expected ids; near-miss shapes refuse loudly") {
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val tmp = JFiles.createTempDirectory("graft-cli-foreign-").toString
    // artifacts as a THIRD-PARTY producer would write them: compact,
    // key order unlike the exporter's, no graft involved in creation
    JFiles.write(Paths.get(s"$tmp/wp.json"),
      ("""{"kind":"wordpiece","vocab":["##bted","##dou","##ly","##s","hello","un"],""" +
        """"version":1,"format":"graft-tokenizer","meta":{"producer":"third-party"}}""")
        .getBytes("UTF-8"))
    JFiles.write(Paths.get(s"$tmp/uni.json"),
      ("""{"meta":{},"pieces":[["ab",-100000],["a",-200000],["b",-200000],["c",-300000]],""" +
        """"format":"graft-tokenizer","kind":"unigram","version":1}""")
        .getBytes("UTF-8"))
    Seq((0L, "hello undoubtedly"), (1L, "hellos"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/docs")
    Main.main(Array("tokenize", "--wordpiece", "--in", s"$tmp/docs",
      "--vocab", s"$tmp/wp.json", "--out", s"$tmp/wtoks"))
    val wtoks = spark.read.parquet(s"$tmp/wtoks").orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](r.fieldIndex("tokens")))
      .toMap
    assert(wtoks(0L) == Seq("hello", "un", "##dou", "##bted", "##ly"),
      s"greedy longest-match over the foreign vocab broke: ${wtoks(0L)}")
    assert(wtoks(1L) == Seq("hello", "##s"), wtoks(1L).toString)
    Seq((0L, "cab ab")).toDF("doc_id", "text").write.parquet(s"$tmp/docs2")
    Main.main(Array("tokenize", "--unigram", "--in", s"$tmp/docs2",
      "--pieces", s"$tmp/uni.json", "--out", s"$tmp/utoks"))
    val utoks = spark.read.parquet(s"$tmp/utoks").collect()
      .map(r => r.getSeq[String](r.fieldIndex("tokens"))).head
    // Viterbi: -100000 ("ab") beats -400000 ("a"+"b"); "cab" = c + ab
    assert(utoks == Seq("c", "ab", "ab"), utoks.toString)
    // near-miss shapes refuse loudly, naming the defect
    JFiles.write(Paths.get(s"$tmp/bad1.json"),
      """{"format":"graft-tokenizer","version":2,"kind":"unigram","pieces":[]}"""
        .getBytes("UTF-8"))
    val e1 = intercept[RuntimeException] {
      graft.sources.TokenizerJson.read(s"$tmp/bad1.json") }
    assert(e1.getMessage.contains("version"), e1.getMessage)
    JFiles.write(Paths.get(s"$tmp/bad2.json"),
      ("""{"format":"graft-tokenizer","version":1,"kind":"unigram",""" +
        """"pieces":[["a",-1,"extra"]]}""").getBytes("UTF-8"))
    val e2 = intercept[RuntimeException] {
      graft.sources.TokenizerJson.read(s"$tmp/bad2.json") }
    assert(e2.getMessage.contains("2-element"), e2.getMessage)
  }

  test("pipeline subcommand: composed crawl release from at-rest markup — " +
    "released set ≡ c119 kept docs, manifest digests verify") {
    import graft.operators.{Extract, TextOps}
    val tmp = Files.createTempDirectory("graft-cli-pipeline-").toString
    // the at-rest corpus GenData writes: corruption plants + markup wrap
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), Extract.gateCorruption.as("text"))
      .select(col("doc_id"), Extract.pipelineMarkup.as("html"))
      .write.parquet(s"$tmp/raw_web")
    Main.main(Array("pipeline", "--in", s"$tmp/raw_web", "--out", s"$tmp/rel"))
    val released = spark.read.parquet(s"$tmp/rel/released.parquet")
    val verdicts = Extract.c119CrawlPipeline(spark, sfDir)
    // released ids are exactly the gate row's kept ids
    val keptIds = verdicts.filter(col("kept")).select("doc_id")
    assert(released.select("doc_id").exceptAll(keptIds).count() == 0)
    assert(keptIds.exceptAll(released.select("doc_id")).count() == 0)
    assert(released.count() > 0 && released.count() < verdicts.count())
    // manifest certifies the released parquet byte-for-byte at doc grain
    val got = TextOps.shardManifestOn(released.select("doc_id", "text"))
    val want = spark.read.parquet(s"$tmp/rel/manifest.parquet")
    assert(got.exceptAll(want).count() == 0 && got.count() == want.count())
    // --near-dup only removes docs, never adds
    Main.main(Array("pipeline", "--in", s"$tmp/raw_web",
      "--out", s"$tmp/rel2", "--near-dup"))
    val released2 = spark.read.parquet(s"$tmp/rel2/released.parquet")
    assert(released2.select("doc_id")
      .exceptAll(released.select("doc_id")).count() == 0)
  }

  test("pipeline drops its cached verdict table when the run fails") {
    import graft.operators.Extract
    val tmp = Files.createTempDirectory("graft-cli-pipeline-fail-").toString
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), Extract.pipelineMarkup.as("html"))
      .write.parquet(s"$tmp/raw_web")
    // OUT is a regular file: the released write fails after the verdict
    // table is cached and folded into the stats
    Files.writeString(java.nio.file.Paths.get(s"$tmp/out"), "not a directory")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](Main.main(Array("pipeline", "--in", s"$tmp/raw_web",
      "--out", s"$tmp/out")))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"cached RDDs left behind: $left")
  }

  test("pipeline --near-dup pinned: released = c119 kept minus the " +
    "non-minimum members of c2's jaccard >= 0.5 components; the stats " +
    "line's attrition adds up") {
    import graft.operators.{Dedup, Extract}
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-pipeline-nd-").toString
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), Extract.gateCorruption.as("text"))
      .select(col("doc_id"), Extract.pipelineMarkup.as("html"))
      .write.parquet(s"$tmp/raw_web")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.main(Array("pipeline", "--in", s"$tmp/raw_web",
        "--out", s"$tmp/rel", "--near-dup"))
    }
    val line = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{"))
      .toSeq.last
    val stat = """"(\w+)":(\d+)[,}]""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    // reference: the c119 kept docs with their repaired text, c2's pairs
    // over that text at the CLI's 0.5 threshold, min-label components
    val keptIds = Extract.c119CrawlPipeline(spark, sfDir).filter(col("kept"))
      .select("doc_id").as[Long].collect().toSet
    val kept = Extract.crawlPipelineStaged(spark.read.parquet(s"$tmp/raw_web"))
      .filter(col("kept")).select(col("doc_id"), col("repaired").as("text"))
    assert(kept.select("doc_id").as[Long].collect().toSet == keptIds)
    val edges = Dedup.c2DedupMinhash(spark, s"$tmp/raw_web",
        shingleTable = Some(Dedup.shingleRows(kept)))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val dropped = MinLabelCC(edges).collect { case (n, l) if n != l => n }.toSet
    assert(dropped.nonEmpty, "the fixture must plant near duplicates")
    val released = spark.read.parquet(s"$tmp/rel/released.parquet")
      .select("doc_id").as[Long].collect().toSeq
    assert(released.size == released.distinct.size)
    assert(released.toSet == keptIds -- dropped)
    assert(stat("near_dups") == dropped.size.toLong, line)
    assert(stat("released") == released.size.toLong, line)
    assert(stat("docs_in") == Seq("refused", "enc_flagged", "q_dropped",
      "exact_dups", "near_dups", "released").map(stat).sum, line)
    assert(stat("shards") ==
      spark.read.parquet(s"$tmp/rel/manifest.parquet").count(), line)
  }
}
