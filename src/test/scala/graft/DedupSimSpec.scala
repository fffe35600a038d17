package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MediaRecord, Multimodal, Relational, Similarity}

/** Specs for the near-dup / similarity / multimodal / sessionize operators
  * (SURVEY §2 c2-c4, c6, c11-c13). */
class DedupSimSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("c2 minhash finds exact-duplicate texts with jaccard 1.0") {
    val pairs = Dedup.c2DedupMinhash(spark, sfDir).collect()
    // identical shingle sets must collide in every band and verify at 1.0;
    // the testdata corpus contains generator-mutated near-dup docs, so the
    // candidate set must be non-trivial but far below O(n²).
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(pairs.length < nDocs * 5, "banding must not degenerate to all-pairs")
    pairs.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("c2 output is identical with and without the shingle-reuse seam") {
    // default path reads the memoized materialized shingle table; injecting
    // the live (recomputed) shingle subtree must produce the same rows
    val viaTable = Dedup.c2DedupMinhash(spark, sfDir)
    val viaLive = Dedup.c2DedupMinhash(spark, sfDir,
      shingleTable = Some(Dedup.shingleRows(Tables.documents(spark, sfDir))))
    assert(viaTable.exceptAll(viaLive).count() == 0 &&
      viaLive.exceptAll(viaTable).count() == 0,
      "shingle reuse must not change c2 results")
  }

  /** Final (or complete) aggregates among `ops` whose grouping columns and
    * aggregate functions (as SQL) satisfy `f`. */
  private def finalAggs(ops: Seq[org.apache.spark.sql.execution.SparkPlan])(
      f: (Seq[String], Seq[String]) => Boolean): Int = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    ops.count {
      case a: BaseAggregateExec =>
        val fs = a.aggregateExpressions.filter(e => e.mode == Final || e.mode == Complete)
        fs.nonEmpty && f(a.groupingExpressions.map(_.sql), fs.map(_.aggregateFunction.sql))
      case _ => false
    }
  }

  test("c2 computes each intermediate once: an injected lazy shingle frame " +
    "is evaluated once and the signature aggregate runs once") {
    import org.apache.spark.sql.execution.GenerateExec
    val ops = evaluatedOps {
      val lazySh = Dedup.shingleRows(Tables.documents(spark, sfDir))
      Dedup.c2DedupMinhash(spark, sfDir, shingleTable = Some(lazySh)).collect()
      ()
    }
    val shingleEvals = ops.count {
      case g: GenerateExec => g.generator.sql.contains("sequence")
      case _ => false
    }
    val minhashAggs = finalAggs(ops)((_, fs) => fs.exists(_.contains("md5")))
    assert(shingleEvals == 1, s"shingle subtree evaluated $shingleEvals times")
    assert(minhashAggs == 1, s"$minhashAggs minhash aggregations")
  }

  test("c2 drops its own shingle cache, on success and on failure, and " +
    "leaves a caller's cache alone") {
    import org.apache.spark.storage.StorageLevel
    val live = Dedup.shingleRows(Tables.documents(spark, sfDir))
    val want = Dedup.c2DedupMinhash(spark, sfDir, shingleTable = Some(live)).collect()
    assert(live.storageLevel == StorageLevel.NONE,
      "c2's cache outlived the call")
    val cached = Dedup.shingleRows(Tables.documents(spark, sfDir)).persist()
    try {
      val got = Dedup.c2DedupMinhash(spark, sfDir, shingleTable = Some(cached))
        .collect()
      assert(cached.storageLevel != StorageLevel.NONE, "the caller's cache was dropped")
      assert(got.toSeq == want.toSeq)
    } finally { cached.unpersist(); () }
    val bad = Dedup.shingleRows(Tables.documents(spark, sfDir))
      .withColumn("shingle", when(col("doc_id") === 7L, raise_error(lit("boom")))
        .otherwise(col("shingle")))
    intercept[Exception](Dedup.c2DedupMinhash(spark, sfDir, shingleTable = Some(bad)))
    assert(bad.storageLevel == StorageLevel.NONE,
      "a failed call left its cache behind")
  }

  test("c2 minhash jaccard is exact on a known pair") {
    import spark.implicits._
    // doc 1/2 share exactly 1 of their (3+3-1=5... ) shingles: verify value
    val a = "w1 w2 w3 w4" // shingles: {w1 w2 w3, w2 w3 w4}
    val b = "w2 w3 w4 w5" // shingles: {w2 w3 w4, w3 w4 w5} → inter=1, union=3
    val sh = docsDf(Seq((1L, a), (2L, b), (3L, a)))
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val sets = sh.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sets(1L).intersect(sets(2L)).size == 1)
    assert(sets(1L) == sets(3L))
  }

  test("native simhash64 expression matches the explode+groupBy derivation bit-for-bit") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(docsDf(Seq( // edge shapes: double space, single token, case
        (9001L, "a  b"), (9002L, "solo"), (9003L, "MiXeD CaSe MiXeD"),
        // capitals ICU lowercases and the JDK's older tables do not
        (9004L, "\u2C2F\uA7C0 \u2C2F x \uA7C0"))))
    val viaExpr = Dedup.simhashOf(docs)
    val viaExplode = Dedup.simhashOfExploded(docs)
    assert(viaExpr.exceptAll(viaExplode).count() == 0 &&
      viaExplode.exceptAll(viaExpr).count() == 0,
      "expression and aggregate formulations must agree exactly")
  }

  test("native simhash32md5 expression matches the explode+groupBy derivation bit-for-bit") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(docsDf(Seq(
        (9001L, "a  b"), (9002L, "solo"), (9003L, "MiXeD CaSe MiXeD"),
        (9004L, "\u2C2F\uA7C0 \u2C2F x \uA7C0"))))
    val viaExpr = docs.select(col("doc_id"),
      graft.functions.TextFunctions.simhash32md5(col("text")).as("simhash"))
    val viaExplode = Dedup.simhash32Exploded(docs)
    assert(viaExpr.exceptAll(viaExplode).count() == 0 &&
      viaExplode.exceptAll(viaExpr).count() == 0,
      "expression and aggregate formulations must agree exactly")
  }

  test("graft_simhash64 / graft_simhash32_md5 SQL forms equal the Column API") {
    Tables.documents(spark, sfDir).limit(50).createOrReplaceTempView("ds_sql")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_simhash64(text) AS h64,
        |  graft_simhash32_md5(text) AS h32
        |FROM ds_sql ORDER BY doc_id""".stripMargin).collect()
    val viaApi = Tables.documents(spark, sfDir).limit(50)
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash64(col("text")).as("h64"),
        graft.functions.TextFunctions.simhash32md5(col("text")).as("h32"))
      .orderBy("doc_id").collect()
    viaSql.zip(viaApi).foreach { case (s, a) =>
      assert(s.getLong(1) == a.getLong(1), s"h64 mismatch doc ${s.getLong(0)}")
      assert(s.getLong(2) == a.getLong(2), s"h32 mismatch doc ${s.getLong(0)}")
    }
    // wrong arity is an analysis-time error, never a silent head-take
    val err = intercept[Exception](
      spark.sql("SELECT graft_simhash32_md5('a', 42)").collect())
    assert(err.getMessage.contains("expects 1 argument"), err.getMessage)
  }

  test("c3 simhash: identical texts hash identically; banding finds them") {
    val docs = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words here entirely now"),
      (4L, "alpha beta gamma delta epsilon eta"))) // 1-word change
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L },
      "exact dup must be found at hamming 0")
    assert(!pairs.exists { case (a, b, _) => Set(a, b).contains(3L) },
      "unrelated doc must not pair")
  }

  test("c4 ngram jaccard is 1.0 for identical adjacent docs") {
    import spark.implicits._
    val out = Dedup.c4NgramJaccard(spark, sfDir)
    val cols = out.columns.toSeq
    assert(cols == Seq("doc_a", "doc_b", "n_common", "jaccard"))
    // self-consistency: jaccard ∈ [0,1]
    assert(out.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
  }

  test("c6 LSH ANN returns a subset of the brute-force candidates with identical scores") {
    val brute = Similarity.c5AnnBrute(spark, sfDir, k = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine_r"))
      .toMap
    val lsh = Similarity.c6AnnLsh(spark, sfDir).collect()
    assert(lsh.nonEmpty, "bucketed ANN must return neighbors on this data")
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(brute.contains(key), s"$key not in brute-force universe")
      assert(math.abs(brute(key) - r.getAs[Double]("cosine_r")) < 1e-9,
        "bucketing must not change the score")
    }
  }

  test("c6 seeded hyperplanes: deterministic, full-dimensional, recall@5 vs c5") {
    import graft.functions.VectorFunctions
    // deterministic: same seed regenerates the identical matrix
    val p1 = VectorFunctions.lshPlanes(6, 64)
    val p2 = VectorFunctions.lshPlanes(6, 64)
    assert(p1.length == 6 && p1.forall(_.length == 64))
    assert(p1.zip(p2).forall { case (a, b) => a.sameElements(b) })
    // a different seed gives a different family
    val p3 = VectorFunctions.lshPlanes(6, 64, seed = "other")
    assert(p1.zip(p3).exists { case (a, b) => !a.sameElements(b) })
    // genuinely full-dimensional (not the axis-aligned special case): every
    // plane touches (nearly) every coordinate, entries span both signs
    p1.foreach { p =>
      assert(p.count(_ != 0L) >= 60, "plane should have almost no zero entries")
      assert(p.exists(_ > 0) && p.exists(_ < 0), "entries must span both signs")
    }
    // recall@5 against the exact baseline at the production bucket count —
    // the quantity the plane family exists to protect
    val brute5 = Similarity.c5AnnBrute(spark, sfDir, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val got = Similarity.c6AnnLsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute5.count(got.contains).toDouble / brute5.length
    info(f"c6 LSH recall@5 vs exact: $recall%.2f (6 planes = 64 buckets)")
    assert(recall > 0.0, "seeded-hyperplane LSH should find true neighbors")
  }

  test("c18 IVF ANN: scores match brute force; recall@5 is reported and sane") {
    val brute = Similarity.c5AnnBrute(spark, sfDir, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val bruteAll = Similarity.c5AnnBrute(spark, sfDir, k = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine_r"))
      .toMap
    val ivf = Similarity.c18AnnIvf(spark, sfDir).collect()
    assert(ivf.nonEmpty, "IVF must return neighbors")
    ivf.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(bruteAll.contains(key), s"$key not in brute-force universe")
      assert(math.abs(bruteAll(key) - r.getAs[Double]("cosine_r")) < 1e-9,
        "cell restriction must not change the score")
    }
    val got = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(got.contains).toDouble / brute.length
    info(f"c18 IVF recall@5 vs exact: $recall%.2f (nprobe=1)")
    assert(recall > 0.0, "nprobe=1 IVF should still find some true neighbors")
  }

  test("c18 IVF nprobe=2 recall >= nprobe=1, scores stay exact, no duplicate pairs") {
    val brute5 = Similarity.c5AnnBrute(spark, sfDir, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    def recall(nprobe: Int): Double = {
      val got = Similarity.c18AnnIvf(spark, sfDir, k = 5, nprobe = nprobe).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      assert(got.distinct.length == got.length, s"nprobe=$nprobe emits duplicate pairs")
      brute5.count(got.toSet.contains).toDouble / brute5.length
    }
    val r1 = recall(1)
    val r2 = recall(2)
    info(f"c18 recall@5: nprobe=1 $r1%.2f, nprobe=2 $r2%.2f")
    assert(r2 >= r1, "probing more cells must not lose neighbors")
  }

  test("cell assignment is stateless: no shuffle on vec_id anywhere in the plan") {
    // the r6 formulation ranked cells with a row_number window partitioned
    // on vec_id — an n×k exchange; the struct-argmax must plan ZERO hash
    // repartitionings (the only exchanges left are the broadcast codebook
    // fold's SinglePartition agg and the BroadcastExchange itself)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val assigned = Similarity.assignCells(
      e, Similarity.labelCodebook(spark, sfDir), maxProbe = 1)
    val planStr = sansFanOut(assigned.queryExecution.executedPlan.toString)
    assert(!planStr.contains("hashpartitioning"),
      s"assignment subtree must not shuffle:\n$planStr")
    assert(assigned.count() == Tables.embeddings(spark, sfDir).count(),
      "maxProbe=1 emits exactly one cell per vector")
  }

  test("c18 trained codebook: scores stay exact; recall@5 >= label codebook at equal nprobe") {
    val brute5 = Similarity.c5AnnBrute(spark, sfDir, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val bruteAll = Similarity.c5AnnBrute(spark, sfDir, k = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine_r"))
      .toMap
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      rows.foreach { r =>
        val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        assert(bruteAll.contains(key), s"$key not in brute-force universe")
        assert(math.abs(bruteAll(key) - r.getAs[Double]("cosine_r")) < 1e-9,
          "cell restriction must not change the score")
      }
      val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      brute5.count(got.contains).toDouble / brute5.length
    }
    val label = recallOf(Similarity.c18AnnIvf(spark, sfDir, k = 5, nprobe = 1).collect())
    val trained = recallOf(Similarity.c18AnnIvfTrained(spark, sfDir, k = 5, nprobe = 1, rounds = 3).collect())
    info(f"c18 recall@5 nprobe=1: label codebook $label%.2f, trained(3) $trained%.2f")
    assert(trained >= label,
      f"Lloyd refinement must not lose recall: trained $trained%.2f < label $label%.2f")
  }

  test("c33 bucketed hard negatives: equi-join plan, subset of exact mining's universe") {
    // plan: the keyed form must join on the bucket key — never a
    // cartesian/broadcast-nested-loop (those are the shapes that require
    // the anchor side to broadcast)
    val approx = Similarity.c33HardNegativesLsh(spark, sfDir)
    val planStr = approx.queryExecution.executedPlan.toString
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoop"),
      s"bucketed mining must plan an equi-join:\n$planStr")
    val rows = approx.collect()
    assert(rows.nonEmpty, "bucket collisions must yield negatives")
    // semantics: labels always differ, scores identical to the exact
    // miner's for any (query, neighbor) both produce, ranks consistent
    val exact = Similarity.c29HardNegatives(spark, sfDir, k = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        (r.getAs[Long]("neg_label"), r.getAs[Double]("cosine_r"))).toMap
    rows.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(exact.contains(key),
        s"$key not in the exact miner's mismatched-label universe")
      val (lbl, cos) = exact(key)
      assert(r.getAs[Long]("neg_label") == lbl)
      assert(math.abs(r.getAs[Double]("cosine_r") - cos) < 1e-9,
        "bucketing must not change the score")
    }
    // overlap vs the exact top-k: report it; bucketing only PRUNES
    // candidates, so every approximate negative the exact top-5 also
    // contains must carry the same neighbor
    val exactTop = Similarity.c29HardNegatives(spark, sfDir, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val overlap = exactTop.count(got.contains).toDouble / exactTop.length
    info(f"c33 approximate-negative overlap with exact top-5: $overlap%.2f")
    assert(overlap > 0.0, "bucketed mining should recover some exact negatives")
  }

  test("c22 quantization: reconstruction error bounded by half a quantization step") {
    val e = Tables.embeddings(spark, sfDir)
    val scale = e.select(posexplode(col("embedding")))
      .agg(max(abs(col("col").cast("double")))).collect().head.getDouble(0)
    val halfStep = scale / 127 / 2
    val rows = Similarity.c22EmbedQuantize(spark, sfDir).collect()
    assert(rows.length == e.count(), "one audit row per vector")
    rows.foreach { r =>
      assert(r.getAs[Double]("max_abs_err_r") <= halfStep + 1e-6,
        s"vec ${r.getAs[Long]("vec_id")}: err ${r.getAs[Double]("max_abs_err_r")} > $halfStep")
      assert(r.getAs[Long]("n_saturated") >= 0 &&
        r.getAs[Long]("n_saturated") <= r.getAs[Long]("n_dims"))
    }
  }

  test("c37 incremental dedup: all three statuses on a synthetic batch") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearText = (1 to 29).map(i => s"w$i").mkString(" ") + " CHANGED"
    val existing = docsDf(Seq(1L -> base, 2L -> "zz yy xx ww vv uu tt ss rr qq"))
    val incoming = docsDf(Seq(
      10L -> base,                                  // byte-identical -> exact_dup
      11L -> nearText,                              // 25/31 shingles shared -> near_dup
      12L -> "totally unrelated fresh content here new words only"))
    val got = Dedup.incrementalDedup(incoming, existing).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("status"), if (r.isNullAt(2)) -1L else r.getAs[Long]("dup_of")))
      .toMap
    assert(got(10L) == ("exact_dup", 1L))
    assert(got(11L) == ("near_dup", 1L))
    assert(got(12L) == ("new", -1L))
  }

  test("c37 reads each side's shingle-set size off its band rows: " +
    "one minhash aggregate per side and no count-only per-doc aggregate") {
    val ops = evaluatedOps { Dedup.c37IncrementalDedup(spark, sfDir).collect(); () }
    val minhashAggs = finalAggs(ops)((_, fs) => fs.exists(_.contains("md5")))
    val countOnlyPerDoc = finalAggs(ops)((g, fs) =>
      g == Seq("doc_id") && fs.forall(_.startsWith("count(")))
    assert(minhashAggs == 2, s"$minhashAggs minhash aggregations")
    assert(countOnlyPerDoc == 0, s"$countOnlyPerDoc count-only per-doc aggregates")
  }

  test("c37 compares text to text when an incoming doc reuses an existing doc_id") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"v$i").mkString(" ")
    val existing = docsDf(Seq(1L -> base, 2L -> other,
      3L -> "zz yy xx ww vv uu tt ss rr qq"))
    val incoming = docsDf(Seq(
      // id 1 again, a near-dup of existing 1's text (27 of 29 shingles)
      1L -> ((1 to 29).map(i => s"w$i").mkString(" ") + " CHANGED"),
      // id 3 again, a near-dup of existing 2 and unlike existing 3
      3L -> ("CHANGED " + (2 to 30).map(i => s"v$i").mkString(" ")),
      // id 2 again, unlike anything in the corpus
      2L -> "fresh words here that no existing document has ever used"))
    val got = Dedup.incrementalDedup(incoming, existing).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("status"), if (r.isNullAt(2)) -1L else r.getAs[Long]("dup_of")))
      .toMap
    assert(got == Map(1L -> ("near_dup", 1L), 3L -> ("near_dup", 2L), 2L -> ("new", -1L)))
  }

  test("c37 and c95 leave no cache and no per-call scratch dir behind, on " +
    "success and on failure, and leave a caller's cache alone") {
    import org.apache.spark.storage.StorageLevel
    // a cached frame's blocks are a persisted RDD; the checkpoint a call
    // returns is the only kind it may leave
    def caches = spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch: Set[String] = tmp.list().toSet
      .filter(n => n.startsWith("graft-ingest-") || n.startsWith("graft-incr-"))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 7 =!= 3)
    val incoming = docs.filter(col("doc_id") % 7 === 3)
    // the memo tables the calls read exist before the snapshot
    val labels = spark.read.parquet(Dedup.incrBaseLabelsPath(spark, sfDir))
    Dedup.shingleTablePath(spark, sfDir)
    val bad = incoming.withColumn("text",
      when(col("doc_id") === 3L, raise_error(lit("boom"))).otherwise(col("text")))
    val (caches0, dirs0) = (caches, scratch)
    Dedup.c37IncrementalDedup(spark, sfDir).collect()
    Dedup.incrementalClusters(incoming, existing, labels).collect()
    intercept[Exception](Dedup.incrementalDedup(bad, existing).collect())
    intercept[Exception](Dedup.incrementalClusters(bad, existing, labels).collect())
    assert(caches == caches0, "a call left its cache behind")
    assert((scratch -- dirs0).isEmpty, s"a call wrote scratch dirs ${scratch -- dirs0}")
    val shIn = Dedup.shingleRows(incoming).persist()
    try {
      Dedup.incrementalDedup(incoming, existing, incomingShingles = Some(shIn)).collect()
      Dedup.incrementalClusters(incoming, existing, labels, newShingles = Some(shIn))
        .collect()
      assert(shIn.storageLevel != StorageLevel.NONE, "the caller's cache was dropped")
    } finally { shIn.unpersist(); () }
  }

  test("c95 reads each side's shingle-set size off its band rows: one minhash " +
    "aggregate per side, no join against a (doc_id, ns) frame, equi-joins only") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec,
      CartesianProductExec}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 7 =!= 3)
    val incoming = docs.filter(col("doc_id") % 7 === 3)
      .unionAll(docs.filter(col("doc_id") % 11 === 5 && col("doc_id") % 7 =!= 3)
        .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
    val labels = spark.read.parquet(Dedup.incrBaseLabelsPath(spark, sfDir))
    val shEx = spark.read.parquet(Dedup.shingleTablePath(spark, sfDir))
      .filter(col("doc_id") % 7 =!= 3)
    val ops = evaluatedOps {
      Dedup.incrementalClusters(incoming, existing, labels,
        existingShingles = Some(shEx)).collect()
      ()
    }
    val minhashAggs = finalAggs(ops)((_, fs) => fs.exists(_.contains("md5")))
    val sizeJoins = ops.collect { case j: BaseJoinExec => j }.filter { j =>
      Seq(j.left, j.right).exists { side =>
        val names = side.output.map(_.name)
        names.size == 2 && names.exists(Set("ns", "na", "nb"))
      }
    }
    assert(minhashAggs == 2, s"$minhashAggs minhash aggregations")
    assert(sizeJoins.isEmpty, s"joins against a sizes frame:\n${sizeJoins.mkString("\n")}")
    val c37Ops = evaluatedOps { Dedup.c37IncrementalDedup(spark, sfDir).collect(); () }
    val crossJoins = (ops ++ c37Ops).collect {
      case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => j
    }
    assert(crossJoins.isEmpty, s"non-equi joins:\n${crossJoins.mkString("\n")}")
  }

  test("c37 verdicts re-verify against raw text: exact matches, jaccard bounds, id domains") {
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def shingleSet(t: String): Set[String] = {
      val ts = t.toLowerCase.split(" ")
      if (ts.length < 3) Set.empty
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val existingTexts = docs.filter(_._1 % 7 != 3)
    val rows = Dedup.c37IncrementalDedup(spark, sfDir).collect()
    val expectedIncoming = docs.keySet.filter(_ % 7 == 3) ++
      docs.keySet.filter(id => id % 11 == 5 && id % 7 != 3).map(_ + 1000000000000L)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == expectedIncoming)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val text = if (id >= 1000000000000L) docs(id - 1000000000000L) else docs(id)
      r.getAs[String]("status") match {
        case "exact_dup" =>
          val src = r.getAs[Long]("dup_of")
          assert(existingTexts(src) == text, s"$id: dup_of $src text differs")
        case "near_dup" =>
          val src = r.getAs[Long]("dup_of")
          val a = shingleSet(text); val b = shingleSet(existingTexts(src))
          val ni = (a & b).size
          val j = ni.toDouble / (a.size + b.size - ni)
          assert(j >= 0.7 - 1e-9, s"$id vs $src: jaccard $j below threshold")
          assert(existingTexts(src) != text, s"$id: identical text must be exact_dup")
        case "new" =>
          assert(r.isNullAt(2), s"$id: new rows carry no dup_of")
          assert(!existingTexts.values.exists(_ == text),
            s"$id: text exists in corpus but labeled new")
      }
      if (!r.isNullAt(2)) {
        val src = r.getAs[Long]("dup_of")
        assert(src < 1000000000000L && src % 7 != 3, s"$id: dup_of $src not an existing id")
      }
    }
    // every recrawl row is a byte-identical replay -> must be exact_dup of its source
    rows.filter(_.getAs[Long]("doc_id") >= 1000000000000L).foreach { r =>
      assert(r.getAs[String]("status") == "exact_dup")
      assert(r.getAs[Long]("dup_of") == r.getAs[Long]("doc_id") - 1000000000000L)
    }
  }

  test("c36 PQ codes re-derive from sliced label centroids; quantization plan is shuffle-free") {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def roundFx(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 10000).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val e = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getAs[Int]("label")))
    val dim = e.head._2.length
    val m = 4; val sd = dim / m
    // c15's fixed-point per-label centroids, independently re-derived
    val cent: Map[Int, Array[Double]] = e.groupBy(_._3).map { case (l, vs) =>
      l -> (0 until dim).map { p =>
        vs.map(v => roundFx(v._2(p))).sum.toDouble / 10000.0 / vs.length
      }.toArray
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val labels = cent.keys.toSeq.sorted
    val expected = e.flatMap { case (id, v, _) =>
      (0 until m).map { j =>
        val slice = v.slice(j * sd, (j + 1) * sd)
        val best = labels.map { l =>
          (round6(cos(slice, cent(l).slice(j * sd, (j + 1) * sd))), l)
        }.reduceLeft { (a, b) =>
          val c = java.lang.Double.compare(b._1, a._1)
          if (c > 0 || (c == 0 && b._2 < a._2)) b else a
        }
        (id, j.toLong) -> (best._2.toLong, best._1)
      }
    }.toMap
    val df = Similarity.c36PqQuantize(spark, sfDir)
    val got = df.collect()
    assert(got.length == e.length * m, "one row per (vector, subspace)")
    got.foreach { r =>
      val key = (r.getAs[Long]("vec_id"), r.getAs[Long]("subspace"))
      val (code, score) = expected(key)
      assert(r.getAs[Long]("code") == code, s"$key code")
      assert(r.getAs[Double]("score_r") == score, s"$key score")
    }
    // the quantization itself is one stateless projection: the only
    // exchanges are the broadcast codebook folds and the final range sort
    val planStr = sansFanOut(df.queryExecution.executedPlan.toString)
    assert(!planStr.contains("hashpartitioning"),
      s"PQ assignment must not shuffle rows:\n$planStr")
  }

  test("c38 ADC search re-derives from PQ reconstructions; recall vs c5 reported") {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def roundFx(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 10000).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val e = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getAs[Int]("label")))
    val dim = e.head._2.length; val m = 4; val sd = dim / m
    val cent: Map[Int, Array[Double]] = e.groupBy(_._3).map { case (l, vs) =>
      l -> (0 until dim).map { p =>
        vs.map(v => roundFx(v._2(p))).sum.toDouble / 10000.0 / vs.length
      }.toArray
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val labels = cent.keys.toSeq.sorted
    // PQ reconstruction per candidate: concat of its nearest sub-centroids
    val recon: Map[Long, Array[Double]] = e.filter(_._1 >= 5).map { case (id, v, _) =>
      id -> (0 until m).flatMap { j =>
        val slice = v.slice(j * sd, (j + 1) * sd)
        val best = labels.map { l =>
          (round6(cos(slice, cent(l).slice(j * sd, (j + 1) * sd))), l)
        }.reduceLeft { (a, b) =>
          val c = java.lang.Double.compare(b._1, a._1)
          if (c > 0 || (c == 0 && b._2 < a._2)) b else a
        }
        cent(best._2).slice(j * sd, (j + 1) * sd)
      }.toArray
    }.toMap
    val queries = e.filter(_._1 < 5).map(q => q._1 -> q._2).toMap
    val expected = queries.flatMap { case (qid, qv) =>
      recon.toSeq.map { case (nid, rv) => (nid, cos(qv, rv)) }
        .sortBy { case (nid, s) => (-s, nid) }.take(5).zipWithIndex
        .map { case ((nid, s), i) => (qid, i + 1L) -> (nid, round6(s)) }
    }
    val got = Similarity.c38PqSearch(spark, sfDir).collect()
    assert(got.length == queries.size * 5)
    got.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"))
      val (nid, s) = expected(key)
      assert(r.getAs[Long]("neighbor_id") == nid, s"$key neighbor")
      assert(r.getAs[Double]("adc_r") == s, s"$key score")
    }
    // codec quality: the reconstruction must point in its vector's
    // direction (this is what PQ stores). Recall vs c5 is REPORTED, not
    // asserted — the synthetic embeddings are isotropic noise (same-label
    // and cross-label mean cosine are both ~0), so exact-neighbor overlap
    // is noise-level for ANY codec on this corpus by construction.
    val reconCos = e.filter(_._1 >= 5).map { case (id, v, _) => cos(v, recon(id)) }
    assert(reconCos.min > 0.1, f"worst reconstruction cosine ${reconCos.min}%.3f")
    assert(reconCos.sum / reconCos.length > 0.3,
      f"mean reconstruction cosine ${reconCos.sum / reconCos.length}%.3f")
    val brute = Similarity.c5AnnBrute(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = got.count(r =>
      brute((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))).toDouble / brute.size
    info(f"c38 ADC recall@5 vs c5: $recall%.2f (noise-level corpus; reported only)")
  }

  test("ivfPqSearch: nprobe=all cells is exactly c38's brute ADC; nprobe=1 prunes to the query cell") {
    val nCells = Similarity.labelCodebook(spark, sfDir).count().toInt
    val full = Similarity.ivfPqSearch(spark, sfDir, nprobe = nCells)
      .select("query_id", "rnk", "neighbor_id", "adc_r")
    val brute = Similarity.c38PqSearch(spark, sfDir)
    assert(full.exceptAll(brute).count() == 0 && brute.exceptAll(full).count() == 0,
      "with every cell probed, IVF-PQ must equal the unrestricted ADC search")

    val pruned = Similarity.ivfPqSearch(spark, sfDir, nprobe = 1).collect()
    assert(pruned.length == 25, "5 queries x top-5 inside the probed cell")
    // every returned neighbor must live in the cell its query probed —
    // re-derive both assignments independently
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cells = Similarity.assignCells(e, Similarity.labelCodebook(spark, sfDir), maxProbe = 1)
      .select("vec_id", "cell").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    pruned.foreach { r =>
      assert(cells(r.getAs[Long]("neighbor_id")) == cells(r.getAs[Long]("query_id")),
        s"neighbor outside the probed cell: $r")
    }
    // scores are the SAME ADC scores the unrestricted search assigns
    val bruteScores = Similarity.c38PqSearch(spark, sfDir, k = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("adc_r"))
      .toMap
    pruned.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(bruteScores(key) == r.getAs[Double]("adc_r"),
        s"cell restriction changed an ADC score: $key")
    }
  }

  test("c79 exact re-rank: ADC shortlist re-scored exactly; full shortlist IS c5 truth; recall never below raw ADC") {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    // driver re-derivation: the stage-1 shortlist is c38's ADC order at
    // k=20 (already pinned against a full re-derivation above); stage 2 is
    // exact cosine over raw vectors, top-5, neighbor-asc ties
    val sl = Similarity.c38PqSearch(spark, sfDir, k = 20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rnk")))
    val expected = sl.groupBy(_._1).flatMap { case (qid, rows) =>
      rows.toSeq.map { case (_, nid, arnk) => (nid, cos(vecs(qid), vecs(nid)), arnk) }
        .sortBy { case (nid, s, _) => (-s, nid) }.take(5).zipWithIndex
        .map { case ((nid, s, arnk), i) => (qid, i + 1L) -> (nid, round6(s), arnk) }
    }
    val got = Similarity.c79ExactRerank(spark, sfDir).collect()
    assert(got.length == expected.size, "row count")
    got.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"))
      val (nid, s, arnk) = expected(key)
      assert(r.getAs[Long]("neighbor_id") == nid, s"$key neighbor")
      assert(r.getAs[Double]("exact_r") == s, s"$key exact score")
      assert(r.getAs[Long]("adc_rnk") == arnk, s"$key stage-1 rank")
    }
    // with the shortlist admitting every candidate, stage 2 re-scores the
    // whole corpus and the result is EXACTLY c5's brute-force truth
    val nCand = vecs.keys.count(_ >= 5)
    val full = Similarity.c79ExactRerank(spark, sfDir, shortlist = nCand)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("exact_r").as("cosine_r"))
    val brute = Similarity.c5AnnBrute(spark, sfDir)
    assert(full.exceptAll(brute).count() == 0 && brute.exceptAll(full).count() == 0,
      "shortlist = all candidates must reduce c79 to the brute-force truth")
    // re-ranking can only help: any truth-top-5 member inside the
    // shortlist carries one of the shortlist's 5 highest exact scores, so
    // the exact re-rank keeps it — recall@5 >= raw ADC order's recall@5
    val truth = brute.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val adcTop5 = sl.filter(_._3 <= 5).map { case (q, n, _) => (q, n) }
    val rerankTop5 = got.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val adcRecall = adcTop5.count(truth).toDouble / truth.size
    val rerankRecall = rerankTop5.count(truth).toDouble / truth.size
    assert(rerankRecall >= adcRecall,
      f"re-rank recall $rerankRecall%.2f fell below raw ADC $adcRecall%.2f")
    info(f"c79 recall@5 vs c5 truth: ADC-only $adcRecall%.2f -> re-ranked $rerankRecall%.2f")
  }

  test("c81 containment equals a driver-side re-derivation over winnow-collided pairs") {
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").toLowerCase.split(" ", -1).toVector))
    // winnow fps (reference formulation, k=4 w=5) and 3-shingle sets
    val fps = docs.map { case (id, tk) =>
      val gs = if (tk.length >= 4)
        tk.sliding(4).map(g => md5s(g.mkString(" "))).toVector
      else Vector.empty
      id -> (if (gs.length >= 5) gs.sliding(5).map(_.min).toSet
             else Set.empty[String])
    }.toMap
    val shingles = docs.map { case (id, tk) =>
      id -> (if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.toMap
    val ids = docs.map(_._1).sorted
    def contFx(ni: Long, n: Long): Double =
      ((2 * ni * 1000000L + n) / (2 * n)).toDouble / 1e6
    val expected = (for {
      a <- ids; b <- ids if a < b
      if fps(a).exists(fps(b))
      ni = shingles(a).intersect(shingles(b)).size.toLong
      if ni >= 1
      ca = contFx(ni, shingles(a).size); cb = contFx(ni, shingles(b).size)
    } yield (a, b) -> ((ni, shingles(a).size.toLong, shingles(b).size.toLong,
      ca, cb, math.max(ca, cb) >= 0.5))).toMap
    val got = Dedup.c81ContainmentDedup(spark, sfDir).collect().map { r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("n_common"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
          r.getAs[Double]("cont_a_in_b_r"), r.getAs[Double]("cont_b_in_a_r"),
          r.getAs[Boolean]("contained")))
    }.toMap
    assert(got == expected)
    // never all-pairs: candidates confined to fingerprint collisions
    assert(got.size < ids.length * 5L, "candidate set must stay banded")
    info(s"c81: ${got.size} collided pairs, ${got.values.count(_._6)} contained")
  }

  test("c81 surfaces the doc-in-doc pair Jaccard-banded dedup structurally misses") {
    // A (10 tokens) quoted verbatim inside B (60 tokens): containment
    // |A∩B|/|A| = 1, Jaccard ≈ 8/58 ≈ 0.14 — far below any near-dup
    // threshold, invisible to a Jaccard estimator by construction
    val a = (1 to 10).map(i => s"q$i").mkString(" ")
    val b = (1 to 25).map(i => s"x$i").mkString(" ") + " " + a + " " +
      (1 to 25).map(i => s"y$i").mkString(" ")
    val docs = docsDf(Seq((1L, a), (2L, b), (3L, "unrelated words only here")))
    val sh = Dedup.shingleRows(docs)
    val got = Dedup.containmentOn(docs, sh).collect()
    assert(got.length == 1, s"exactly the (1,2) pair must collide: ${got.toSeq}")
    val r = got.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Double]("cont_a_in_b_r") == 1.0, "A fully contained in B")
    assert(r.getAs[Boolean]("contained"))
    // the Jaccard this pair would score stays far below c2's 0.5-ish bars
    val ni = r.getAs[Long]("n_common").toDouble
    val j = ni / (r.getAs[Long]("na") + r.getAs[Long]("nb") - ni)
    assert(j < 0.2, f"jaccard $j%.3f must be low — that is the point")
  }

  test("c82 survivorship picks each cluster's best-scored member; exact-dup ties fall back to min id") {
    import graft.operators.TextOps
    // driver re-derivation from the two oracle-pinned inputs
    val clusters = Dedup.c19DedupCluster(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val scores = TextOps.c41FreqScore(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_prob_r")).toMap
    val expectedCanon = clusters.groupBy(_._2).map { case (cc, ms) =>
      cc -> ms.keys.toSeq.sortBy(id => (-scores(id), id)).head
    }
    val got = Dedup.c82BestOfCluster(spark, sfDir).collect()
    assert(got.length == clusters.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val cc = r.getAs[Long]("cluster_id")
      assert(cc == clusters(id), s"doc $id cluster")
      assert(r.getAs[Double]("mean_prob_r") == scores(id), s"doc $id score")
      assert(r.getAs[Long]("canonical_id") == expectedCanon(cc), s"doc $id canonical")
      assert(r.getAs[Boolean]("is_canonical") == (id == expectedCanon(cc)))
    }
    // the policy must differ from c19's min-id rule somewhere on this
    // corpus (otherwise the quality-aware row tests nothing) ...
    val minIdCanon = clusters.groupBy(_._2).map { case (cc, ms) => cc -> ms.keys.min }
    val diverges = expectedCanon.exists { case (cc, id) => minIdCanon(cc) != id }
    // ... and exact-dup clusters (identical text => identical score) must
    // fall back to exactly the min-id choice
    val texts = Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    clusters.groupBy(_._2).foreach { case (cc, ms) =>
      val ids = ms.keys.toSeq
      if (ids.size > 1 && ids.map(texts).distinct.size == 1)
        assert(expectedCanon(cc) == ids.min, s"exact-dup cluster $cc must keep min id")
    }
    info(s"c82: ${expectedCanon.size} clusters, quality-aware canonical " +
      s"diverges from min-id in ${expectedCanon.count { case (cc, id) => minIdCanon(cc) != id }} (diverges=$diverges)")
  }

  test("c92 soft dedup weights are exactly the inverse cluster sizes, clusters mass ~1") {
    // driver re-derivation from the oracle-pinned c19 clusters
    val clusters = Dedup.c19DedupCluster(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val sizes = clusters.groupBy(_._2).map { case (cc, ms) => cc -> ms.size.toLong }
    def w(n: Long): Double = ((2L * 1000000L + n) / (2L * n)).toDouble / 1e6
    val got = Dedup.c92SoftDedup(spark, sfDir).collect()
    assert(got.length == clusters.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val cc = r.getAs[Long]("cluster_id")
      assert(cc == clusters(id), s"doc $id cluster")
      assert(r.getAs[Long]("cluster_size") == sizes(cc), s"doc $id size")
      assert(r.getAs[Double]("weight_r") == w(sizes(cc)), s"doc $id weight")
    }
    // singletons keep full weight; real clusters are discounted
    val byW = got.groupBy(_.getAs[Long]("cluster_size"))
    assert(byW(1L).forall(_.getAs[Double]("weight_r") == 1.0))
    assert(byW.keys.exists(_ > 1L), "no multi-doc cluster — discounting untested")
    // each cluster's total mass is ~1 (exactly size * round6(1/size))
    clusters.groupBy(_._2).foreach { case (cc, ms) =>
      val mass = ms.size * w(sizes(cc))
      assert(math.abs(mass - 1.0) < 1e-3, s"cluster $cc mass $mass")
    }
  }

  test("c83 minhash recall gate equals the driver-side truth; banded is a verified subset") {
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").toLowerCase.split(" ", -1).toVector))
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val shingles = docs.map { case (id, tk) =>
      id -> (if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.toMap
    val ids = docs.map(_._1).sorted
    val truth = (for {
      a <- ids; b <- ids if a < b
      ni = shingles(a).intersect(shingles(b)).size
      if ni >= 1 && r6(ni.toDouble / (shingles(a).size + shingles(b).size - ni)) >= 0.5
    } yield (a, b)).toSet
    val banded = Dedup.c2DedupMinhash(spark, sfDir).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.5)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(banded.subsetOf(truth), "c2 verifies exactly — banded must be a truth subset")
    val got = Dedup.c83MinhashRecall(spark, sfDir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_exact") == truth.size)
    assert(r.getAs[Long]("n_banded") == banded.size)
    assert(r.getAs[Long]("n_hit") == banded.size, "precision is 1.0 by construction")
    assert(r.getAs[Double]("recall_r") ==
      r6(banded.size.toDouble / truth.size))
    info(f"c83: banding recall@0.5 = ${r.getAs[Double]("recall_r")}%.3f " +
      s"(${banded.size}/${truth.size})")
  }

  test("c11 near-dup pairs are symmetric-free and above threshold") {
    val df = Similarity.c11EmbedNearDup(spark, sfDir).collect()
    df.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cosine_r") >= 0.3)
    }
  }

  test("c11 adaptivePlanes parameterization holds from test corpora to 100 PB") {
    import graft.operators.Similarity.adaptivePlanes
    // floor: small/test corpora stay on the historical 6-plane bucketing
    assert(adaptivePlanes(0L) == 6 && adaptivePlanes(1L) == 6 &&
      adaptivePlanes(30000L) == 6)
    // linear region: expected bucket stays within [targetBucket/2, targetBucket]
    // (ceil of the log2 can only OVERSHOOT the plane count)
    Seq(1L << 20, 1L << 25, 1L << 30, (1L << 33) + 7, 1L << 38, 417L * 1000 * 1000 * 1000)
      .foreach { n =>
        val p = adaptivePlanes(n)
        val expectedBucket = n.toDouble / math.pow(2.0, p)
        assert(expectedBucket <= 512.0 + 1e-6, s"n=$n planes=$p bucket=$expectedBucket")
        assert(expectedBucket >= 128.0, s"n=$n planes=$p over-split: $expectedBucket")
      }
    // the r9-flagged >2^33-row region: the old 24-plane cap re-grew
    // buckets linearly past ~8.6e9 rows; the lifted cap keeps the
    // contract out to ~5.6e14 rows (~100 PB of 64-dim vectors)
    assert(adaptivePlanes((1L << 33) + 7) == 25, "just past 2^33 rows needs 25 planes")
    assert(adaptivePlanes(417L * 1000 * 1000 * 1000) == 30,
      "a ~100 TB corpus (4.17e11 rows) lands at 30 planes")
    assert(adaptivePlanes(512L << 40) == 40, "the cap engages exactly at 512*2^40")
    assert(adaptivePlanes(Long.MaxValue) == 40, "cap bounds the key width")
  }

  test("c12 PGM decoder: hand-computed fixture + malformed input rejection") {
    // 2x2 P5, pixels 10, 200, 0, 255 — every feature computed by hand
    val pgm = "P5\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 200.toByte, 0, 255.toByte)
    val f = Multimodal.decodePgm(7L, pgm)
    assert(f.width == 2 && f.height == 2 && f.n_units == 4)
    assert(f.n_bytes == pgm.length.toLong)
    assert(f.v_min == 0 && f.v_max == 255 && f.v_sum == 10 + 200 + 0 + 255)
    intercept[IllegalArgumentException] {
      Multimodal.decodePgm(7L, "P6\n2 2\n255\n".getBytes ++ Array[Byte](1, 2, 3, 4))
    }
    intercept[IllegalArgumentException] { // truncated raster
      Multimodal.decodePgm(7L, "P5\n2 2\n255\n".getBytes ++ Array[Byte](1, 2))
    }
    intercept[IllegalArgumentException] { // 65536*65536 overflows Int w*h
      // to 0 — an empty raster must NOT be accepted with garbage features
      Multimodal.decodePgm(7L, "P5\n65536 65536\n255\n".getBytes)
    }
  }

  test("c51 PNG transcode round-trips the raster through a real compressed codec") {
    for (id <- Seq(0L, 3L, 12L, 33L)) { // image ids (doc_id % 3 == 0)
      val pgm = Multimodal.pgmPayload(id)
      val ref = Multimodal.decodePgm(id, pgm)
      val png = Multimodal.pngTranscode(id, pgm)
      // a genuine PNG container: 8-byte signature
      assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G',
        s"doc $id: output is not a PNG stream")
      val f = Multimodal.decodePng(id, png)
      // lossless: every decoded-pixel statistic survives the
      // deflate → inflate → unfilter loop exactly
      assert(f.width == ref.width && f.height == ref.height &&
        f.n_units == ref.n_units)
      assert(f.v_min == ref.v_min && f.v_max == ref.v_max && f.v_sum == ref.v_sum)
      assert(f.n_bytes == png.length.toLong)
    }
    intercept[IllegalArgumentException] { // non-image bytes must throw
      Multimodal.decodePng(7L, "not a png at all".getBytes("US-ASCII"))
    }
  }

  test("c51 PNG resize is pixel-identical to PGM resize of the same raster") {
    import spark.implicits._
    val ids = Seq(0L, 3L, 12L)
    val pgmRecs = ids.map(id =>
      graft.operators.MediaRecord(id, "image", Multimodal.pgmPayload(id)))
    val pngRecs = ids.map(id => graft.operators.MediaRecord(id, "png",
      Multimodal.pngTranscode(id, Multimodal.pgmPayload(id))))
    val rp = Multimodal.resize(spark.createDataset(pgmRecs), 16, 8).collect()
      .map(r => r.doc_id -> r).toMap
    val rn = Multimodal.resize(spark.createDataset(pngRecs), 16, 8).collect()
      .map(r => r.doc_id -> r).toMap
    ids.foreach { id =>
      assert(rn(id).media_type == "png")
      // the shared nnIdx sampler makes the two paths byte-equal on the
      // decoded raster, not just equal in aggregate stats
      val rawPgm = rp(id).payload.takeRight(16 * 8)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(rn(id).payload))
      assert(img.getWidth == 16 && img.getHeight == 8)
      val rr = img.getRaster
      (0 until 8).foreach(y => (0 until 16).foreach(x =>
        assert((rawPgm(y * 16 + x) & 0xFF) == rr.getSample(x, y, 0),
          s"doc $id pixel ($x,$y) diverges between PGM and PNG resize")))
    }
  }

  test("c88 phash equals the closed-form re-derivation; segments are the hash's 14-bit bands") {
    // driver brute force straight from the generation + sampler formulas
    // (what the DuckDB oracle also derives): one divergence anywhere in
    // the real PGM parse -> nnIdx resample -> dHash chain fails here
    def brute(id: Long): Long = {
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      def px(r: Int, c: Int): Long = {
        val i = (r * h / 8) * w + (c * w / 8)
        (id * 31 + i * 7) % 256
      }
      (0 until 8).flatMap(r => (0 until 7).map(c =>
        if (px(r, c) < px(r, c + 1)) 1L << (r * 7 + c) else 0L)).sum
    }
    val got = Multimodal.c88ImagePhash(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val ph = r.getAs[Long]("phash")
      assert(id % 3 == 0, s"non-image doc $id in the phash frame")
      assert(ph == brute(id), s"doc $id: decode-path phash != closed form")
      assert(ph >= 0L, s"doc $id: 56-bit hash must stay positive")
      (0 until 4).foreach(j =>
        assert(r.getAs[Long](s"seg$j") == ((ph >> (j * 14)) & 0x3FFF),
          s"doc $id seg$j"))
    }
    // the hash must discriminate on this corpus
    assert(got.map(_.getAs[Long]("phash")).distinct.length > 1,
      "all-equal hashes test nothing")
  }

  test("c88 phash is stable under re-encode: PNG exact, JPEG within a small Hamming ball") {
    var worstJpeg = 0L
    for (id <- Seq(0L, 3L, 12L, 33L, 60L, 90L)) {
      val pgm = Multimodal.pgmPayload(id)
      val ref = Multimodal.phashOf(id, "image", pgm)
      // lossless: the PNG transcode decodes to the identical raster, and
      // the shared nnIdx sampler makes the thumbnail — hence the hash —
      // EXACTLY equal (the survivor-pair property a dedup policy relies on)
      val png = Multimodal.phashOf(id, "png", Multimodal.pngTranscode(id, pgm))
      assert(png == ref, s"doc $id: PNG re-encode moved the phash")
      // lossy: JPEG error is bounded (c53's tol), so only near-tie
      // gradient signs can flip — the pair must stay inside the banded
      // join's reach on these noise rasters (the codec's worst case)
      val jpg = Multimodal.phashOf(id, "jpeg",
        Multimodal.rasterTranscode(id, pgm, "jpeg"))
      val ham = java.lang.Long.bitCount(ref ^ jpg).toLong
      worstJpeg = math.max(worstJpeg, ham)
    }
    info(s"c88 worst JPEG re-encode hamming: $worstJpeg / 56 bits")
    assert(worstJpeg <= 20L,
      s"JPEG re-encode moved a phash by $worstJpeg bits — not perceptual")
    // video has no perceptual hash here — refuse loudly (the decode
    // dispatch contract); audio routes to the 1-D delta-sign hash
    intercept[IllegalArgumentException] {
      Multimodal.phashOf(2L, "video", Multimodal.y4mPayload(2L))
    }
    assert(Multimodal.phashOf(1L, "audio", Multimodal.wavPayload(1L)) ==
      Multimodal.audioPhashOf(1L, Multimodal.wavPayload(1L)))
  }

  test("c90 audio phash equals the closed-form re-derivation; c89 pairs are the spec'd surface") {
    // 1-D delta-sign hash straight from the WAV generation + resample
    // formulas (what the DuckDB oracle derives): a desynced RIFF chunk
    // walk or a resampler off-by-one fails here
    def brute(id: Long): Long = {
      val n = (64 + id % 129).toInt
      def s(i: Int): Int = (((id * 131 + i * 17) % 65536) - 32768).toInt
      (0 until 56).map(j =>
        if (s((j * n / 57).toInt) < s(((j + 1) * n / 57).toInt)) 1L << j
        else 0L).sum
    }
    val got = Multimodal.c90AudioPhash(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 3 == 1, s"non-audio doc $id in the audio phash frame")
      assert(r.getAs[Long]("phash") == brute(id),
        s"doc $id: RIFF-parse phash != closed form")
      assert(r.getAs[Long]("phash") >= 0L)
    }
    assert(got.map(_.getAs[Long]("phash")).distinct.length > 1,
      "all-equal audio hashes test nothing")
    // c89 is exactly the spec'd pair surface, now oracled
    val viaGate = Multimodal.c89PhashPairs(spark, sfDir).collect().map(_.toSeq)
    val viaSpec = Multimodal.phashPairs(
      Multimodal.imagePhashFrames(spark, sfDir)).collect().map(_.toSeq)
    assert(viaGate.toSeq == viaSpec.toSeq)
  }

  test("c91 per-frame video phash equals the closed-form re-derivation") {
    // frame f's luma thumbnail from the generation + sampler formulas
    def brute(id: Long, f: Long): Long = {
      val w = (8 + 2 * (id % 5)).toInt; val h = (8 + 2 * (id % 4)).toInt
      def px(r: Int, x: Int): Long = {
        val i = (r * h / 8) * w + (x * w / 8)
        (id * 7 + f * 101 + i * 13) % 256
      }
      (0 until 8).flatMap(r => (0 until 7).map(x =>
        if (px(r, x) < px(r, x + 1)) 1L << (r * 7 + x) else 0L)).sum
    }
    val got = Multimodal.c91VideoPhash(spark, sfDir).collect()
    assert(got.nonEmpty)
    val byDoc = got.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rows) =>
      assert(id % 3 == 2, s"non-video doc $id in the frame phash table")
      // the demux found EVERY frame: indices are 0..frames-1
      assert(rows.map(_.getAs[Long]("frame_idx")).sorted.toSeq ==
        (0L until (3 + id % 6)).toSeq, s"doc $id frame set")
      rows.foreach { r =>
        val f = r.getAs[Long]("frame_idx")
        assert(r.getAs[Long]("phash") == brute(id, f),
          s"doc $id frame $f: demux phash != closed form")
      }
    }
    // frames within one video differ (the +101 phase shifts gradients) —
    // the per-frame hash is not a per-container constant
    assert(byDoc.values.exists(rows =>
      rows.map(_.getAs[Long]("phash")).distinct.length > 1),
      "every video's frames hashed identically — frame_idx is dead weight")
  }

  test("c88 banded pairs are complete at hamming <= 3 and verify exact pixel L1") {
    val frames = Multimodal.imagePhashFrames(spark, sfDir)
    val rows = frames.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("phash"), r.getSeq[Long](2).toVector))
    // brute-force all-pairs truth over the collected hashes (eval-sized:
    // the image slice of the gate corpus)
    val want = (for {
      a <- rows; b <- rows if a._1 < b._1
      ham = java.lang.Long.bitCount(a._2 ^ b._2).toLong if ham <= 3
    } yield (a._1, b._1, ham,
      a._3.zip(b._3).map { case (x, y) => math.abs(x - y) }.sum)).toSet
    val got = Multimodal.phashPairs(frames).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"), r.getAs[Long]("pix_l1"))).toSet
    assert(got == want,
      s"banded-only=${got -- want}, brute-only=${want -- got}")
    info(s"c88 pairs at hamming<=3 on the gate corpus: ${got.size}")
    // the plan must be a banded equi-join, never all-pairs
    val plan = Multimodal.phashPairs(frames).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"phash pairs must band, not cross join:\n$plan")
    // the radius bound is enforced, not documented
    intercept[IllegalArgumentException] { Multimodal.phashPairs(frames, 4) }
  }

  test("r21 uniq-hash memo: pre-distinct input leaves the pair surface identical") {
    val frames = Multimodal.audioPhashFrames(spark, sfDir)
    val live = Multimodal.phashPairs(frames, valueCol = "env",
      l1Name = "env_l1").collect().map(_.toSeq).toSeq
    val viaUniq = Multimodal.phashPairs(frames, valueCol = "env",
      l1Name = "env_l1",
      uniqHashes = Some(frames.select("phash").distinct()))
      .collect().map(_.toSeq).toSeq
    assert(live == viaUniq)
    // the at-rest memo table IS that distinct set, nothing more or less
    val p = Multimodal.uniqHashTablePath(spark, sfDir, "audio",
      Multimodal.audioHashTablePath(spark, sfDir))
    val got = spark.read.parquet(p).collect().map(_.getLong(0)).sorted.toSeq
    val want = frames.select("phash").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }

  test("c102 media clusters equal a driver union-find over the verified pairs") {
    // driver union-find over the collected c89 edge set — the
    // independent re-derivation of the component structure
    val edges = Multimodal.c89PhashPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val imgs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val parent = scala.collection.mutable.Map(imgs.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = imgs.map(i => i -> find(i)).toMap
    val size = label.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val want = imgs.map(i =>
      (i, label(i), size(label(i)), i == label(i))).toSeq
    val got = Multimodal.c102MediaClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got == want, "c102 must equal the driver union-find")
    // decision-surface invariants: every image present, exactly one
    // canonical per cluster and it IS the min id, sizes partition the set
    assert(got.map(_._1) == imgs.toSeq)
    val byCluster = got.groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_._4) == 1, s"cluster $cid canonicals")
      assert(rows.filter(_._4).head._1 == rows.map(_._1).min &&
        cid == rows.map(_._1).min, s"cluster $cid canonical is not min")
      assert(rows.forall(_._3 == rows.size.toLong), s"cluster $cid size")
    }
    assert(byCluster.values.map(_.size).sum == imgs.length)
    // the corpus genuinely exercises both legs
    assert(got.exists(_._3 > 1) && (got.count(_._3 == 1L) >= 0))
    info(s"c102: ${imgs.length} images, ${byCluster.size} clusters, " +
      s"largest ${byCluster.values.map(_.size).max}")
  }

  test("c104 audio clusters equal a driver union-find over the c93 pairs") {
    val edges = Multimodal.c93AudioPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val auds = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val parent = scala.collection.mutable.Map(auds.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = auds.map(i => i -> find(i)).toMap
    val size = label.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val want = auds.map(i => (i, label(i), size(label(i)), i == label(i))).toSeq
    val got = Multimodal.c104AudioClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got == want, "c104 must equal the driver union-find")
    val byCluster = got.groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_._4) == 1 && cid == rows.map(_._1).min,
        s"cluster $cid canonical invariant")
    }
    info(s"c104: ${auds.length} audio docs, ${byCluster.size} clusters")
  }

  test("c105 video-level fold equals a driver brute over the c94 frame pairs") {
    // independent re-derivation: collect c94's verified frame pairs and
    // fold them per ordered video pair with a hand-rolled count
    val fp = Multimodal.c94VideoPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("frame_a"),
        r.getAs[Long]("doc_b"), r.getAs[Long]("frame_b")))
      .filter(t => t._1 != t._3)
    val nFrames = Multimodal.c91VideoPhash(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id")).map { case (d, rs) => d -> rs.length.toLong }
    val want = fp.groupBy(t => (t._1, t._3)).toSeq.sortBy(_._1).map {
      case ((a, b), hits) =>
        val m = math.min(hits.map(_._2).distinct.length,
          hits.map(_._4).distinct.length).toLong
        val (na, nb) = (nFrames(a), nFrames(b))
        val score = m.toDouble / math.min(na, nb)
        (a, b, m, na, nb, score, score >= 0.5)
    }
    val got = Multimodal.c105VideoPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6))).toSeq
    assert(got == want, "c105 must equal the driver fold")
    // decision-surface invariants: ordered pairs, containment bounds,
    // and the corpus genuinely exercises both verdicts
    got.foreach { case (a, b, m, na, nb, s, dup) =>
      assert(a < b, s"pair ($a,$b) must be ordered")
      assert(m >= 1 && m <= math.min(na, nb), s"matched $m out of [$na,$nb]")
      assert(s > 0.0 && s <= 1.0 && dup == (s >= 0.5))
    }
    assert(got.exists(_._7) && got.exists(!_._7),
      "corpus must exercise both is_dup verdicts")
    info(s"c105: ${got.length} video pairs, ${got.count(_._7)} duplicates")
  }

  test("c106 video clusters equal a driver union-find over c105's dup edges") {
    val edges = Multimodal.c105VideoPairs(spark, sfDir)
      .filter(col("is_dup")).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val vids = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 2)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val parent = scala.collection.mutable.Map(vids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = vids.map(i => i -> find(i)).toMap
    val size = label.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val want = vids.map(i => (i, label(i), size(label(i)), i == label(i))).toSeq
    val got = Multimodal.c106VideoClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got == want, "c106 must equal the driver union-find")
    val byCluster = got.groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_._4) == 1 && cid == rows.map(_._1).min,
        s"cluster $cid canonical invariant")
    }
    // video grain ≠ frame grain: sub-threshold pairs must NOT merge, so
    // the surface keeps genuine singletons next to real clusters
    assert(got.exists(_._3 > 1) && got.exists(_._3 == 1L),
      "corpus must exercise both cluster legs at video grain")
    info(s"c106: ${vids.length} videos, ${byCluster.size} clusters, " +
      s"largest ${byCluster.values.map(_.size).max}")
  }

  test("c107 joint verdict equals the composition of the c19 and c102 surfaces") {
    // independent re-derivation: compose the two already-verified
    // decision surfaces driver-side and compare row-for-row
    val text = Dedup.c19DedupCluster(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val media = Multimodal.c102MediaClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val imgs = media.keys.toSeq.sorted
    val want = imgs.map { d =>
      val (tc, mc) = (text(d), media(d))
      (d, tc, mc, tc != d, mc != d, tc != d || mc != d)
    }
    val got = Multimodal.c107JointDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toSeq
    assert(got == want, "c107 must equal the composed surfaces")
    // the row's reason to exist: the two signals DISAGREE on real docs
    // (media-dup under fresh text, or vice versa) — dropping on either
    // alone would over- or under-delete
    assert(got.exists(r => r._4 != r._5),
      "corpus must exercise a text/media disagreement quadrant")
    assert(got.exists(r => !r._6) && got.exists(r => r._6),
      "corpus must exercise both dup_any verdicts")
    val quadrants = got.groupBy(r => (r._4, r._5)).view.mapValues(_.size).toMap
    info(s"c107: ${got.length} both-modality docs, quadrants $quadrants")
  }

  test("c108 recall gate: banding is complete at hamming ≤ 3 — recall exactly 1.0") {
    val got = Multimodal.c108PhashRecall(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got.map(_._1) == Seq("audio", "image", "video"), got.toString)
    got.foreach { case (m, ne, nb, nh, rec) =>
      assert(ne > 0, s"$m must have exact pairs at gate scale")
      assert(ne == nb && nb == nh && rec == 1.0,
        s"$m pigeonhole completeness broke: exact=$ne banded=$nb hit=$nh")
    }
    // the truth side agrees with a driver brute (image modality)
    val hs = Multimodal.imagePhashFrames(spark, sfDir)
      .select("doc_id", "phash").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, pa) <- hs; (b, pb) <- hs
      if a < b && java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield 1).size.toLong
    assert(got.find(_._1 == "image").get._2 == brute,
      s"truth side ${got.find(_._1 == "image").get._2} vs driver brute $brute")
    // the O(n²) truth refuses production-sized hash frames loudly
    val big = spark.range(Multimodal.RecallHashCap + 1)
      .select(col("id").as("doc_id"), lit(0L).as("phash"))
    val e = intercept[IllegalArgumentException] {
      Multimodal.phashRecallOf("synthetic", big)
    }
    assert(e.getMessage.contains("cap"), e.getMessage)
  }

  test("c114 split-path recall gate: incremental banding is complete — recall exactly 1.0") {
    // c108's invariant where the maintenance rows actually ride (r18):
    // the split candidate path must find EVERY new-touching hamming ≤ 3
    // pair — and nothing else
    val got = Multimodal.c114PhashRecallSplit(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got.map(_._1) == Seq("audio", "image", "video"), got.toString)
    got.foreach { case (m, ne, nb, nh, rec) =>
      assert(ne > 0, s"$m must have new-touching pairs at gate scale " +
        "(every recrawl is hamming-0 with its source)")
      assert(ne == nb && nb == nh && rec == 1.0,
        s"$m split completeness broke: exact=$ne banded=$nb hit=$nh")
    }
    // the truth side agrees with a driver brute (image modality): all
    // new-touching pairs of the merged re-keyed set
    val hs = Multimodal.imagePhashFrames(spark, sfDir)
      .select("doc_id", "phash").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val mergedHs = hs ++ hs.collect {
      case (d, p) if d % 5 == 0 => (d + 1000000000000L, p)
    }
    val brute = (for {
      (a, pa) <- mergedHs; (b, pb) <- mergedHs
      if a < b && (a >= 1000000000000L || b >= 1000000000000L) &&
        java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield 1).size.toLong
    assert(got.find(_._1 == "image").get._2 == brute,
      s"truth side ${got.find(_._1 == "image").get._2} vs driver brute $brute")
    // the O(crawl·n) truth refuses production-sized hash frames loudly
    val big = spark.range(Multimodal.RecallHashCap + 1)
      .select(col("id").as("doc_id"), lit(0L).as("phash"))
    val e = intercept[IllegalArgumentException] {
      Multimodal.phashRecallSplitOf("synthetic", big.limit(1), big)
    }
    assert(e.getMessage.contains("cap"), e.getMessage)
  }

  test("c120 sampled recall: truth ≡ driver brute over sampled-touching pairs, " +
    "theorem holds, ci bound exact-rational, corpus-size cap-free") {
    val got = Multimodal.c120RecallSampled(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSeq
    assert(got.map(_._1) == Seq("audio", "image", "video"), got.toString)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sampled(id: Long): Boolean = md5hex(s"c120:$id").substring(0, 2) < "20"
    got.foreach { case (m, nd, ns, nt, nb, nh, rec, ci) =>
      assert(ns > 0 && ns < nd, s"$m sample must be a strict subset at gate scale")
      assert(nt == nb && nb == nh,
        s"$m sampled pigeonhole completeness broke: truth=$nt banded=$nb hit=$nh")
      assert(rec == 1.0, s"$m recall must read the theorem's answer")
      val expCi =
        if (nt == 0) 0.0
        else ((2000000L * math.max(nt - 3, 0) + nt) / (2L * nt)).toDouble / 1e6
      assert(ci == expCi, s"$m ci_low_r $ci != rule-of-three $expCi")
    }
    // the truth side agrees with a driver brute (image modality):
    // every hamming ≤ 3 pair with at least one SAMPLED endpoint
    val hs = Multimodal.imagePhashFrames(spark, sfDir)
      .select("doc_id", "phash").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, pa) <- hs; (b, pb) <- hs
      if a < b && (sampled(a) || sampled(b)) &&
        java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield 1).size.toLong
    val img = got.find(_._1 == "image").get
    assert(img._4 == brute, s"truth side ${img._4} vs driver brute $brute")
    assert(img._2 == hs.length.toLong &&
      img._3 == hs.count(h => sampled(h._1)).toLong)
    // an empty sample is the no-signal row, never a refusal or a NaN
    import spark.implicits._
    val none = Multimodal.phashRecallSampledOf("none",
        hs.toSeq.toDF("doc_id", "phash"), rateHex = "00").collect()(0)
    assert(none.getLong(2) == 0 && none.getLong(3) == 0 &&
      none.getDouble(6) == 1.0 && none.getDouble(7) == 0.0)
    // the cap guards the SAMPLE, not the corpus: an over-cap corpus
    // with a tiny sample passes through (cap-free in corpus size)
    val big = spark.range(Multimodal.RecallHashCap + 1)
      .select(col("id").as("doc_id"),
        xxhash64(col("id")).as("phash")) // ~random 64-bit: truth ~empty
    val bigRow = Multimodal.phashRecallSampledOf("big", big,
      rateHex = "01").collect()(0)
    assert(bigRow.getLong(1) == Multimodal.RecallHashCap + 1)
    assert(bigRow.getLong(2) <= Multimodal.RecallHashCap)
  }

  test("c115 video signature index ≡ a driver re-derivation of sig → min c106 cluster") {
    // the d52 serving artifact, checked against an INDEPENDENT driver
    // md5 of the frame-order signature string (r18)
    val idx = Multimodal.c115VideoSigIndex(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val c106 = Multimodal.c106VideoClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fid = spark.read
      .parquet(Multimodal.videoFidTablePath(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = fid.groupBy(_._1 >> 3).toSeq
      .map { case (vid, frames) =>
        val sig = md5hex(frames
          .map { case (f, ph) => ((f & 7L), ph) }.sortBy(_._1)
          .map { case (fr, ph) => s"$fr:$ph" }.mkString("|"))
        (sig, vid)
      }
      .groupBy(_._1).view
      .mapValues(vs => vs.map(v => c106(v._2)).min).toMap
    assert(idx == want,
      s"idx-only=${(idx.toSet -- want.toSet).take(3)}, " +
        s"want-only=${(want.toSet -- idx.toSet).take(3)}")
    assert(idx.nonEmpty && idx.size == want.size)
  }

  test("c109 incremental video maintenance ≡ full re-cluster through both stages") {
    // the c103 theorem at the COMPOSED surface: frame banding → c105's
    // containment fold → threshold → confined CC must equal the
    // from-scratch two-stage re-cluster of the merged frame hashes
    val corpus = Multimodal.videoFidFrames(spark, sfDir)
      .select("doc_id", "phash") // the r20 fid frames also carry luma
    val crawl = corpus
      .filter(shiftright(col("doc_id"), 3) % 5 === 0)
      .select((col("doc_id") + 8000000000000L).as("doc_id"), col("phash"))
    val frozen = spark.read.parquet(
      Multimodal.videoLabelTablePath(spark, sfDir))
    val maintained = Multimodal
      .incrementalVideoClusters(crawl, corpus, frozen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val merged = corpus.unionAll(crawl)
    val fullEdges = Multimodal.videoEdgesOf(
      Multimodal.phashCandidates(merged.select("doc_id", "phash"), 3)
        .select(col("doc_a").as("u"), col("doc_b").as("v")),
      merged)
    val full = Dedup.connectedComponentsAlternating(fullEdges)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == full,
      s"maintained-only=${(maintained -- full).take(5)}, " +
        s"full-only=${(full -- maintained).take(5)}")
    // a re-keyed byte-identical recrawl is containment-1.0 with its
    // source (every frame matches) → it must land in the source's cluster
    val byNode = maintained.toMap
    val srcVideos = corpus.select(shiftright(col("doc_id"), 3).as("d"))
      .distinct().filter(col("d") % 5 === 0)
      .collect().map(_.getLong(0))
    srcVideos.foreach { src =>
      val re = src + 1000000000000L
      val srcLbl = byNode.getOrElse(src, src)
      assert(byNode.get(re).contains(srcLbl),
        s"recrawl $re must join source $src's cluster $srcLbl")
    }
    // overlapping video ids refuse loudly
    val e = intercept[IllegalArgumentException] {
      Multimodal.incrementalVideoClusters(corpus.limit(1), corpus, frozen)
        .collect()
    }
    assert(e.getMessage.contains("re-key"), e.getMessage)
  }

  test("c103 incremental media maintenance ≡ full re-cluster of the merged hashes") {
    // the c95 theorem at hash grain, proved Spark-side (the gate row's
    // oracle engine-checks it against DuckDB's full re-cluster too)
    val corpus = Multimodal.imagePhashFrames(spark, sfDir)
      .select("doc_id", "phash")
    val crawl = corpus.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000000000L).as("doc_id"), col("phash"))
    val frozen = spark.read.parquet(
      Multimodal.mediaLabelTablePath(spark, sfDir))
    val maintained = Multimodal
      .incrementalMediaClusters(crawl, corpus, frozen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.connectedComponentsAlternating(
        Multimodal.phashCandidates(corpus.unionAll(crawl).select("doc_id", "phash"), 3)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == full,
      s"maintained-only=${(maintained -- full).take(5)}, " +
        s"full-only=${(full -- maintained).take(5)}")
    // every recrawl is byte-identical to its source → hamming 0 → it
    // must land in its source's cluster
    val byNode = maintained.toMap
    corpus.filter(col("doc_id") % 5 === 0).collect().map(_.getLong(0))
      .foreach { src =>
        val re = src + 1000000000000L
        val srcLbl = byNode.getOrElse(src, src)
        assert(byNode.get(re).contains(srcLbl),
          s"recrawl $re must join source $src's cluster $srcLbl")
      }
    // overlapping ids refuse loudly (recrawls arrive re-keyed)
    val e = intercept[IllegalArgumentException] {
      Multimodal.incrementalMediaClusters(corpus.limit(1), corpus, frozen)
        .collect()
    }
    assert(e.getMessage.contains("re-key"), e.getMessage)
  }

  test("c113 incremental audio maintenance ≡ full re-cluster of the merged hashes") {
    // the c103 theorem at AUDIO grain (r18) — the last cell of the
    // 3-modality maintenance matrix: same crawl convention (every 5th
    // doc re-keyed +10¹², hash unchanged), same generic core, proved
    // Spark-side next to the gate row's DuckDB full-re-cluster oracle
    val corpus = spark.read.parquet(
      Multimodal.audioHashTablePath(spark, sfDir))
      .select("doc_id", "phash") // the r20 at-rest table also carries env
    val crawl = corpus.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000000000L).as("doc_id"), col("phash"))
    val frozen = spark.read.parquet(
      Multimodal.audioLabelTablePath(spark, sfDir))
    val maintained = Multimodal
      .incrementalMediaClusters(crawl, corpus, frozen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.connectedComponentsAlternating(
        Multimodal.phashCandidates(
            corpus.unionAll(crawl).select("doc_id", "phash"), 3)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == full,
      s"maintained-only=${(maintained -- full).take(5)}, " +
        s"full-only=${(full -- maintained).take(5)}")
    // byte-identical recrawl → hamming 0 → joins its source's cluster
    val byNode = maintained.toMap
    corpus.filter(col("doc_id") % 5 === 0).collect().map(_.getLong(0))
      .foreach { src =>
        val re = src + 1000000000000L
        val srcLbl = byNode.getOrElse(src, src)
        assert(byNode.get(re).contains(srcLbl),
          s"recrawl $re must join source $src's cluster $srcLbl")
      }
  }

  test("c95 incremental cluster maintenance ≡ full re-cluster on the merged corpus") {
    // the theorem the operator rests on, proved in Spark terms: frozen
    // labels + new-touching edges + CC confined to touched components
    // EQUALS a from-scratch re-cluster of the merged corpus — exactly,
    // not just isomorphic, because labels are canonical component minima
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val merged = docs.unionAll(
      docs.filter(col("doc_id") % 11 === 5 && col("doc_id") % 7 =!= 3)
        .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
    val fullLabels = Dedup.connectedComponentsAlternating(
      Dedup.c2DedupMinhash(spark, sfDir,
          shingleTable = Some(Dedup.shingleRows(merged)))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = spark.read
      .parquet(Dedup.incrClustersTablePath(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == fullLabels,
      s"inc-only=${(inc -- fullLabels).take(5)}, " +
        s"full-only=${(fullLabels -- inc).take(5)}")
    // the merge machinery was exercised: recrawl replays (re-keyed ids)
    // are jaccard-1 bridges, so clustered recrawl nodes must exist
    assert(inc.exists(_._1 >= 1000000000000L),
      "no recrawl node was clustered — the bridges tested nothing")
    // canonical stability: at least one frozen label survives verbatim
    // (untouched components pass through) — and the pass-through is not
    // vacuous (some frozen label was superseded by a merge)
    val base = spark.read
      .parquet(Dedup.incrBaseLabelsPath(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((base intersect inc).nonEmpty,
      "no untouched component survived — confinement untestable here")
    // a node can only ever move to a SMALLER label (merges lower minima)
    val incByNode = inc.toMap
    base.foreach { case (node, lblId) =>
      assert(incByNode(node) <= lblId,
        s"node $node label rose $lblId -> ${incByNode(node)}")
    }
    // overlapping ids refuse loudly (a clash corrupts the shingle union)
    intercept[IllegalArgumentException] {
      Dedup.incrementalClusters(
        docs.limit(5), docs,
        spark.read.parquet(Dedup.incrBaseLabelsPath(spark, sfDir)))
    }
  }

  test("c93 audio pairs are banding-complete at hamming <= 3 with exact envelope L1") {
    val frames = Multimodal.audioPhashFrames(spark, sfDir)
    val rows = frames.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("phash"), r.getSeq[Long](2).toVector))
    rows.foreach { case (id, ph, env) =>
      assert(id % 3 == 1, s"non-audio doc $id in the audio pair frame")
      assert(env.length == 57, s"doc $id: envelope is not the 57-point resample")
      // the hash IS the envelope's delta signs — shared derivation (d29)
      assert(ph == Multimodal.audioPhashOf(id, Multimodal.wavPayload(id)))
    }
    val want = (for {
      a <- rows; b <- rows if a._1 < b._1
      ham = java.lang.Long.bitCount(a._2 ^ b._2).toLong if ham <= 3
    } yield (a._1, b._1, ham,
      a._3.zip(b._3).map { case (x, y) => math.abs(x - y) }.sum)).toSet
    val got = Multimodal.c93AudioPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"), r.getAs[Long]("env_l1"))).toSet
    assert(got == want,
      s"banded-only=${(got -- want).take(3)}, brute-only=${(want -- got).take(3)}")
    assert(got.nonEmpty)
    // the plan must be a banded equi-join, never all-pairs — even though
    // the ramp-shaped synthetic audio makes the OUTPUT a near-complete
    // graph (the corpus's envelopes really are near-identical)
    val plan = Multimodal.c93AudioPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"audio pairs must band, not cross join:\n$plan")
  }

  test("c94 video frame pairs are banding-complete at hamming <= 3 with exact luma L1") {
    import spark.implicits._
    // brute truth at frame grain, straight off the shared demux + sampler
    val frames = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 2).as[Long].collect()
      .flatMap { id =>
        Multimodal.videoFrameThumbs(id, Multimodal.y4mPayload(id)).map {
          case (f, t) => (id, f, Multimodal.dhash56(t),
            t.map(b => (b & 0xFF).toLong).toVector)
        }
      }
    val want = (for {
      a <- frames; b <- frames
      if a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
      ham = java.lang.Long.bitCount(a._3 ^ b._3).toLong if ham <= 3
    } yield (a._1, a._2, b._1, b._2, ham,
      a._4.zip(b._4).map { case (x, y) => math.abs(x - y) }.sum)).toSet
    val got = Multimodal.c94VideoPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("frame_a"),
        r.getAs[Long]("doc_b"), r.getAs[Long]("frame_b"),
        r.getAs[Long]("hamming"), r.getAs[Long]("luma_l1"))).toSet
    assert(got == want,
      s"banded-only=${(got -- want).take(3)}, brute-only=${(want -- got).take(3)}")
    // intra-video pairs are kept (adjacent near-identical frames ARE dup
    // spans) and cross-video matches exist (offset-congruent rasters)
    assert(got.exists { case (da, _, db, _, _, _) => da == db },
      "no intra-video frame pair found — the fid packing dropped them")
    assert(got.exists { case (da, _, db, _, _, _) => da != db },
      "no cross-video frame pair found")
    val plan = Multimodal.c94VideoPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frame pairs must band, not cross join:\n$plan")
  }

  test("c53 JPEG transcode is a real lossy codec loop with bounded error") {
    for (id <- Seq(1L, 4L, 13L, 34L)) { // the c53 subset (doc_id % 3 == 1)
      val pgm = Multimodal.pgmPayload(id)
      val (w, h, off) = Multimodal.pgmGeometry(id, pgm)
      val jpg = Multimodal.rasterTranscode(id, pgm, "jpeg")
      // a genuine JPEG container: SOI marker
      assert((jpg(0) & 0xFF) == 0xFF && (jpg(1) & 0xFF) == 0xD8,
        s"doc $id: output is not a JPEG stream")
      val f = Multimodal.decodeCodecImage(id, jpg, "jpeg")
      // structural facts survive; pixels are NOT pinned (lossy)
      assert(f.width == w && f.height == h && f.n_units == w.toLong * h)
      // measure the true reconstruction error of the JDK codec on this
      // raster family — c53's tol must dominate it with margin
      val img = Multimodal.readImage(id, jpg)
      val raster = img.getRaster
      var maxErr = 0
      for (y <- 0 until h; x <- 0 until w) {
        val e = math.abs(raster.getSample(x, y, 0) - (pgm(off + y * w + x) & 0xFF))
        if (e > maxErr) maxErr = e
      }
      info(s"doc $id: JPEG max |decoded-original| = $maxErr")
      assert(maxErr <= 48, s"doc $id: JPEG error $maxErr exceeds c53's tol")
      assert(maxErr > 0, s"doc $id: zero error would mean the codec is not lossy " +
        "(fine per se, but then the tol contract is untested)")
    }
  }

  test("c53 gate query: structural columns match the closed form, all lossy_ok") {
    val rows = Multimodal.c53ImageCodec(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 3 == 1)
      assert(r.getAs[Long]("width") == 8 + id % 9)
      assert(r.getAs[Long]("height") == 8 + id % 7)
      assert(r.getAs[Long]("n_units") == (8 + id % 9) * (8 + id % 7))
      assert(r.getAs[Long]("n_bands") == 1L)
      assert(r.getAs[Boolean]("lossy_ok"), s"doc $id exceeded the error bound")
    }
  }

  test("c53 JPEG resize re-encodes in the record's own codec") {
    import spark.implicits._
    val ids = Seq(1L, 4L, 13L)
    val recs = ids.map(id => graft.operators.MediaRecord(id, "jpeg",
      Multimodal.rasterTranscode(id, Multimodal.pgmPayload(id), "jpeg")))
    val out = Multimodal.resize(spark.createDataset(recs), 16, 8).collect()
    assert(out.length == ids.length)
    out.foreach { r =>
      assert(r.media_type == "jpeg")
      assert((r.payload(0) & 0xFF) == 0xFF && (r.payload(1) & 0xFF) == 0xD8)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      assert(img.getWidth == 16 && img.getHeight == 8)
    }
  }

  test("codec image decode rejects rasters outside the 8-bit single-band contract") {
    // RGB PNG: band-0-only stats would silently report red-channel values
    val rgb = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(0, 0, 0x123456)
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(7L, Multimodal.writeImage(7L, rgb, "png"))
    }
    // 16-bit grayscale PNG: a 255-capped v_min would lie about the raster
    val deep = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    deep.getRaster.setSample(0, 0, 0, 40000)
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(7L, Multimodal.writeImage(7L, deep, "png"))
    }
  }

  test("resize rejects unknown media_type with a clear message (not a Y4M parse error)") {
    import spark.implicits._
    val recs = Seq(graft.operators.MediaRecord(5L, "hologram", Array[Byte](1, 2, 3)))
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.resize(spark.createDataset(recs), 8, 8).collect()
    }
    assert(e.getMessage.contains("unknown media_type") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown media_type")))
  }

  test("c54 pcaComponents: matches brute-force eigenvectors, orthogonal, partition-invariant") {
    import graft.operators.Similarity
    val embs = Tables.embeddings(spark, sfDir)
    // the same fixed-point grid the operator iterates on (HALF_UP — NOT
    // math.round, which rounds negative halves toward +inf)
    val X = embs.collect().map(_.getSeq[Float](1).map(v =>
      new java.math.BigDecimal(v.toDouble * 10000)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue).toArray)
    val dim = X.head.length
    val G = Array.tabulate(dim, dim)((i, j) => X.map(r => r(i) * r(j)).sum)
    def dotd(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def bruteTop(deflate: Seq[Array[Double]]): Array[Double] = {
      var v = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0 else -1.0)
      for (_ <- 1 to 1000) {
        val w = Array.tabulate(dim)(i => (0 until dim).map(j => G(i)(j) * v(j)).sum)
        var x = w
        deflate.foreach { u =>
          val c = dotd(x, u) / dotd(u, u)
          x = x.zip(u).map { case (xi, ui) => xi - c * ui }
        }
        val n = math.sqrt(dotd(x, x))
        v = x.map(_ / n)
      }
      v
    }
    val e0 = bruteTop(Nil)
    val e1 = bruteTop(Seq(e0))
    val got = Similarity.pcaComponents(spark, sfDir)
      .map(_.map(_.toDouble).toArray)
    def cosAbs(a: Array[Double], b: Array[Double]): Double =
      math.abs(dotd(a, b) / math.sqrt(dotd(a, a) * dotd(b, b)))
    info(f"comp0 vs eig0 |cos| = ${cosAbs(got(0), e0)}%.6f")
    info(f"comp1 vs eig1 |cos| = ${cosAbs(got(1), e1)}%.6f")
    info(f"comp0 vs comp1 |cos| = ${cosAbs(got(0), got(1))}%.6f")
    // both sides iterate (numerically identical) Gram matrices to
    // convergence, so directions must agree tightly despite the narrow
    // eigen-gap; the ±10^4 grid rounding bounds the residual
    assert(cosAbs(got(0), e0) >= 0.9999, "component 0 diverges from the top eigenvector")
    assert(cosAbs(got(1), e1) >= 0.999, "component 1 diverges from the second eigenvector")
    assert(cosAbs(got(0), got(1)) <= 0.001, "components are not near-orthogonal")
    // exactness claim: the artifact is a pure function of the data —
    // identical Long grids under any partitioning
    assert(Similarity.pcaComponentsOn(embs.repartition(7),
      Similarity.C54K, Similarity.C54Rounds) == got.toSeq.map(_.map(_.toLong).toIndexedSeq))
  }

  test("c54 degenerate inputs fail loudly") {
    import spark.implicits._
    import graft.operators.Similarity
    // rank-1 corpus: component 2 lies entirely in the found span
    val rank1 = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(2.0f, 4.0f)),
      (3L, Array(0.5f, 1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaComponentsOn(rank1, 2, 3)
    }
    assert(e.getMessage.contains("degenerated"))
    intercept[IllegalArgumentException] { // k > dim
      Similarity.pcaComponentsOn(rank1, 3, 1)
    }
  }

  test("c12 WAV decoder: hand-computed fixture + malformed input rejection") {
    // 3 samples: -32768, 0, 32767
    val bb = java.nio.ByteBuffer.allocate(50).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(42).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes).putInt(6)
      .putShort(Short.MinValue).putShort(0).putShort(Short.MaxValue)
    val f = Multimodal.decodeWav(9L, bb.array())
    assert(f.width == 8000 && f.height == 16 && f.n_units == 3)
    assert(f.v_min == -32768 && f.v_max == 32767 && f.v_sum == -1)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(9L, "JUNK".getBytes ++ new Array[Byte](46))
    }
    intercept[IllegalArgumentException] {
      // a negative chunk size used to rewind the buffer to the chunk
      // header it just read — an INFINITE LOOP, not an error; must throw
      val evil = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      evil.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes)
        .put("JUNK".getBytes).putInt(-8)
      Multimodal.decodeWav(9L, evil.array())
    }
    intercept[IllegalArgumentException] { // fmt chunk shorter than 16 bytes
      val evil = java.nio.ByteBuffer.allocate(22).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      evil.put("RIFF".getBytes).putInt(14).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(2).putShort(1)
      Multimodal.decodeWav(9L, evil.array())
    }
  }

  test("c12 decode recovers the generation formulas exactly (real binary parse)") {
    for (id <- Seq(0L, 3L, 12L)) { // image ids
      val f = Multimodal.decodePgm(id, Multimodal.pgmPayload(id))
      val (w, h) = Multimodal.imageDims(id)
      val px = (0 until w * h).map(i => (id * 31 + i * 7) % 256)
      assert(f.width == w && f.height == h && f.n_units == w * h)
      assert(f.v_min == px.min && f.v_max == px.max && f.v_sum == px.sum)
    }
    for (id <- Seq(1L, 4L, 13L)) { // audio ids
      val f = Multimodal.decodeWav(id, Multimodal.wavPayload(id))
      val n = Multimodal.audioSampleCount(id)
      val s = (0 until n).map(i => ((id * 131 + i * 17) % 65536) - 32768)
      assert(f.width == 8000 && f.height == 16 && f.n_units == n)
      assert(f.v_min == s.min && f.v_max == s.max && f.v_sum == s.sum)
      assert(f.n_bytes == 44 + 2L * n)
    }
    for (id <- Seq(2L, 5L, 14L)) { // video ids
      val f = Multimodal.decodeY4m(id, Multimodal.y4mPayload(id))
      val (w, h) = Multimodal.videoDims(id)
      val frames = Multimodal.videoFrameCount(id)
      val fs = Multimodal.y4mFrameSize(w, h)
      val bytes = for (fr <- 0 until frames; i <- 0 until fs)
        yield (id * 7 + fr * 101 + i * 13) % 256
      assert(f.width == w && f.height == h && f.n_units == frames)
      assert(f.v_min == bytes.min && f.v_max == bytes.max && f.v_sum == bytes.sum)
      assert(f.n_bytes == Multimodal.y4mPayload(id).length)
    }
  }

  test("Y4M decoder rejects malformed streams instead of mis-parsing") {
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodeY4m(9L, "JUNK W8 H8\nFRAME\n".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // odd dims under 4:2:0
      Multimodal.decodeY4m(9L,
        ("YUV4MPEG2 W9 H8 C420jpeg\nFRAME\n" + "x" * 108).getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // truncated raster
      val good = Multimodal.y4mPayload(2L)
      Multimodal.decodeY4m(2L, java.util.Arrays.copyOf(good, good.length - 1))
    }
    intercept[IllegalArgumentException] { // garbage where FRAME marker belongs
      val good = Multimodal.y4mPayload(2L)
      val evil = good.clone()
      val headerEnd = good.indexOf('\n'.toByte) + 1
      evil(headerEnd) = 'X'.toByte
      Multimodal.decodeY4m(2L, evil)
    }
    // frame parameters after the marker are legal Y4M and must parse
    val (w, h) = Multimodal.videoDims(2L)
    val fs = Multimodal.y4mFrameSize(w, h)
    val withParams = (s"YUV4MPEG2 W$w H$h C420jpeg\nFRAME Xtag\n"
      .getBytes("US-ASCII") ++ Array.fill(fs)(7.toByte))
    val f = Multimodal.decodeY4m(2L, withParams)
    assert(f.n_units == 1 && f.v_min == 7 && f.v_max == 7)
    // a header WITHOUT a C parameter is legal Y4M (defaults to 4:2:0)
    val noChroma = (s"YUV4MPEG2 W$w H$h F25:1\nFRAME\n"
      .getBytes("US-ASCII") ++ Array.fill(fs)(9.toByte))
    val g = Multimodal.decodeY4m(2L, noChroma)
    assert(g.width == w && g.n_units == 1 && g.v_max == 9)
  }

  test("WAV chunk walk honors RIFF pad bytes on odd-sized chunks") {
    // an odd-sized unknown chunk (padded to even, per RIFF) before fmt:
    // without the pad skip, every subsequent chunk header desyncs
    val tail = Multimodal.wavPayload(1L).drop(12) // fmt+data chunks
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 4 + tail.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(4 + 8 + 4 + tail.length).put("WAVE".getBytes)
    bb.put("LIST".getBytes).putInt(3).put(Array[Byte](1, 2, 3, 0)) // 3 + pad
    bb.put(tail)
    val withOdd = bb.array()
    val f = Multimodal.decodeWav(1L, withOdd)
    assert(f.n_units == Multimodal.audioSampleCount(1L),
      "odd chunk + pad must not desync the data chunk")
    val (rate, samples) = Multimodal.wavSamples(1L, withOdd)
    assert(rate == 8000 && samples.length == Multimodal.audioSampleCount(1L))
  }

  test("frameSample validates markers and truncation like decodeY4m") {
    import spark.implicits._
    def ds(payload: Array[Byte]) =
      Seq(MediaRecord(2L, "video", payload)).toDS()
    val good = Multimodal.y4mPayload(2L)
    // corrupted FRAME marker must throw, not emit shifted frames
    val evil = good.clone()
    evil(good.indexOf('\n'.toByte) + 1) = 'X'.toByte
    val e1 = intercept[org.apache.spark.SparkException] {
      Multimodal.frameSample(ds(evil), everyNth = 1).collect()
    }
    assert(e1.getMessage.contains("FRAME marker") ||
      String.valueOf(e1.getCause).contains("FRAME marker"))
    // truncated final frame must throw, not silently drop it
    val e2 = intercept[org.apache.spark.SparkException] {
      Multimodal.frameSample(
        ds(java.util.Arrays.copyOf(good, good.length - 1)), everyNth = 1).collect()
    }
    assert(e2.getMessage.contains("truncated") ||
      String.valueOf(e2.getCause).contains("truncated"))
  }

  test("resize rejects overflow targets; nearest-cells rejects maxProbe < 1") {
    import spark.implicits._
    val one = Seq(MediaRecord(0L, "image", Multimodal.pgmPayload(0L))).toDS()
    intercept[IllegalArgumentException] {
      Multimodal.resize(one, 65536, 65536)
    }
    intercept[IllegalArgumentException] {
      graft.functions.VectorFunctions.nearestCells(
        org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("cb"), 0)
    }
  }

  test("c87 media card folds exactly the c12 decoded frame") {
    import graft.operators.Multimodal
    val rows = Multimodal.c12Multimodal(spark, sfDir).collect()
    val expected = rows.groupBy(_.getAs[String]("media_type")).map { case (m, rs) =>
      val nd = rs.length.toLong
      val tb = rs.map(_.getAs[Long]("n_bytes")).sum
      m -> ((nd, tb, rs.map(_.getAs[Long]("n_units")).sum,
        rs.map(_.getAs[Long]("v_min")).min, rs.map(_.getAs[Long]("v_max")).max,
        rs.map(_.getAs[Long]("v_sum")).sum,
        ((2 * tb * 1000000L + nd) / (2 * nd)).toDouble / 1e6))
    }
    val got = Multimodal.c87MediaCard(spark, sfDir).collect().map { r =>
      r.getAs[String]("media_type") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_bytes"),
          r.getAs[Long]("total_units"), r.getAs[Long]("v_min"),
          r.getAs[Long]("v_max"), r.getAs[Long]("v_sum"),
          r.getAs[Double]("avg_bytes_r")))
    }.toMap
    assert(got == expected)
    assert(got.keySet == Set("image", "audio", "video"),
      "every modality must appear in the card")
  }

  test("c12 multimodal features decode from real PGM/WAV payloads") {
    val feats = Multimodal.c12Multimodal(spark, sfDir).collect()
    assert(feats.length == Tables.documents(spark, sfDir).count())
    feats.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      r.getAs[String]("media_type") match {
        case "image" =>
          val (w, h) = Multimodal.imageDims(id)
          assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
          assert(r.getAs[Long]("v_min") >= 0 && r.getAs[Long]("v_max") <= 255)
        case "audio" =>
          assert(r.getAs[Long]("width") == 8000 && r.getAs[Long]("height") == 16)
          assert(r.getAs[Long]("n_units") == Multimodal.audioSampleCount(id))
        case "video" =>
          val (w, h) = Multimodal.videoDims(id)
          assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
          assert(r.getAs[Long]("n_units") == Multimodal.videoFrameCount(id))
        case other => fail(s"unexpected media_type $other")
      }
    }
  }

  test("c12 real resize re-encodes valid containers; Y4M frame sampling keeps its contract") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val resized = Multimodal.resize(media, 16, 8).collect()
    assert(resized.nonEmpty)
    // every output is a VALID container of the target geometry — the
    // decoders (which validate magic/dims/boundaries) are the verifier
    resized.foreach { r =>
      r.media_type match {
        case "image" =>
          val f = Multimodal.decodePgm(r.doc_id, r.payload)
          assert(f.width == 16 && f.height == 8 && f.n_units == 128)
          // spot-check nearest-neighbor: corner pixels map to source corners
          val (w0, h0) = Multimodal.imageDims(r.doc_id)
          val src = Multimodal.pgmPayload(r.doc_id)
          val (_, _, off) = Multimodal.pgmGeometry(r.doc_id, src)
          val outOff = r.payload.length - 128
          assert(r.payload(outOff) == src(off), "top-left pixel preserved")
          assert(r.payload(outOff + 7 * 16 + 15) ==
            src(off + (7 * h0 / 8) * w0 + (15 * w0 / 16)), "bottom-right maps by floor rule")
        case "audio" =>
          val f = Multimodal.decodeWav(r.doc_id, r.payload)
          assert(f.n_units == 128 && f.width == 8000 && f.height == 16,
            "resampled WAV keeps rate/depth, carries 16*8 samples")
        case "video" =>
          val f = Multimodal.decodeY4m(r.doc_id, r.payload)
          assert(f.width == 16 && f.height == 8)
          assert(f.n_units == Multimodal.videoFrameCount(r.doc_id),
            "resize preserves the frame count")
        case other => fail(s"unexpected media_type $other")
      }
    }
    val frames = Multimodal.frameSample(media, everyNth = 2).collect()
    assert(frames.nonEmpty)
    val videoIds = media.filter(_.media_type == "video").collect().map(_.doc_id).toSet
    assert(frames.map(_.doc_id).toSet == videoIds, "all and only video docs sampled")
    frames.foreach { f =>
      val (w, h) = Multimodal.videoDims(f.doc_id)
      val fs = Multimodal.y4mFrameSize(w, h)
      assert(f.frame_idx % 2 == 0, "only every 2nd frame kept")
      assert(f.frame_bytes.length == fs, "a sampled frame is one full 4:2:0 raster")
      // the sampled raster must be the REAL frame: recompute from formula
      (0 until fs).foreach { i =>
        assert((f.frame_bytes(i) & 0xFF) ==
          (f.doc_id * 7 + f.frame_idx * 101 + i * 13) % 256,
          s"doc ${f.doc_id} frame ${f.frame_idx} byte $i mismatches")
      }
    }
    // every video doc yields ceil(frames/2) sampled frames
    val byDoc = frames.groupBy(_.doc_id)
    byDoc.foreach { case (id, fr) =>
      assert(fr.length == (Multimodal.videoFrameCount(id) + 1) / 2)
    }
  }

  test("a3 trip lists honor the reference's fixed lengths") {
    import org.apache.spark.sql.functions.{col => c}
    val o = Tables.orders(spark, sfDir).limit(50)
    val odo = floor(c("o_totalprice")).cast("bigint")
    val json = o.select(to_json(struct(
      date_format(c("o_orderdate"), "yyyy-MM-dd").as("timestamp"),
      (c("o_custkey") % 24).as("timezone"),
      c("o_orderkey").as("vin"), odo.as("odometer"),
      (c("o_totalprice") > 1000.0).as("hypermiling"),
      (odo % 120).as("avgspeed"),
      array((0 until 12).map(i => (c("o_orderkey") + i) % 60): _*).as("sec_in_band"),
      array((0 until 24).map(i => (c("o_custkey") + i) % 100): _*).as("miles_in_time_range"),
      array((0 until 12).map(i => (odo + i) % 50): _*).as("const_speed_miles_in_band"),
      array((0 until 12).map(i => (odo + i * 2) % 50): _*).as("vary_speed_miles_in_band"),
      array((0 until 10).map(i => (c("o_orderkey") * 2 + i) % 60): _*).as("sec_decel"),
      array((0 until 10).map(i => (c("o_orderkey") * 3 + i) % 60): _*).as("sec_accel"),
      array((0 until 6).map(i => (c("o_custkey") + i) % 10): _*).as("braking"),
      array((0 until 6).map(i => (c("o_custkey") + i * 2) % 10): _*).as("accel"),
      (c("o_orderkey") % 2 === 0).as("orientation"),
      array((0 until 13).map(i => (odo + i) % 30): _*).as("small_speed_var"),
      array((0 until 13).map(i => (odo + i * 3) % 30): _*).as("large_speed_var"),
      (c("o_custkey") % 10).as("accel_decel"),
      (odo % 100).as("speed_changes"))).as("json"))
    val rec = json.select(
      graft.sources.JsonConvert.parseJsonStrict(c("json"), graft.sources.JsonConvert.Schemas.trip).as("r"))
    graft.sources.JsonConvert.Schemas.tripListLengths.foreach { case (field, len) =>
      assert(rec.filter(size(c(s"r.$field")) =!= len).count() == 0, s"$field length $len")
    }
  }

  test("c19 connected components: min-label propagation finds exact components") {
    import spark.implicits._
    // path 1-2-3 (diameter 2, needs >1 iteration), pair 10-11, singleton 99
    // absent (nodes not in edges don't appear in the output)
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("u", "v")
    val got = MinLabelCC(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("alternating CC: 10k-node adversarial chain converges in O(log n) rounds") {
    import spark.implicits._
    // a path graph is min-label's worst case (needs diameter = n-1
    // iterations); large-star/small-star must do it in ~log2(n) rounds
    val n = 10000L
    val edges = spark.range(1, n).select(
      col("id").as("u"), (col("id") - 1).as("v"))
    val (labels, rounds) = Dedup.connectedComponentsAlternating(edges)
    info(s"chain of $n nodes converged in $rounds rounds")
    assert(rounds <= 25, s"expected O(log n) rounds, got $rounds")
    assert(rounds == 15, s"expected 15 rounds on this chain, got $rounds")
    val got = labels.collect()
    assert(got.length == n)
    assert(got.forall(_.getAs[Long]("cluster_id") == 0L),
      "every chain node must label to the minimum (0)")
  }

  test("alternating CC ≡ min-label CC on the c19 near-dup pair graph") {
    val pairs = Dedup.c2DedupMinhash(spark, sfDir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val minLabel = MinLabelCC(pairs)
    val (alt, rounds) = Dedup.connectedComponentsAlternating(pairs)
    val altMap = alt.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id")).toMap
    info(s"c19 corpus: ${minLabel.size} nodes, alternation took $rounds rounds")
    assert(minLabel.nonEmpty, "corpus must produce near-dup components")
    assert(altMap == minLabel, "the two algorithms must agree exactly")
  }

  test("alternating CC throws (not silent partial labels) when maxIter is exceeded") {
    import spark.implicits._
    // a path is no star, so round 1 rewrites it and convergence needs a
    // second, unchanged round
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponentsAlternating(edges, maxIter = 1)._1.collect()
    }
    assert(ex.getMessage.contains("not converged"))
  }

  /** Node → minimum node of its component, by a local union-find over the
    * edges that are not self-loops (a node seen only in a self-loop is in
    * no edge after the loop filter, so it gets no label). */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val links = edges.filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map[Long, Long]()
    links.foreach { case (a, b) => parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b) }
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    links.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("alternating CC equals a union-find on a star, a clique, " +
    "duplicate and reversed edges, self-loops and no edges") {
    import spark.implicits._
    val star = ((1L to 6L) ++ (8L to 20L)).map(l => (7L, l))
    val clique = {
      val ids = Seq(40L, 31L, 57L, 33L, 90L, 35L, 36L, 72L, 38L)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    val path = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (11L, 10L))
    val dupReversed = path ++ path ++ path.map(_.swap) ++ path.map(_.swap)
    val selfLoops = path ++ Seq((3L, 3L), (5L, 5L), (50L, 50L), (11L, 11L))
    val graphs = Seq("star" -> star, "clique" -> clique,
      "two cliques and a path" -> (clique ++ clique.map { case (a, b) =>
        (a + 1000L, b + 1000L) } ++ path),
      "duplicate and reversed edges" -> dupReversed,
      "self-loops" -> selfLoops, "no edges" -> Seq.empty[(Long, Long)])
    graphs.foreach { case (name, es) =>
      val (labels, rounds) = Dedup.connectedComponentsAlternating(es.toDF("u", "v"))
      val got = labels.as[(Long, Long)].collect().toMap
      val want = unionFindLabels(es)
      info(s"$name: ${want.size} nodes, $rounds rounds")
      assert(got == want, s"$name: alternating CC diverges from the union-find")
      assert(labels.count() == got.size, s"$name: one label row per node")
      if (name == "self-loops")
        assert(!got.contains(50L), "a node seen only in a self-loop gets no label")
    }
  }

  test("c26 passage dedup: counts reconcile, untouched docs reconstruct to their own text") {
    import spark.implicits._
    val out = Dedup.c26PassageDedup(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), md5(col("text")).as("text_md5"),
        size(split(col("text"), " ")).as("n_tok"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_md5"), r.getAs[Int]("n_tok"))).toMap
    assert(out.length == docs.size, "one row per document")
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (textMd5, nTok) = docs(id)
      val nP = r.getAs[Long]("n_passages")
      assert(nP == (nTok + 9) / 10, s"doc $id: ceil(tokens/10) passages")
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") == nP,
        s"doc $id: kept + dropped = total")
      if (r.getAs[Long]("n_dropped") == 0)
        // no passage owned elsewhere ⇒ reconstruction IS the original text
        assert(r.getAs[String]("kept_md5") == textMd5,
          s"doc $id: untouched doc must reconstruct byte-identically")
      if (r.getAs[Long]("n_kept") == 0)
        assert(r.getAs[String]("kept_md5") == null,
          s"doc $id: fully-redundant doc reconstructs to NULL")
    }
    // the corpus contains exact duplicates, so some doc must be fully
    // redundant (every passage owned by its smaller twin)
    assert(out.exists(_.getAs[Long]("n_kept") == 0),
      "exact-dup corpus must produce at least one fully-dropped doc")
    assert(out.exists(r => r.getAs[Long]("n_dropped") == 0 && r.getAs[Long]("n_kept") > 0),
      "most docs keep all their passages")
  }

  test("c19 dedup clusters: pairs land in one cluster, canonicals are minima") {
    val out = Dedup.c19DedupCluster(spark, sfDir).collect()
    val cluster = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cluster.size == Tables.documents(spark, sfDir).count(),
      "every document gets a cluster row")
    // every ≥0.5-jaccard pair must share a cluster
    val pairs = Dedup.c2DedupMinhash(spark, sfDir)
      .filter(col("jaccard") >= 0.5).collect()
    assert(pairs.nonEmpty, "corpus has near-dup pairs to cluster")
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    // cluster_id is the min member; is_canonical marks exactly that member
    out.foreach { r =>
      assert(r.getAs[Long]("cluster_id") <= r.getAs[Long]("doc_id"))
      assert(r.getAs[Boolean]("is_canonical") ==
        (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id")))
    }
  }

  test("c43 semantic dedup re-derives from raw embeddings: assignment, dominance, keep set") {
    import graft.functions.NearestCells.round6
    val embs = Tables.embeddings(spark, sfDir).collect().map { r =>
      (r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray,
        r.getAs[Int]("label"))
    }
    // label codebook: per-label fixed-point means (the c15 contract)
    val centroids = embs.groupBy(_._3).map { case (label, rows) =>
      val dim = rows.head._2.length
      val sums = Array.fill(dim)(0L)
      rows.foreach { case (_, v, _) =>
        var i = 0
        while (i < dim) {
          sums(i) += java.math.BigDecimal.valueOf(v(i) * 10000)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
          i += 1
        }
      }
      label -> sums.map(s => s.toDouble / 10000.0 / rows.length)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // assignment: rounded centroid-cosine desc, ties to the lower cell
    val assigned = embs.map { case (id, v, _) =>
      val (score, cell) = centroids.toSeq
        .map { case (c, cv) => (round6(cos(v, cv)), c) }
        .minBy { case (s, c) => (-s, c) }
      (id, v, cell, score)
    }
    // dominance: an above-threshold cell-mate with lower (ccos, vec_id)
    val byCell = assigned.groupBy(_._3)
    val expected = assigned.map { case (id, v, cell, ccos) =>
      val dominated = byCell(cell).exists { case (rid, rv, _, rccos) =>
        rid != id && round6(cos(v, rv)) >= 0.35 &&
          (rccos < ccos || (rccos == ccos && rid < id))
      }
      id -> ((cell, ccos, !dominated))
    }.toMap
    val rows = Similarity.c43SemanticDedup(spark, sfDir).collect()
    assert(rows.length == embs.length, "one verdict row per vector")
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val (cell, ccos, keep) = expected(id)
      assert(r.getAs[Int]("cell") == cell, s"cell of vec $id")
      assert(r.getAs[Double]("cent_r") == ccos, s"cent_r of vec $id")
      assert(r.getAs[Boolean]("keep") == keep, s"keep of vec $id")
    }
    // the threshold must discriminate on this corpus
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("c43 dominance: zero-norm vectors pass through keep=true and never drop finite mates") {
    import spark.implicits._
    // one cell holding two identical finite vectors (a true dup pair)
    // and one all-zero vector (NaN cosine against everything)
    val assigned = Seq(
      (1L, Seq(1.0, 0.0), 7, 0.9),
      (2L, Seq(1.0, 0.0), 7, 0.8),
      (3L, Seq(0.0, 0.0), 7, Double.NaN))
      .toDF("vec_id", "v", "cell", "ccos")
    val out = graft.operators.Similarity.dominanceVerdicts(assigned, 0.35)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep"))
      .toMap
    // vec 1 (closer to centroid) drops against vec 2; the zero vector is
    // non-comparable: kept, and it never dominates the finite pair
    assert(out == Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("c45 embedding moments re-derive from raw embeddings in exact fixed point") {
    val embs = Tables.embeddings(spark, sfDir).collect().map { r =>
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }
    def fx(x: Double): Long = java.math.BigDecimal.valueOf(x * 10000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dim = embs.head.length
    val rows = Similarity.c45EmbedMoments(spark, sfDir).collect()
    assert(rows.length == dim)
    rows.zipWithIndex.foreach { case (r, pos) =>
      val vs = embs.map(v => fx(v(pos)))
      val n = vs.length.toLong
      val sum = vs.sum
      val sumSq = vs.map(v => v * v).sum
      assert(r.getAs[Int]("pos") == pos)
      assert(r.getAs[Long]("n") == n && r.getAs[Long]("sum_v4") == sum &&
        r.getAs[String]("sum_sq4").toLong == sumSq,
        s"integer sums at dim $pos")
      assert(r.getAs[Long]("min_v4") == vs.min && r.getAs[Long]("max_v4") == vs.max)
      val mean = sum.toDouble / 10000.0 / n
      assert(r.getAs[Double]("mean_r") ==
        graft.functions.NearestCells.round6(mean), s"mean at dim $pos")
      val varr = sumSq.toDouble / 1e8 / n - mean * mean
      assert(r.getAs[Double]("var_r") ==
        graft.functions.NearestCells.round6(varr), s"var at dim $pos")
      assert(r.getAs[Double]("var_r") >= 0.0)
    }
  }

  test("c46 power-iteration step re-derives exactly; max-normalized component hits 1") {
    val embs = Tables.embeddings(spark, sfDir).collect().map { r =>
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }
    def fx(x: Double): Long = java.math.BigDecimal.valueOf(x * 10000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dim = embs.head.length
    val x4 = embs.map(_.map(fx))
    val s = x4.map(v => v.zipWithIndex.map { case (x, i) =>
      if (i % 2 == 0) x else -x }.sum)
    val num = (0 until dim).map(p => x4.indices.map(i => x4(i)(p) * s(i)).sum)
    val maxAbs = num.map(math.abs).max
    val rows = Similarity.c46PowerIter(spark, sfDir).collect()
    assert(rows.length == dim)
    rows.zipWithIndex.foreach { case (r, pos) =>
      assert(r.getAs[Int]("pos") == pos)
      assert(r.getAs[String]("num").toLong == num(pos),
        s"exact numerator at dim $pos")
      assert(r.getAs[Double]("r") ==
        graft.functions.NearestCells.round6(num(pos).toDouble / maxAbs))
    }
    // the normalizer is the max |component|: exactly that component is ±1
    assert(rows.map(r => math.abs(r.getAs[Double]("r"))).max == 1.0)
  }

  test("c47 whitening re-derives exactly from c45's moments; z is standardized") {
    import graft.functions.NearestCells.round6
    val embs = Tables.embeddings(spark, sfDir).collect().map { r =>
      (r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
    }
    def fx(x: Double): Long = java.math.BigDecimal.valueOf(x * 10000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dim = embs.head._2.length
    val n = embs.length
    val stats = (0 until dim).map { p =>
      val vs = embs.map { case (_, v) => fx(v(p)) }
      val mean = vs.sum.toDouble / 10000.0 / n
      val sd = math.sqrt(vs.map(x => x * x).sum.toDouble / 1e8 / n - mean * mean)
      (mean, sd)
    }
    val expected = embs.flatMap { case (id, v) =>
      (0 until dim).map { p =>
        (id, p) -> round6((v(p) - stats(p)._1) / stats(p)._2)
      }
    }.toMap
    val rows = Similarity.c47Whiten(spark, sfDir).collect()
    assert(rows.length == n * dim)
    rows.foreach { r =>
      val k = (r.getAs[Long]("vec_id"), r.getAs[Int]("pos"))
      assert(r.getAs[Double]("z_r") == expected(k), s"z at $k")
    }
    // semantic: each whitened dim is ~N(0,1) — mean ~0, unit variance
    (0 until dim).foreach { p =>
      val zs = embs.map { case (id, _) => expected((id, p)) }
      val zm = zs.sum / n
      val zv = zs.map(z => z * z).sum / n - zm * zm
      // moments are computed from fixed-point 1e-4 coordinates while z
      // uses the raw doubles, so the residual mean is O(1e-5), not 0
      assert(math.abs(zm) < 1e-4, s"whitened mean at dim $p")
      assert(math.abs(zv - 1.0) < 1e-2, s"whitened variance at dim $p")
    }
  }

  test("powerIterate re-derives brute-force over two rounds and is exactly repeatable") {
    val embs = Tables.embeddings(spark, sfDir).collect().map { r =>
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }
    def fx(x: Double): Long = java.math.BigDecimal.valueOf(x * 10000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val x4 = embs.map(_.map(fx))
    val dim = x4.head.length
    def step(v: IndexedSeq[Long]): IndexedSeq[Long] = {
      val s = x4.map(row => row.indices.map(j => BigInt(row(j)) * v(j)).sum)
      val num = (0 until dim).map(p =>
        x4.indices.map(i => BigInt(x4(i)(p)) * s(i)).sum)
      val maxAbs = num.map(_.abs).max
      num.map { n =>
        new java.math.BigDecimal(n.bigInteger)
          .multiply(java.math.BigDecimal.valueOf(10000L))
          .divide(new java.math.BigDecimal(maxAbs.bigInteger), 0,
            java.math.RoundingMode.HALF_UP).longValueExact()
      }
    }
    val v0 = (0 until dim).map(i => if (i % 2 == 0) 10000L else -10000L)
    val expected2 = step(step(v0))
    val got2 = Similarity.powerIterate(spark, sfDir, rounds = 2).collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Long]("v4")).toMap
    assert((0 until dim).map(got2) == expected2,
      "two engine rounds must equal the brute-force trajectory")
    // the trajectory is exactly repeatable (integer artifacts, no drift)
    val again = Similarity.powerIterate(spark, sfDir, rounds = 2).collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Long]("v4")).toMap
    assert(again == got2)
  }

  test("c13 sessionize: session event counts sum to total events; gaps split sessions") {
    val ev = Tables.events(spark, sfDir)
    val sessions = Relational.c13Sessionize(spark, sfDir)
    assert(sessions.agg(sum("n_events")).collect().head.getLong(0) == ev.count())
    // every session spans ≥ 0 and sessions of one user don't overlap
    val bad = sessions.filter(col("end_us") < col("start_us")).count()
    assert(bad == 0)
  }

  test("c62 dup spans: inter-doc, intra-doc, adjacency merge, short/null docs") {
    // doc1/doc2 share the 6-token run "a b c d e f" (two overlapping
    // duplicated 5-shingles each → ONE merged span per doc); doc4 repeats
    // its own 5-token run at gap 7 > n → TWO spans; doc5's duplicated
    // starts sit exactly n apart (adjacent intervals) → ONE 10-token span
    // spanning both; doc3 has exactly one (unique) shingle, doc8 is
    // sub-n, doc9 is null text → no rows from any of them
    val docs = docsDf(Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e f x q"),
      (3L, "totally unique words only here"),
      (4L, "p q r s t z z p q r s t"),
      (5L, "a1 a2 a3 a4 a5 b1 b2 b3 b4 b5"),
      (6L, "a1 a2 a3 a4 a5 tail6"),
      (7L, "head7 b1 b2 b3 b4 b5"),
      (8L, "tiny doc"),
      (9L, null.asInstanceOf[String])))
    val rows = Dedup.dupSpans(docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val expected = Seq(
      (1L, 0L, 5L, 6L, 2L),
      (2L, 2L, 7L, 6L, 2L),
      (4L, 0L, 4L, 5L, 1L), (4L, 7L, 11L, 5L, 1L),
      (5L, 0L, 9L, 10L, 2L),
      (6L, 0L, 4L, 5L, 1L),
      (7L, 1L, 5L, 5L, 1L))
    assert(rows.toSeq == expected,
      s"spans must match hand-derived intervals, got ${rows.toSeq}")
    // spans are a pure function of content: invariant under partitioning
    val reparted = Dedup.dupSpans(docs.repartition(7)).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(reparted.toSeq == expected)
  }

  test("c62/c63 are identical with and without the positional-shingle table seam") {
    // gate entries read the memoized positional table; the generic
    // frame-based paths recompute the subtree live — same rows (c2's
    // shingle-reuse seam rule, applied to the span family)
    val docs = Tables.documents(spark, sfDir)
    val viaTable62 = Dedup.c62DupSpans(spark, sfDir)
    val live62 = Dedup.dupSpans(docs)
    assert(viaTable62.exceptAll(live62).count() == 0 &&
      live62.exceptAll(viaTable62).count() == 0,
      "positional-table reuse must not change c62 results")
    val viaTable63 = Dedup.c63SpanScrub(spark, sfDir)
    val live63 = Dedup.scrubSpans(docs)
    assert(viaTable63.exceptAll(live63).count() == 0 &&
      live63.exceptAll(viaTable63).count() == 0,
      "positional-table reuse must not change c63 results")
  }

  test("c64 dup stats re-derive from c62 spans and raw token counts") {
    val stats = Dedup.c64DupStats(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_share_r"))).toMap
    // independent driver-side fold of the gate's own span rows
    val spansByDoc = Dedup.c62DupSpans(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("span_tokens")).sum }
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull).select("doc_id", "lang", "text").collect()
    val byLang = docs.groupBy(_.getAs[String]("lang")).map { case (lang, rs) =>
      val nTok = rs.map(_.getAs[String]("text").split(" ", -1).length.toLong).sum
      val dup = rs.map(r => spansByDoc.getOrElse(r.getAs[Long]("doc_id"), 0L)).sum
      lang -> (rs.length.toLong, nTok, dup,
        BigDecimal(dup.toDouble / nTok)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(stats == byLang, s"engine $stats != driver $byLang")
    // duplication exists in the generator corpus and shares are sane
    assert(stats.values.exists(_._3 > 0), "corpus must show duplication")
    stats.values.foreach { case (_, n, d, s) =>
      assert(d <= n && s >= 0.0 && s <= 1.0)
    }
  }

  test("c62 randomized corpora: engine spans equal a driver-side brute force") {
    // tiny alphabet so repeats arise naturally; deterministic seeds so
    // failures reproduce. Brute force re-implements the definition
    // directly: count every positional shingle, keep starts with a
    // repeated shingle, fold starts into islands with the gap>n break.
    def brute(docs: Seq[(Long, String)], n: Int) = {
      val sh = for {
        (id, t) <- docs if t != null
        toks = t.toLowerCase.split(" ", -1).toSeq if toks.length >= n
        i <- 0 to toks.length - n
      } yield (id, i.toLong, toks.slice(i, i + n).mkString(" "))
      val counts = sh.groupBy(_._3).map { case (k, v) => k -> v.size }
      sh.filter(s => counts(s._3) > 1).groupBy(_._1).toSeq.flatMap {
        case (id, hs) =>
          val starts = hs.map(_._2).sorted
          val islands = starts.foldLeft(List.empty[List[Long]]) {
            case (Nil, s) => List(List(s))
            case (cur :: rest, s) if s - cur.head <= n => (s :: cur) :: rest
            case (acc, s) => List(s) :: acc
          }
          islands.map { isl =>
            val mn = isl.min; val mx = isl.max
            (id, mn, mx + n - 1, mx - mn + n, isl.size.toLong)
          }
      }.sortBy(x => (x._1, x._2))
    }
    val words = Seq("a", "b", "c", "dd", "e", "ff", "g", "")
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(3) // shingle width 2..4
      val docs = (0 until 25).map { id =>
        val len = rnd.nextInt(13)
        (id.toLong,
          if (len == 0 && rnd.nextBoolean()) null
          else (0 until len).map(_ => words(rnd.nextInt(words.length)))
            .mkString(" "))
      }
      val got = Dedup.dupSpans(docsDf(docs), n).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val want = brute(docs, n)
      assert(got.toSeq == want,
        s"seed=$seed n=$n engine ${got.toSeq} != brute $want")
    }
  }

  test("c63 randomized corpora: engine scrub equals a driver-side brute force") {
    // brute force re-implements the keep-one-copy rule directly: owner =
    // lexicographic min (doc_id, start) per repeated shingle; a token is
    // cut iff covered by a non-owned repeated start and by no owned one
    def brute(docs: Seq[(Long, String)], n: Int) = {
      val sh = for {
        (id, t) <- docs if t != null
        toks = t.toLowerCase.split(" ", -1).toSeq if toks.length >= n
        i <- 0 to toks.length - n
      } yield (id, i.toLong, toks.slice(i, i + n).mkString(" "))
      val byVal = sh.groupBy(_._3)
      val repeated = byVal.filter(_._2.size > 1)
      val owners = repeated.map { case (v, occ) =>
        v -> occ.map(o => (o._1, o._2)).min
      }
      docs.filter(_._2 != null).map { case (id, t) =>
        val toks = t.split(" ", -1).toSeq
        val starts = repeated.values.flatten.filter(_._1 == id)
          .map(o => (o._2, owners(o._3) == ((id, o._2))))
        val cover = (0L until toks.length.toLong).map { p =>
          val c = starts.filter(s => s._1 <= p && p < s._1 + n)
          p -> (c.nonEmpty && !c.exists(_._2))
        }.toMap
        val kept = toks.zipWithIndex.collect {
          case (tok, p) if !cover(p.toLong) => tok }
        (id, toks.length.toLong,
          cover.values.count(identity).toLong, kept.mkString(" "))
      }.sortBy(_._1)
    }
    val words = Seq("a", "b", "c", "dd", "e", "ff", "g", "")
    for (seed <- 101 to 110) {
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(3)
      val docs = (0 until 20).map { id =>
        val len = rnd.nextInt(12)
        (id.toLong,
          if (len == 0 && rnd.nextBoolean()) null
          else (0 until len).map(_ => words(rnd.nextInt(words.length)))
            .mkString(" "))
      }
      val got = Dedup.scrubSpans(docsDf(docs), n).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      val want = brute(docs, n)
      assert(got == want, s"seed=$seed n=$n engine $got != brute $want")
    }
  }

  test("c65 gate row equals the live dupSpansMin path, and the guard holds") {
    val live = Dedup.dupSpansMin(
      Tables.documents(spark, sfDir).select("doc_id", "text"))
    val gate = Dedup.c65SpanMinlen(spark, sfDir)
    assert(gate.collect().map(_.toSeq).toSeq == live.collect().map(_.toSeq).toSeq,
      "positional-table reuse must not change c65 results")
    // threshold semantics are real on the gate corpus: candidates exist
    // below the cut, and confirmation drops at least nothing silently
    val cand = Dedup.c62DupSpans(spark, sfDir)
      .filter(col("span_tokens") >= 20).count()
    assert(gate.count() <= cand, "confirmation can only narrow candidates")
    assert(gate.count() > 0, "gate corpus must yield confirmed long spans")
    val e = intercept[IllegalArgumentException] {
      Dedup.dupSpansMin(Tables.documents(spark, sfDir), minSpan = 5, strongN = 20)
    }
    assert(e.getMessage.contains("minSpan"))
  }

  test("c65 randomized corpora: thresholded spans equal a driver-side brute force") {
    // brute force re-implements the composed definition directly: c62's
    // islands at width n, cut at minSpan, confirmed by >= 1 repeated
    // strongN-shingle wholly inside; counts the confirming starts
    def bruteStarts(docs: Seq[(Long, String)], w: Int) = {
      val sh = for {
        (id, t) <- docs if t != null
        toks = t.toLowerCase.split(" ", -1).toSeq if toks.length >= w
        i <- 0 to toks.length - w
      } yield (id, i.toLong, toks.slice(i, i + w).mkString(" "))
      val counts = sh.groupBy(_._3).map { case (k, v) => k -> v.size }
      sh.filter(s => counts(s._3) > 1).map(s => (s._1, s._2))
    }
    // returns (candidates-after-cut count, confirmed spans)
    def brute(docs: Seq[(Long, String)], n: Int, minSpan: Int, strongN: Int) = {
      val islands = bruteStarts(docs, n).groupBy(_._1).toSeq.flatMap {
        case (id, hs) =>
          val starts = hs.map(_._2).sorted
          val isl = starts.foldLeft(List.empty[List[Long]]) {
            case (Nil, s) => List(List(s))
            case (cur :: rest, s) if s - cur.head <= n => (s :: cur) :: rest
            case (acc, s) => List(s) :: acc
          }
          isl.map(i => (id, i.min, i.max + n - 1, i.max - i.min + n, i.size.toLong))
      }
      val strong = bruteStarts(docs, strongN)
      val cands = islands.filter(_._4 >= minSpan)
      (cands.length, cands.flatMap { case sp @ (id, s, e, _, _) =>
        val nx = strong.count(h => h._1 == id && h._2 >= s && h._2 + strongN - 1 <= e)
        if (nx > 0) Some((sp._1, sp._2, sp._3, sp._4, sp._5, nx.toLong)) else None
      }.sortBy(x => (x._1, x._2)))
    }
    val words = Seq("a", "b", "c", "d")
    var confirmed = 0
    var dropped = 0
    for (seed <- 201 to 212) {
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(2)            // candidate width 2..3
      val strongN = n + 1 + rnd.nextInt(3)  // confirm width n+1..n+3
      val minSpan = strongN + rnd.nextInt(3)
      // a shared passage pool guarantees some long EXACT duplicates;
      // random filler guarantees some chained-mirage candidates too
      val passages = (0 until 3).map(_ =>
        (0 until 6 + rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.length)))
          .mkString(" "))
      val docs = (0 until 18).map { id =>
        val parts = (0 until 1 + rnd.nextInt(3)).map { _ =>
          if (rnd.nextInt(3) == 0) passages(rnd.nextInt(passages.length))
          else (0 until rnd.nextInt(10))
            .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
        }
        (id.toLong, parts.mkString(" ").trim match {
          case "" => if (rnd.nextBoolean()) null else ""
          case t => t
        })
      }
      val got = Dedup.dupSpansMin(docsDf(docs), minSpan, strongN, n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      val (nCand, want) = brute(docs, n, minSpan, strongN)
      assert(got == want, s"seed=$seed n=$n strongN=$strongN " +
        s"minSpan=$minSpan engine $got != brute $want")
      confirmed += got.length
      dropped += nCand - want.length
    }
    assert(confirmed > 0, "seeds must exercise the confirmed path")
    assert(dropped > 0,
      "seeds must produce chained-mirage candidates that confirmation kills " +
        "- otherwise the threshold is untested")
  }

  test("c67 randomized corpora: thresholded scrub equals the composed brute force") {
    // self-contained brute: c63's keep-one-copy cut set RESTRICTED to
    // positions inside c65's confirmed spans
    def brute(docs: Seq[(Long, String)], n: Int, minSpan: Int, strongN: Int) = {
      def starts(w: Int) = {
        val sh = for {
          (id, t) <- docs if t != null
          toks = t.toLowerCase.split(" ", -1).toSeq if toks.length >= w
          i <- 0 to toks.length - w
        } yield (id, i.toLong, toks.slice(i, i + w).mkString(" "))
        val counts = sh.groupBy(_._3).map { case (k, v) => k -> v.size }
        (sh, sh.filter(s => counts(s._3) > 1))
      }
      val (_, rep5) = starts(n)
      val owners = rep5.groupBy(_._3).map { case (v, occ) =>
        v -> occ.map(o => (o._1, o._2)).min
      }
      val (_, repS) = starts(strongN)
      // confirmed spans per doc
      val spans = rep5.groupBy(_._1).toSeq.flatMap { case (id, hs) =>
        val ss = hs.map(_._2).distinct.sorted
        val isl = ss.foldLeft(List.empty[List[Long]]) {
          case (Nil, s) => List(List(s))
          case (cur :: rest, s) if s - cur.head <= n => (s :: cur) :: rest
          case (acc, s) => List(s) :: acc
        }
        isl.map(i => (id, i.min, i.max + n - 1, i.max - i.min + n))
          .filter(_._4 >= minSpan)
          .filter { case (_, s, e, _) =>
            repS.exists(h => h._1 == id && h._2 >= s && h._2 + strongN - 1 <= e) }
      }
      docs.filter(_._2 != null).map { case (id, t) =>
        val toks = t.split(" ", -1).toSeq
        val my = rep5.filter(_._1 == id)
          .map(o => (o._2, owners(o._3) == ((id, o._2))))
        val cut = (0L until toks.length.toLong).filter { p =>
          val c = my.filter(s => s._1 <= p && p < s._1 + n)
          c.nonEmpty && !c.exists(_._2) &&
            spans.exists(sp => sp._1 == id && p >= sp._2 && p <= sp._3)
        }.toSet
        (id, toks.length.toLong, cut.size.toLong,
          toks.zipWithIndex.collect {
            case (tok, p) if !cut(p.toLong) => tok }.mkString(" "))
      }.sortBy(_._1)
    }
    val words = Seq("a", "b", "c", "d")
    var restricted = 0L
    for (seed <- 401 to 410) {
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(2)
      val strongN = n + 1 + rnd.nextInt(2)
      val minSpan = strongN + rnd.nextInt(3)
      val passages = (0 until 3).map(_ =>
        (0 until 6 + rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.length)))
          .mkString(" "))
      val docs = (0 until 15).map { id =>
        val parts = (0 until 1 + rnd.nextInt(3)).map { _ =>
          if (rnd.nextInt(3) == 0) passages(rnd.nextInt(passages.length))
          else (0 until rnd.nextInt(9))
            .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
        }
        (id.toLong, parts.mkString(" ").trim match {
          case "" => if (rnd.nextBoolean()) null else ""
          case t => t
        })
      }
      val got = Dedup.scrubSpansMin(docsDf(docs), n, minSpan, strongN)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
      val want = brute(docs, n, minSpan, strongN)
      assert(got == want, s"seed=$seed n=$n strongN=$strongN minSpan=$minSpan")
      // the restriction must bite somewhere across seeds: fewer cuts
      // than the unrestricted scrub
      val full = Dedup.scrubSpans(docsDf(docs), n).collect()
        .map(_.getAs[Long]("n_cut")).sum
      restricted += full - got.map(_._3).sum
    }
    assert(restricted > 0,
      "seeds must include short repeats the threshold PRESERVES " +
        "- otherwise c67 is indistinguishable from c63")
  }

  test("c69 span clusters equal a driver-side union-find over shared 20-grams") {
    // independent derivation: FULL pairwise connectivity (not star
    // edges) via union-find — proving the engine's star-edge reduction
    // preserves components exactly
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("text")))
    val byShingle = scala.collection.mutable.Map.empty[String, List[Long]]
    docs.foreach { case (id, t) =>
      t.foreach { text =>
        val toks = text.toLowerCase.split(" ", -1)
        if (toks.length >= 20)
          toks.sliding(20).map(_.mkString(" ")).toSet
            .foreach(sh => byShingle(sh) = id :: byShingle.getOrElse(sh, Nil))
      }
    }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); () }
    }
    byShingle.values.foreach { ids =>
      val d = ids.distinct
      d.tail.foreach(union(d.head, _))
    }
    val want = docs.map { case (id, _) => (id, find(id), find(id) == id) }
      .sortBy(_._1).toSeq
    val got = Dedup.c69SpanClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == want)
    assert(got.exists(r => !r._3),
      "the near-dup corpus must form at least one non-singleton cluster")
  }

  test("lshPlan: independent-integration argmin, c2's 4x2 at 0.5, threshold monotonicity") {
    // independent re-derivation: trapezoid rule at double resolution —
    // the chosen pair must be the argmin under the independent estimate
    def err(t: Double, b: Int, r: Int): Double = {
      val cells = 2000
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      (0 until cells).map { i =>
        val s0 = i.toDouble / cells; val s1 = (i + 1).toDouble / cells
        val mid = (s0 + s1) / 2
        val v = if (mid < t) (p(s0) + p(s1)) / 2 else 1.0 - (p(s0) + p(s1)) / 2
        v / cells
      }.sum
    }
    for (t <- Seq(0.2, 0.5, 0.8); k <- Seq(8, 16, 24)) {
      val (b, r, fp, fn) = graft.operators.Dedup.lshPlan(t, k)
      assert(b * r == k, s"($b, $r) must factor $k")
      assert(fp >= 0 && fn >= 0 && fp <= 1 && fn <= 1)
      val best = (1 to k).filter(k % _ == 0)
        .map(bb => (bb, err(t, bb, k / bb))).minBy(_._2)
      assert(math.abs(err(t, b, r) - best._2) < 1e-6,
        s"planner pick ($b×$r) must match the independent argmin " +
          s"(${best._1}×${k / best._1}) at t=$t k=$k")
    }
    // c2's 4×2 default IS the planner's choice at c2's own threshold:
    // the S-curve midpoint (1/4)^(1/2) = 0.5 exactly
    val (b8, r8, _, _) = graft.operators.Dedup.lshPlan(0.5, 8)
    assert(b8 == 4 && r8 == 2, s"expected 4×2 at t=0.5 k=8, got $b8×$r8")
    // a stricter threshold shifts the curve right: rows never decrease
    val rows = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
      .map(t => graft.operators.Dedup.lshPlan(t, 16)._2)
    assert(rows == rows.sorted, s"rows must be monotone in threshold: $rows")
  }

  test("c63 span scrub: keeps the corpus-first copy, cuts the rest, rebuilds text") {
    // doc1 owns the duplicated run "A B C D E F" (corpus-first occurrence
    // of both its 5-shingles) and survives untouched; doc2's copy is cut
    // (tokens 2..7), its unique tokens survive in order and case; doc3
    // repeats its own 5-run intra-doc — first occurrence kept, second cut;
    // doc4 is sub-n and passes through verbatim, double space preserved
    val docs = docsDf(Seq(
      (1L, "A B C D E F g h"),
      (2L, "x y a b c d e f tail1 tail2"),
      (3L, "p q r s t mid p q r s t"),
      (4L, "tiny  doc")))
    val got = Dedup.scrubSpans(docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val expected = Seq(
      (1L, 8L, 0L, "A B C D E F g h"),
      (2L, 10L, 6L, "x y tail1 tail2"),
      (3L, 11L, 5L, "p q r s t mid"),
      (4L, 3L, 0L, "tiny  doc")) // 3 tokens: the double space splits to ""
    assert(got == expected, s"scrub must match hand-derived rewrite, got $got")
    // cut token totals reconcile with c62's span report on the same corpus:
    // every cut position lies inside some reported span
    val spanTokens = Dedup.dupSpans(docs).agg(sum("span_tokens")).head().getLong(0)
    val cutTokens = got.map(_._3).sum
    assert(cutTokens <= spanTokens,
      "cut tokens cannot exceed duplicated-span coverage")
  }
}
