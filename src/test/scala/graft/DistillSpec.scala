package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Distill
import graft.streaming.StreamOps

/** c74/d35 distillation specs: exact-CART training pinned against a
  * driver brute force over the SAME bounded candidate grid, trainer
  * partition-invariance (the bit-reproducibility the oracle's
  * inlined-threshold rendering depends on), degenerate corpora, the
  * exact-integer overflow guard, and d35 stream ≡ batch parity. */
class DistillSpec extends SparkSpec {

  import Distill.{Features, Split, ThresholdGrid}

  /** The grid's candidate for a raw value: the upper edge of its bucket
    * (v ≤ candidate ⟺ v div step ≤ bucket — the exactness the trainer's
    * histogram relies on). */
  private def cand(f: String, v: Long): Long = {
    val (step, maxB) = ThresholdGrid(f)
    math.min(v / step, maxB) * step + (step - 1)
  }

  /** Driver brute force over the same candidate grid and the same
    * (err, feature, thr) total order as [[Distill.bestSplit]]. */
  private def bruteBest(rows: Seq[(Map[String, Long], Boolean)])
      : Option[(Split, Long)] = {
    val n = rows.size.toLong
    val npos = rows.count(_._2).toLong
    val scored = for {
      f <- Features
      thr <- rows.map(r => cand(f, r._1(f))).distinct
      left = rows.filter(r => cand(f, r._1(f)) <= thr)
      if left.size < rows.size // the everything-left candidate: not a split
    } yield {
      val lc = left.size.toLong
      val lp = left.count(_._2).toLong
      val err = math.min(lp, lc - lp) +
        math.min(npos - lp, (n - lc) - (npos - lp))
      (err, f, thr)
    }
    scored.sorted.headOption.map { case (err, f, thr) => (Split(f, thr), err) }
  }

  private def toFrame(rows: Seq[(Map[String, Long], Boolean)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((m, y), i) =>
      (i.toLong, m("len"), m("ttr_ppt"), m("top_ppt"), m("freq_ppb"), y)
    }.toDF("doc_id", "len", "ttr_ppt", "top_ppt", "freq_ppb", "label")
  }

  test("c74 bestSplit equals the driver brute force on randomized frames") {
    val rng = new scala.util.Random(74)
    for (trial <- 0 until 3) {
      val rows = Seq.fill(60) {
        (Map(
          "len" -> rng.nextInt(150).toLong,
          "ttr_ppt" -> rng.nextInt(1001).toLong,
          "top_ppt" -> rng.nextInt(1001).toLong,
          // wide enough to exercise the ppm quantization of candidates
          "freq_ppb" -> rng.nextInt(5000000).toLong),
          rng.nextBoolean())
      }
      val df = toFrame(rows)
      val n = rows.size.toLong
      val npos = rows.count(_._2).toLong
      assert(Distill.bestSplit(df, n, npos) == bruteBest(rows),
        s"trial $trial: distributed split search must match the brute force")
    }
  }

  test("c74 training is partition-invariant (1 thread ≡ 32)") {
    val feats = Distill.classifierFeatures(spark, sfDir)
    val t1 = Distill.trainTreeFrom(feats.repartition(1))
    val t32 = Distill.trainTreeFrom(feats.repartition(32))
    assert(t1 == t32,
      "the trained tree must be bit-identical under any partitioning " +
        "(the oracle inlines its thresholds)")
  }

  test("c74 freq_ppb candidates are ppm-grid-aligned") {
    // only freq_ppb separates the labels; every other feature constant
    val rows = (0 until 40).map { i =>
      (Map("len" -> 50L, "ttr_ppt" -> 500L, "top_ppt" -> 100L,
        "freq_ppb" -> (i * 137003L)), i * 137003L >= 2500000L)
    }
    val tree = Distill.trainTreeFrom(toFrame(rows))
    assert(tree.root.feature == "freq_ppb")
    assert(tree.root.thr % 1000 == 999,
      s"freq_ppb thresholds must come from the ppm grid, got ${tree.root.thr}")
    // the grid still separates this corpus perfectly
    val pred = toFrame(rows).withColumn("pred", Distill.treeVerdict(tree))
    assert(pred.filter(col("pred") =!= col("label")).count() == 0)
  }

  test("c74 degenerate corpora: pure labels, constant features, tie keeps") {
    def const(y: Int => Boolean) = (0 until 8).map { i =>
      (Map("len" -> 10L, "ttr_ppt" -> 300L, "top_ppt" -> 100L,
        "freq_ppb" -> 1000L), y(i))
    }
    // constant features: no candidate splits → a degenerate everything-
    // left root whose REACHABLE leaf carries the majority verdict (the
    // empty gt branch is unreachable by construction — assert through
    // treeVerdict, not tree internals)
    def preds(y: Int => Boolean): Seq[Boolean] = {
      val df = toFrame(const(y))
      df.withColumn("pred", Distill.treeVerdict(Distill.trainTreeFrom(df)))
        .select("pred").collect().map(_.getBoolean(0)).toSeq
    }
    assert(preds(_ => true).forall(identity))
    assert(preds(_ => false).forall(!_))
    // exact 50/50 tie on constant features: majority ties keep
    assert(preds(_ % 2 == 0).forall(identity),
      "a tied leaf must keep (the cheaper downstream error)")
  }

  test("c74 overflow guard raises exactly at the integer boundary") {
    import spark.implicits._
    // n_tokens * total_tokens = 2^63 exactly: the old double-division
    // guard (Long.MaxValue rounds up to 2^63) let this wrap silently
    // negative; the exact `div` guard must raise
    val df = Seq((10L, 5L, 3L, 1024L, 7L, 9007199254740992L))
      .toDF("n_words", "n_types", "max_tc", "n_tokens", "sum_ctf",
        "total_tokens")
    val e = intercept[Exception] {
      df.select(Distill.featureProjection: _*).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("freq_ppb exceeds BIGINT")),
      s"expected the loud overflow raise_error, got: $e")
    // one below the boundary computes fine (and stays non-negative)
    val ok = Seq((10L, 5L, 3L, 1024L, 7L, 9007199254740991L))
      .toDF("n_words", "n_types", "max_tc", "n_tokens", "sum_ctf",
        "total_tokens")
      .select(Distill.featureProjection: _*).collect()(0)
    assert(ok.getAs[Long]("freq_ppb") == 0L)
  }

  test("d35 stream verdicts equal batch c74 row-for-row") {
    import spark.implicits._
    // a restricted corpus keeps the full-vocabulary artifact small;
    // 9003/9004 pin the empty/whitespace-only edge: split(" ") never
    // yields an empty array (split("", " ") is [""]), so batch c74
    // scores these docs (n_words >= 1) and the stream must score them
    // IDENTICALLY — not drop them, not NULL-feature them
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0).select("doc_id", "text")
      .union(Seq((9003L, ""), (9004L, "   ")).toDF("doc_id", "text"))
    val docs = corpus.as[(Long, String)].collect().toSeq
    // batch side: features + tree + verdict, all on the same corpus
    val feats = Distill.classifierFeaturesOn(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tree = Distill.trainTreeFrom(feats)
    val batch = feats.withColumn("pred", Distill.treeVerdict(tree))
      .select("doc_id", "len", "ttr_ppt", "top_ppt", "freq_ppb", "pred")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    // the full-vocabulary artifact (at scale: c34's cut — d13's trade)
    val vocabRows = corpus
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ctf"))
      .as[(String, Long)].collect().toSeq
    val total = vocabRows.map(_._2).sum
    val edge = Seq(
      (9001L, "zzqx zzqx zzqxy unseen terms only pad pad pad pad pad"),
      (9002L, null.asInstanceOf[String]))
    val streamed = drainStream(docs ++ edge) { s =>
      StreamOps.streamDistill(s.toDF("doc_id", "text"), vocabRows, total, tree)
    }.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(!streamed.contains(9002L), "null text must not emit a row")
    assert(streamed.contains(9003L) && streamed.contains(9004L),
      "empty/whitespace docs tokenize to [\"\"]-style arrays and must " +
        "be scored, same as batch")
    assert(streamed.keySet - 9001L == batch.keySet)
    batch.foreach { case (id, row) =>
      assert(streamed(id) == row, s"doc $id stream vs batch c74")
    }
    // all-OOV doc: freq_ppb exactly 0, and the tree still rules on it
    val oov = streamed(9001L)
    assert(oov(4) == 0L && oov(5).isInstanceOf[Boolean])
    feats.unpersist()
    ()
  }
}
