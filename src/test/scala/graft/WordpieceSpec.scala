package graft

import org.apache.spark.sql.functions._

import graft.operators.Wordpiece

/** c98/c99 WordPiece specs: the Spark trainer pinned against an
  * INDEPENDENT driver-side implementation (staging, likelihood-scored
  * merge selection with exact BigInt cross-multiplication, greedy
  * longest-match apply — all reimplemented below in plain Scala),
  * matcher parity word-for-word, partition invariance, the whole-word
  * [UNK] path, the likelihood-vs-frequency discrimination that makes
  * WordPiece a DIFFERENT trainer from BPE, and the d47 streaming
  * twin. */
class WordpieceSpec extends SparkSpec {

  // ---- independent driver-side reference implementation ----

  private def merged(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  private def stage(w: String): Vector[String] =
    w.zipWithIndex.map { case (c, i) =>
      (if (i == 0) "" else "##") + c
    }.toVector

  /** One greedy left-to-right non-overlapping merge pass — literal
    * replace semantics. */
  private def applyOnce(ts: Vector[String], m: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < ts.length) {
      if (i + 1 < ts.length && ts(i) == m._1 && ts(i + 1) == m._2) {
        out += merged(m._1, m._2); i += 2
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }

  private def refTrain(wt: Seq[(String, Long)], rounds: Int): Seq[String] = {
    var segs: Map[String, Vector[String]] =
      wt.map { case (w, _) => w -> stage(w) }.toMap
    var merges = Vector.empty[(String, String)]
    var alphabet = Seq.empty[String]
    var done = false
    while (merges.size < rounds && !done) {
      val symCnt = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      wt.foreach { case (w, c) =>
        val ts = segs(w)
        ts.foreach(s => symCnt(s) += c)
        if (ts.length >= 2) ts.sliding(2).foreach(p => pairCnt((p(0), p(1))) += c)
      }
      if (merges.isEmpty) alphabet = symCnt.keys.toSeq.sorted
      val cands = pairCnt.toSeq.filter { case ((a, b), _) =>
        merged(a, b).stripPrefix("##").length <= Wordpiece.MaxPieceLen }
      if (cands.isEmpty) done = true
      else {
        val best = cands.reduceLeft { (p, q) =>
          val l = BigInt(p._2) * BigInt(symCnt(q._1._1)) * BigInt(symCnt(q._1._2))
          val r = BigInt(q._2) * BigInt(symCnt(p._1._1)) * BigInt(symCnt(p._1._2))
          if (l > r) p
          else if (l < r) q
          else if (Ordering.Tuple2[String, String].compare(p._1, q._1) <= 0) p
          else q
        }
        merges :+= best._1
        segs = segs.map { case (w, ts) => w -> applyOnce(ts, best._1) }
      }
    }
    (alphabet ++ merges.map { case (a, b) => merged(a, b) }).distinct.sorted
  }

  private def refGreedy(w: String, vocab: Set[String]): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    var pos = 0
    while (pos < w.length) {
      val pref = if (pos == 0) "" else "##"
      val ls = (1 to math.min(Wordpiece.MaxPieceLen, w.length - pos))
        .filter(l => vocab.contains(pref + w.substring(pos, pos + l)))
      if (ls.isEmpty) return Seq(Wordpiece.Unk)
      val l = ls.max
      out += pref + w.substring(pos, pos + l)
      pos += l
    }
    out.toSeq
  }

  private def corpusWordTypes: Seq[(String, Long)] =
    Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  // ---- specs ----

  test("c98 trained vocabulary equals the driver likelihood-merge brute force") {
    val got = Wordpiece.trainWordpiece(spark, sfDir)
    val want = refTrain(corpusWordTypes, Wordpiece.WpRounds)
    assert(got == want,
      "distributed likelihood-merge training must match the driver reference")
    assert(got.exists(p => p.stripPrefix("##").length > 1),
      "sanity: multi-char pieces learned")
    assert(got.forall(p => p.stripPrefix("##").length <= Wordpiece.MaxPieceLen),
      "no piece may exceed MaxPieceLen")
  }

  test("c98 greedy segmentation equals the driver matcher on every word type") {
    import spark.implicits._
    val vocab = Wordpiece.trainWordpiece(spark, sfDir)
    val vs = vocab.toSet
    val got = corpusWordTypes.map(_._1).toDF("w")
      .select(col("w"), Wordpiece.segment(col("w"), vocab).as("ts"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
    got.foreach { case (w, ts) =>
      assert(ts == refGreedy(w, vs), s"segmentation of '$w'")
      // self-trained corpus: every word covered, tiles losslessly after
      // stripping continuation markers
      assert(ts != Seq(Wordpiece.Unk), s"'$w' must not be UNK on its own corpus")
      assert(ts.map(_.stripPrefix("##")).mkString("") == w,
        s"'$w' must tile losslessly")
      assert(ts.tail.forall(_.startsWith("##")) &&
        !ts.head.startsWith("##") || w.startsWith("##"),
        s"continuation marking of '$w': $ts")
    }
  }

  test("wordpiece training is partition-invariant (1 thread ≡ 32)") {
    import spark.implicits._
    val wt = corpusWordTypes.toDF("w", "wcnt")
    val a = Wordpiece.trainWordpieceOn(wt.repartition(1))
    val b = Wordpiece.trainWordpieceOn(wt.repartition(32))
    assert(a == b, "the vocabulary must be a pure function of the data")
  }

  test("wordpiece picks the LIKELIHOOD-best pair where BPE picks the most frequent") {
    import spark.implicits._
    // (a, ##b) is the most FREQUENT adjacent pair but its symbols are
    // everywhere (score 60/(61·60) ≈ 0.016); (x, ##q) occurs only
    // together (score 2/(2·2) = 0.5) — the likelihood criterion must
    // pick it, the frequency criterion must not
    val wt = Seq(("ab", 60L), ("ba", 60L), ("a", 1L), ("b", 1L), ("xq", 2L))
      .toDF("w", "wcnt")
    val vocab = Wordpiece.trainWordpieceOn(wt, rounds = 1)
    assert(vocab.contains("xq"), s"likelihood argmax must mint 'xq': $vocab")
    assert(!vocab.contains("ab"), s"frequency argmax leaked in: $vocab")
    val bpeFirst = graft.operators.TextOps
      .trainBpeOn(wt.select(col("wcnt"), col("w")), rounds = 1)
    assert(bpeFirst == Seq(("a", "b")),
      s"the SAME corpus must make BPE pick the frequent pair: $bpeFirst")
    assert(vocab == refTrain(Seq(("ab", 60L), ("ba", 60L), ("a", 1L),
      ("b", 1L), ("xq", 2L)), 1))
  }

  test("whole-word [UNK]: unmatchable words emit the single unknown token") {
    import spark.implicits._
    val vocab = Wordpiece.trainWordpiece(spark, sfDir)
    val vs = vocab.toSet
    // unseen char anywhere in the word → the WHOLE word is [UNK]
    // (BERT semantics — not a char-fallback tail like unigram)
    val unkChar = "éß€#".find(c => !vs.contains(c.toString)).get
    val rows = Seq(s"zz${unkChar}x", s"${unkChar}zz", "scan")
      .toDF("w")
      .select(col("w"), Wordpiece.segment(col("w"), vocab).as("ts"),
        Wordpiece.unkCount(col("w"), vocab).as("nu"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toSeq,
        r.getLong(2)))
    rows.foreach { case (w, ts, nu) =>
      assert(ts == refGreedy(w, vs), s"'$w'")
      if (w.contains(unkChar)) {
        assert(ts == Seq(Wordpiece.Unk), s"'$w' must be whole-word UNK: $ts")
        assert(nu == 1L)
      } else {
        assert(ts != Seq(Wordpiece.Unk) && nu == 0L, s"'$w' must tokenize")
      }
    }
  }

  test("c99 fertility equals a driver re-derivation on every doc") {
    val vocab = Wordpiece.trainWordpiece(spark, sfDir)
    val vs = vocab.toSet
    val docsWs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => length(w) >= 1).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq)
    val want = docsWs.filter(_._2.nonEmpty).map { case (id, ws) =>
      val nw = ws.size.toLong
      val nt = ws.map(w => refGreedy(w, vs).size.toLong).sum
      val fr = BigDecimal(nt.toDouble / nw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, nw, nt, fr)
    }.sortBy(_._1).toSeq
    val got = Wordpiece.c99WordpieceFertility(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == want, "c99 must equal the driver fertility re-derivation")
    // the metric's point: corpus tokens compress below the char ceiling
    val chars = docsWs.flatMap(_._2).map(_.length.toLong).sum
    val toks = want.map(_._3).sum
    assert(toks < chars,
      s"wordpiece tokens $toks must compress below the char ceiling $chars")
  }

  test("d47 streaming wordpiece tokenize equals the driver derivation, " +
      "incl. whole-word UNK docs") {
    import spark.implicits._
    val vocab = Wordpiece.trainWordpiece(spark, sfDir)
    val vs = vocab.toSet
    val unkChar = "éß€#".find(c => !vs.contains(c.toString)).get
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val edge = Seq((9201L, s"zz${unkChar}x plain words"),
      (9202L, null.asInstanceOf[String]), (9203L, ""))
    val docs = corpus ++ edge
    val wsMap = docs.toDF("doc_id", "text")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => length(w) >= 1).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val want = wsMap.toSeq.map { case (id, ws) =>
      val toks = ws.flatMap(w => refGreedy(w, vs))
      (id, ws.size.toLong, toks.size.toLong, toks.toVector)
    }.sortBy(_._1)
    val sink = drainStream(docs) { s =>
      Wordpiece.tokenizeDocs(s.toDF("doc_id", "text"), vocab)
    }
    val got = sink.orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getSeq[String](3).toVector))
    assert(got.toSeq == want,
      "streamed wordpiece token payloads must equal the driver derivation")
    val unkRow = got.find(_._1 == 9201L).get
    assert(unkRow._4.contains(Wordpiece.Unk),
      s"the unseen-char word must surface as [UNK]: ${unkRow._4}")
    assert(!got.exists(_._1 == 9202L), "null text must not emit a row")
    assert(got.find(_._1 == 9203L).exists(r => r._2 == 0L && r._4.isEmpty),
      "empty text emits the documented n_words = 0 row")
    ()
  }

  test("property: trainer and matcher equal the reference on random corpora") {
    import spark.implicits._
    // deterministic pseudo-random corpora (no Random: the repo's
    // reproducibility rule) — word shapes from a small alphabet with
    // heavy repetition so merges chain, across 5 distinct seeds
    for (seed <- 1 to 5) {
      val alpha = "abcd"
      val words = (0 until 24).map { i =>
        val h = (seed * 1000003 + i * 7919)
        val len = 1 + (h % 6 + 6) % 6
        (0 until len).map(j =>
          alpha(((h >> (j * 2)) & 15) % alpha.length)).mkString
      }
      val wt = words.zipWithIndex
        .map { case (w, i) => (w, (i % 5 + 1).toLong) }
        .groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }.toSeq
      val vocab = Wordpiece.trainWordpieceOn(wt.toDF("w", "wcnt"), rounds = 6)
      assert(vocab == refTrain(wt, 6), s"seed $seed trainer drift")
      val vs = vocab.toSet
      val got = wt.map(_._1).toDF("w")
        .select(col("w"), Wordpiece.segment(col("w"), vocab).as("ts"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
      got.foreach { case (w, ts) =>
        assert(ts == refGreedy(w, vs), s"seed $seed, word '$w'")
        assert(ts.map(_.stripPrefix("##")).mkString("") == w,
          s"seed $seed '$w' tiling")
      }
    }
  }

  test("native ApplyWordpiece staging equals the replace-chain reference") {
    import spark.implicits._
    // adversarial inputs: overlapping repeats (non-overlapping pass
    // semantics), marker-bearing alphabets ('#' words), re-enabled
    // sides, single chars, and the empty-adjacent shapes
    // "" included deliberately: both formulations stage the empty word
    // to the single empty symbol [""] (BpeApplier's documented empty-
    // word parity; the fenced chain's trim+split yields the same), so
    // a caller that skips wordTypeCounts' length filter still trains
    val words = Seq("aaa", "aaaa", "aaaaa", "abab", "ababab", "bbbb",
      "abcabc", "#ab", "##", "###", "a", "x", "aabbaabb", "cabcab", "")
      .toDF("w")
    val lists = Seq(
      Seq.empty[(String, String)],
      Seq(("a", "##a")),
      // chained re-merges: a later rank consumes an earlier product
      Seq(("a", "##a"), ("aa", "##a"), ("aaa", "##a")),
      Seq(("a", "##b"), ("ab", "##a"), ("ab", "##ab"), ("b", "##b")),
      // marker-bearing surfaces: '#' in the ALPHABET (the scaladoc
      // caveat) must behave identically in both formulations
      Seq(("#", "###"), ("##", "###")),
      // sides that reappear AFTER their rank had its turn (sequential
      // semantics: rank m is never revisited)
      Seq(("b", "##b"), ("a", "##a"), ("aa", "##bb")))
    lists.foreach { merges =>
      val got = words.select(col("w"),
        graft.functions.BpeFunctions.applyWordpiece(col("w"), merges)
          .as("ts")).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
      val want = words.select(col("w"),
        split(trim(Wordpiece.applyWpMerges(
          Wordpiece.wpSeqOf(col("w")), merges)), "  ").as("ts")).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
      assert(got == want, s"native/reference drift under merges=$merges")
    }
  }

  test("trainer sustains production merge depth with constant per-round plan work") {
    import spark.implicits._
    // 300 distinct 4-8 char words over 20 letters: pair diversity far
    // beyond 100 merges, every merged surface within MaxPieceLen — the
    // depth the replace-chain staging could not plan (O(rounds²))
    val alpha = "abcdefghijklmnopqrst"
    val words = (0 until 300).map { i =>
      val h = i * 2654435761L + 11
      val len = 4 + Math.floorMod(h, 5L).toInt
      (0 until len).map(j =>
        alpha(Math.floorMod(h >> (j * 3), alpha.length.toLong).toInt)).mkString
    }.distinct
    val wt = words.zipWithIndex.map { case (w, i) => (w, (i % 7 + 1).toLong) }
    val vocab = Wordpiece.trainWordpieceOn(wt.toDF("w", "wcnt"), rounds = 100)
    // 100 rounds genuinely ran: ≥ 100 multi-char pieces were minted
    // (each round adds one merged symbol; distinct can only collapse
    // symbols that equal an existing one, rare under this alphabet)
    assert(vocab.count(_.stripPrefix("##").length > 1) >= 95,
      s"expected ~100 multi-char pieces, got ${vocab.count(_.stripPrefix("##").length > 1)}")
    assert(vocab.forall(_.stripPrefix("##").length <= Wordpiece.MaxPieceLen))
    // the plan-depth claim itself: staging under a DEEP merge list is
    // ONE expression node — no replace chain anywhere in the plan
    val deep = (0 until 1000).map(i =>
      (s"${alpha(i % 20)}", s"##${alpha((i / 20) % 20)}"))
    val staged = words.toDF("w").select(
      graft.functions.BpeFunctions.applyWordpiece(col("w"), deep).as("ts"))
    // analyzed plan (the optimizer constant-folds a local relation into
    // a LocalTableScan — which itself proves the 1000-merge expression
    // EVALUATED; the analyzed tree shows its shape)
    val plan = staged.queryExecution.analyzed.toString
    assert(plan.contains("graft_apply_wordpiece"), plan.take(2000))
    assert(!plan.contains("replace("),
      s"replace chain leaked into the fused staging plan:\n${plan.take(2000)}")
    // and it EXECUTES at that depth (the replace chain would have
    // thrown codegen past the 64KB method limit long before 1000)
    assert(staged.collect().length == words.length)
  }

  test("wordpiece staging fences: merged pieces only fuse whole symbols") {
    import spark.implicits._
    // 'aaa' stages to [a, ##a, ##a]: merging (a, ##a) must fuse ONLY the
    // first (left-to-right, non-overlapping), leaving [aa, ##a] — the
    // fence argument (a pattern can't match across symbol boundaries)
    val wt = Seq(("aaa", 10L)).toDF("w", "wcnt")
    val vocab = Wordpiece.trainWordpieceOn(wt, rounds = 1)
    assert(vocab.sorted == Seq("##a", "a", "aa").sorted, vocab.toString)
    // the greedy matcher then reads 'aaa' as [aa, ##a]: the plain piece
    // 'aa' wins longest-match at pos 1, the marked single covers pos 3
    val ts = Seq("aaa").toDF("w")
      .select(Wordpiece.segment(col("w"), vocab).as("ts"))
      .collect()(0).getSeq[String](0).toSeq
    assert(ts == Seq("aa", "##a"), ts.toString)
  }
}
