package graft

import org.apache.spark.sql.functions._

import graft.operators.{TextOps, Unigram}

/** c75 unigram-LM tokenizer specs: the Spark trainer pinned against an
  * INDEPENDENT driver-side hard-EM implementation (seed → EM rounds →
  * prune, all reimplemented below in plain Scala), Viterbi segmentation
  * parity word-for-word, partition invariance, UNK fallback, and
  * compression sanity. */
class UnigramSpec extends SparkSpec {

  // ---- independent driver-side reference implementation ----

  private def refScores(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = counts.map(_._2).sum
    counts.map { case (p, c) =>
      p -> math.floor(StrictMath.log(c.toDouble / total) * 1e9).toLong
    }.sortBy(_._1)
  }

  private def refViterbi(w: String, scores: Map[String, Long]): Seq[String] = {
    val L = Unigram.MaxPieceLen
    // best(j) = (score, nPieces, pieces) of the best split of w[0, j)
    val best = new Array[(Long, Long, List[String])](w.length + 1)
    best(0) = (0L, 0L, Nil)
    for (j <- 1 to w.length) {
      var b: (Long, Long, List[String]) = null
      for (i <- math.max(0, j - L) until j) {
        val piece = w.substring(i, j)
        val sc = scores.get(piece)
          .orElse(if (j - i == 1) Some(Unigram.UnkScore) else None)
        sc.foreach { s =>
          val cand = (best(i)._1 + s, best(i)._2 + 1, piece :: best(i)._3)
          if (b == null || cand._1 > b._1 ||
              (cand._1 == b._1 && cand._2 < b._2)) b = cand
        }
      }
      best(j) = b
    }
    best(w.length)._3.reverse
  }

  private def refSelect(counts: Map[String, Long], singles: Seq[String],
                        multis: Int): Seq[(String, Long)] = {
    val multiRows = counts.toSeq
      .filter { case (p, c) => p.length >= 2 && c >= 1 }
      .sortBy { case (p, c) => (-c, p) }.take(multis)
    singles.map(c => c -> math.max(counts.getOrElse(c, 0L), 1L)) ++ multiRows
  }

  private def refTrain(wt: Seq[(String, Long)], seedMultis: Int,
                       vocabMultis: Int, rounds: Int): Seq[(String, Long)] = {
    val seed = wt.flatMap { case (w, c) =>
      for {
        s <- 0 until w.length
        l <- 1 to math.min(Unigram.MaxPieceLen, w.length - s)
      } yield (w.substring(s, s + l), c)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val singles = seed.keys.filter(_.length == 1).toSeq.sorted
    var art = refScores(refSelect(seed, singles, seedMultis))
    for (_ <- 0 until rounds) {
      val scores = art.toMap
      val em = wt.flatMap { case (w, c) =>
        refViterbi(w, scores).map(_ -> c)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      art = refScores(refSelect(em, singles, vocabMultis))
    }
    art
  }

  private def corpusWordTypes: Seq[(String, Long)] =
    Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  // ---- specs ----

  test("c75 trained artifact equals the driver EM brute force") {
    val got = Unigram.trainUnigram(spark, sfDir)
    val want = refTrain(corpusWordTypes,
      Unigram.SeedMultis, Unigram.VocabMultis, Unigram.Rounds)
    assert(got == want,
      "distributed hard-EM must match the driver reference exactly")
    assert(got.exists(_._1.length > 1), "sanity: multi-char pieces learned")
  }

  test("c75 segmentation equals the driver Viterbi on every word type") {
    import spark.implicits._
    val art = Unigram.trainUnigram(spark, sfDir)
    val scores = art.toMap
    val got = corpusWordTypes.map(_._1).toDF("w")
      .select(col("w"), Unigram.segment(col("w"), art).as("ts"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    got.foreach { case (w, ts) =>
      assert(ts == refViterbi(w, scores), s"segmentation of '$w'")
      assert(ts.mkString("") == w, s"'$w' must tile losslessly")
    }
  }

  test("c75 training is partition-invariant (1 thread ≡ 32)") {
    import spark.implicits._
    val wt = corpusWordTypes.toDF("w", "wcnt")
    val a = Unigram.trainUnigramOn(wt.repartition(1))
    val b = Unigram.trainUnigramOn(wt.repartition(32))
    assert(a == b, "the artifact must be a pure function of the data")
  }

  test("c75 unknown chars fall back to UNK singles, in-vocab paths win") {
    import spark.implicits._
    val art = Unigram.trainUnigram(spark, sfDir)
    val scores = art.toMap
    // a word with a char the corpus never saw still tokenizes, one UNK
    // single per unknown char, and known substrings still merge
    val w = "scanQ"
    assert(!scores.contains("Q"))
    val got = Seq(w).toDF("w")
      .select(Unigram.segment(col("w"), art).as("ts"))
      .collect()(0).getSeq[String](0).toSeq
    assert(got == refViterbi(w, scores))
    assert(got.last == "Q" && got.mkString("") == w)
  }

  test("c75 compresses below the character-split ceiling") {
    val art = Unigram.trainUnigram(spark, sfDir)
    val wt = corpusWordTypes
    val chars = wt.map { case (w, c) => w.length.toLong * c }.sum
    val scores = art.toMap
    val toks = wt.map { case (w, c) => refViterbi(w, scores).size.toLong * c }.sum
    assert(toks < chars,
      s"unigram tokens $toks must compress below the char ceiling $chars")
  }

  test("c78 fertility equals a driver re-derivation on every doc") {
    val art = Unigram.trainUnigram(spark, sfDir)
    val scores = art.toMap
    // word lists derive through the SAME Spark split/lower the operator
    // uses; the TOKEN counts re-derive through the independent driver
    // Viterbi — what the test actually pins
    val docsWs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => length(w) >= 1).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq)
    val want = docsWs.filter(_._2.nonEmpty).map { case (id, ws) =>
      val nw = ws.size.toLong
      val nt = ws.map(w => refViterbi(w, scores).size.toLong).sum
      val fr = BigDecimal(nt.toDouble / nw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, nw, nt, fr)
    }.sortBy(_._1).toSeq
    val got = Unigram.c78UnigramFertility(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == want, "c78 must equal the driver fertility re-derivation")
    // the evaluation the row exists for: corpus-wide compression below
    // the char-split ceiling (each word as single-char pieces)
    val chars = docsWs.flatMap(_._2).map(_.length.toLong).sum
    val toks = want.map(_._3).sum
    assert(toks < chars,
      s"unigram doc tokens $toks must compress below the char ceiling $chars")
  }

  test("d36 streaming unigram tokenize equals the driver derivation, " +
      "incl. UNK fallback docs") {
    import spark.implicits._
    val art = Unigram.trainUnigram(spark, sfDir)
    val scores = art.toMap
    // a char the corpus never saw, surviving lower(): exercises the UNK
    // single fallback on the ingest path
    val unkChar = "éß€#".find(c => !scores.contains(c.toString)).get
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val edge = Seq((9101L, s"zz${unkChar}x plain words"),
      (9102L, null.asInstanceOf[String]), (9103L, ""))
    val docs = corpus ++ edge
    val wsMap = docs.toDF("doc_id", "text")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), w => length(w) >= 1).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val want = wsMap.toSeq.map { case (id, ws) =>
      val toks = ws.flatMap(w => refViterbi(w, scores))
      (id, ws.size.toLong, toks.size.toLong, toks.toVector)
    }.sortBy(_._1)
    val sink = drainStream(docs) { s =>
      Unigram.tokenizeDocs(s.toDF("doc_id", "text"), art)
    }
    val got = sink.orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getSeq[String](3).toVector))
    assert(got.toSeq == want,
      "streamed unigram token payloads must equal the driver derivation")
    val unkRow = got.find(_._1 == 9101L).get
    assert(unkRow._4.contains(unkChar.toString.toLowerCase),
      s"the unseen char must surface as an UNK single: ${unkRow._4}")
    assert(unkRow._4.mkString("") == wsMap(9101L).mkString(""),
      "UNK docs must still tile losslessly")
    assert(!got.exists(_._1 == 9102L), "null text must not emit a row")
    assert(got.find(_._1 == 9103L).exists(r => r._2 == 0L && r._4.isEmpty),
      "empty text emits the documented n_words = 0 row")
    ()
  }

  test("c75 prune keeps every single char and respects the vocab cap") {
    import spark.implicits._
    // a synthetic corpus where pruning provably bites: many distinct
    // bigrams, tiny multi-char budget
    val wt = Seq(("abab", 50L), ("cdcd", 40L), ("efef", 30L), ("gh", 1L))
      .toDF("w", "wcnt")
    val art = Unigram.trainUnigramOn(wt, seedMultis = 100,
      vocabMultis = 2, rounds = 2)
    val (singles, multis) = art.map(_._1).partition(_.length == 1)
    assert(singles.sorted == Seq("a", "b", "c", "d", "e", "f", "g", "h"),
      "every corpus char survives pruning (coverage)")
    assert(multis.size <= 2, s"vocab cap violated: $multis")
    assert(art == refTrain(Seq(("abab", 50L), ("cdcd", 40L), ("efef", 30L),
      ("gh", 1L)), 100, 2, 2))
  }
}
