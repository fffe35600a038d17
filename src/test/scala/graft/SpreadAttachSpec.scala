package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Multimodal}

/** `spreadAttach` is a plan choice priced from the data (docs per distinct
  * hash), so each bucket count must give the same candidate rows: the
  * spread only moves a clique's doc expansion across partition keys.
  * `phashClusterLabels` clusters at distinct-hash grain, so on the same
  * frames it must give the doc-grain components row for row. */
class SpreadAttachSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20261017L)

  private def hash56(): Long = rng.nextLong() & ((1L << 56) - 1)

  /** A copy of `h` with `k` distinct low-56 bits flipped. */
  private def flip(h: Long, k: Int): Long =
    rng.shuffle((0 until 56).toList).take(k).foldLeft(h)((x, b) => x ^ (1L << b))

  private def frame(hashes: Seq[Long]): DataFrame =
    hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "phash")

  /** Six cliques of 50 docs per hash, each clique with a 1-, 2- and 4-bit
    * neighbour hash (the 4-bit one must never pair with the clique). */
  private def cliquey: DataFrame = frame((0 until 6).flatMap { _ =>
    val h = hash56()
    Seq.fill(50)(h) ++ Seq.fill(5)(flip(h, 1)) ++ Seq.fill(3)(flip(h, 2)) ++
      Seq.fill(2)(flip(h, 4))
  })

  /** ~1.2 docs per hash: 250 random hashes, every fifth with an exact
    * copy and every seventh with a 3-bit neighbour. */
  private def diffuse: DataFrame = frame((0 until 250).flatMap { i =>
    val h = hash56()
    Seq(h) ++ (if (i % 5 == 0) Seq(h) else Nil) ++
      (if (i % 7 == 0) Seq(flip(h, 3)) else Nil)
  })

  private def empty: DataFrame = frame(Nil)

  /** One hash carried by 400 docs, plus a 2-bit neighbour on 3 more. */
  private def megaClique: DataFrame = {
    val h = hash56()
    frame(Seq.fill(400)(h) ++ Seq.fill(3)(flip(h, 2)))
  }

  /** Every unordered doc pair at hamming <= 3, by brute force. */
  private def brute(hashes: DataFrame): Seq[(Long, Long, Long)] = {
    val hs = hashes.as[(Long, Long)].collect()
    (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb).toLong if d <= 3
    } yield (a, b, d)).toSeq.sorted
  }

  private def candidates(hashes: DataFrame, buckets: Int): Seq[(Long, Long, Long)] =
    Multimodal.phashCandidates(hashes, maxHamming = 3, spreadBuckets = buckets)
      .as[(Long, Long, Long)].collect().toSeq.sorted

  test("phashCandidates is row-identical for spreadBuckets 1, 2, 7 and the " +
    "shuffle parallelism on cliquey, diffuse, empty and mega-clique hashes") {
    val n = spark.sessionState.conf.numShufflePartitions
    val frames = Seq("cliquey" -> cliquey, "diffuse" -> diffuse,
      "empty" -> empty, "mega-clique" -> megaClique)
    frames.foreach { case (name, hashes) =>
      val cached = hashes.cache()
      val want = brute(cached)
      Seq(1, 2, 7, n).foreach { b =>
        val got = candidates(cached, b)
        val same = got == want
        assert(same, s"$name: spreadBuckets=$b gives ${got.size} rows, brute " +
          s"force ${want.size}; missing ${want.diff(got).take(3)}, extra " +
          s"${got.diff(want).take(3)}")
      }
      if (name != "empty") assert(want.nonEmpty, s"$name must have pairs")
      cached.unpersist()
    }
  }

  /** The doc-grain label table: connected components over every doc pair. */
  private def docGrainLabels(hashes: DataFrame,
                             keyCols: Seq[String] = Nil): Seq[(Long, Long)] =
    Dedup.connectedComponentsAlternating(
      Multimodal.phashCandidates(hashes, maxHamming = 3, keyCols = keyCols)
        .select($"doc_a".as("u"), $"doc_b".as("v")))._1
      .as[(Long, Long)].collect().toSeq.sorted

  private def hashGrainLabels(hashes: DataFrame,
                              keyCols: Seq[String] = Nil): Seq[(Long, Long)] =
    Multimodal.phashClusterLabels(hashes, maxHamming = 3, keyCols = keyCols)
      .as[(Long, Long)].collect().toSeq.sorted

  test("phashClusterLabels equals doc-grain CC over phashCandidates on " +
    "cliquey, diffuse, empty and mega-clique hashes; singletons absent") {
    val frames = Seq("cliquey" -> cliquey, "diffuse" -> diffuse,
      "empty" -> empty, "mega-clique" -> megaClique)
    frames.foreach { case (name, hashes) =>
      val cached = hashes.cache()
      val want = docGrainLabels(cached)
      val got = hashGrainLabels(cached)
      assert(got == want, s"$name: hash grain gives ${got.size} labels, doc " +
        s"grain ${want.size}; missing ${want.diff(got).take(3)}, extra " +
        s"${got.diff(want).take(3)}")
      // a doc in no brute-force pair is a singleton and has no label
      val paired = brute(cached).flatMap { case (a, b, _) => Seq(a, b) }.toSet
      assert(got.map(_._1).toSet == paired, s"$name: labelled docs are the paired docs")
      if (name == "diffuse")
        assert(cached.count() > paired.size, "diffuse must have singleton docs")
      cached.unpersist()
    }
  }

  test("phashClusterLabels keeps an image and an audio doc with the same " +
    "phash in separate components") {
    val h = hash56()
    val near = flip(h, 1)
    val media = Seq((0L, "image", h), (1L, "audio", h), (2L, "image", h),
      (3L, "audio", near), (4L, "image", near), (5L, "audio", flip(h, 9)))
      .toDF("doc_id", "media_type", "phash")
    val got = hashGrainLabels(media, Seq("media_type"))
    assert(got == Seq(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
    assert(got == docGrainLabels(media, Seq("media_type")))
  }
}
