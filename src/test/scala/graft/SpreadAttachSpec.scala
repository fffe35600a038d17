package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Multimodal

/** `spreadAttach` is a plan choice priced from the data (docs per distinct
  * hash), so each bucket count must give the same candidate rows: the
  * spread only moves a clique's doc expansion across partition keys. */
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
}
