package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input is a pure function of the seed
  * and the size arguments; the program sees only the files or socket
  * lines written from these values. */
object Gen {

  /** One stream event: its ND-JSON line and the canonical text its
    * decoded Arrow row must reproduce (fields in schema order; lists as
    * `[a,b]`). */
  final case class Event(json: String, canonical: String)

  private def listJson(a: Array[Long]): String = a.mkString("[", ",", "]")

  // -------------------------------------------------------------- streams

  private val TripLists: Seq[(String, Int)] = Seq(
    "sec_in_band" -> 12, "miles_in_time_range" -> 24,
    "const_speed_miles_in_band" -> 12, "vary_speed_miles_in_band" -> 12,
    "sec_decel" -> 10, "sec_accel" -> 10, "braking" -> 6, "accel" -> 6)
  private val TripTailLists: Seq[(String, Int)] =
    Seq("small_speed_var" -> 13, "large_speed_var" -> 13)

  /** bolson's wide, nested `trip_report`: 19 fields, ten fixed-length
    * u64 lists. Values stay in illex's 0..2047 range. */
  def trip(r: SplittableRandom): Event = {
    def u(): Long = r.nextInt(2048).toLong
    def lst(n: Int): Array[Long] = Array.fill(n)(u())
    val ts = f"20${10 + r.nextInt(15)}%02d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d" +
      f"T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d+00:00"
    val fields = Seq[(String, Any)]("timestamp" -> ts, "timezone" -> u(),
      "vin" -> r.nextInt(1 << 30).toLong, "odometer" -> r.nextInt(1 << 20).toLong,
      "hypermiling" -> r.nextBoolean(), "avgspeed" -> u()) ++
      TripLists.map { case (n, k) => n -> lst(k) } ++
      Seq("orientation" -> r.nextBoolean()) ++
      TripTailLists.map { case (n, k) => n -> lst(k) } ++
      Seq("accel_decel" -> u(), "speed_changes" -> u())
    render(fields)
  }

  /** bolson's `battery_status`: one u64 list. The first two values carry
    * the event's sequence number (seq / 2048, seq % 2048), so a decoded
    * row names the event it came from. */
  def battery(r: SplittableRandom, seq: Int): Event = {
    val n = 8 + r.nextInt(17)
    val v = Array.tabulate[Long](n) {
      case 0 => (seq / 2048).toLong
      case 1 => (seq % 2048).toLong
      case _ => r.nextInt(2048).toLong
    }
    render(Seq("voltage" -> v))
  }

  def batterySeq(values: java.util.List[_]): Int =
    (values.get(0).toString.toLong * 2048 + values.get(1).toString.toLong).toInt

  private def render(fields: Seq[(String, Any)]): Event = {
    def one(v: Any): String = v match {
      case a: Array[Long] => listJson(a)
      case s: String => "\"" + s + "\""
      case x => x.toString
    }
    val json = fields.map { case (k, v) => "\"" + k + "\":" + one(v) }.mkString("{", ",", "}")
    val canon = fields.map {
      case (_, a: Array[Long]) => listJson(a)
      case (_, x) => x.toString
    }.mkString("|")
    Event(json, canon)
  }

  // ----------------------------------------------------------- web corpus

  /** Raw-HTML crawl corpus with planted structure, in the shares the
    * repository's own corpus generator (`tools.GenData`, its `documents`
    * and `raw_web` tables) plants: near duplicates 5% (an earlier page's
    * text plus the word "dup"), exact duplicates 0.16% (1 in 625; same
    * text, different boilerplate), malformed markup 1 in 13 (unterminated
    * script), U+FFFD 1 in 11 and mojibake 1 in 7. `kinds` counts each
    * plant. */
  final case class WebCorpus(docs: IndexedSeq[(Long, String)], kinds: Map[String, Int]) {
    def bytes: Long = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  val WebShares: Seq[(String, Double)] = Seq("exact_dup" -> 1.0 / 625, "near_dup" -> 0.05,
    "malformed" -> 1.0 / 13, "fffd" -> 1.0 / 11, "mojibake" -> 1.0 / 7)

  private val Syllables = Array("ka", "lo", "mi", "tor", "sen", "va", "rin", "quo",
    "del", "fa", "nu", "pre", "sta", "gel", "bri", "ox", "mun", "tha", "ze", "cor")

  private def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n)
      seen += (0 until 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    seen.toArray
  }

  /** Zipf(1) sampler over `n` ranks by inverse CDF. */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def next(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def web(seed: Long, nDocs: Int): WebCorpus = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(r, 3000)
    val zipf = new Zipf(vocab.length)
    def para(): Array[String] = Array.fill(20 + r.nextInt(40))(vocab(zipf.next(r)))
    val bodies = scala.collection.mutable.ArrayBuffer[Array[Array[String]]]()
    val kinds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    // exact counts, in seeded order after ten leading bases: the plant
    // counts, and so the work, do not vary with the seed
    val plan = {
      val n = nDocs - 10
      val planted = WebShares.flatMap { case (k, share) => Seq.fill(math.round(n * share).toInt)(k) }
      val all = (planted ++ Seq.fill(n - planted.size)("base")).toArray
      (all.indices.reverse).foreach { i =>
        val j = r.nextInt(i + 1)
        val t = all(i); all(i) = all(j); all(j) = t
      }
      Seq.fill(10)("base") ++ all
    }
    val docs = (0 until nDocs).map { i =>
      val id = i.toLong
      val kind = plan(i)
      kinds(kind) += 1
      val body: Array[Array[String]] = kind match {
        case "exact_dup" => bodies(r.nextInt(bodies.size))
        case "near_dup" =>
          val b = bodies(r.nextInt(bodies.size))
          b.updated(b.length - 1, b.last :+ "dup")
        case _ => Array.fill(3 + r.nextInt(5))(para())
      }
      if (kind == "base") bodies += body
      val paras = body.map(_.mkString(" "))
      val shown = kind match {
        case "fffd" => paras.updated(0, paras(0) + "\uFFFD")
        case "mojibake" => paras.updated(0, paras(0) + " \u00C3\u00A9")
        case _ => paras
      }
      val script = if (kind == "malformed") "" else "</script>"
      val html =
        s"<html><head><title>page $id</title><style>p{margin:0}</style>" +
          s"<script>var id=$id;$script</head><body><nav><a href=\"/\">home</a> " +
          s"<a href=\"/about\">about</a></nav>" +
          shown.map(p => s"<p>$p</p>").mkString("\n") +
          s"<div class=\"ad\">ad unit $id</div><footer>&copy; site $id</footer></body></html>"
      (id, html)
    }
    WebCorpus(docs, kinds.toMap)
  }

  // ---------------------------------------------------------------- media

  /** PGM images and WAV clips, shaped after the per-modality figures the
    * repository records for its media corpora (docs per distinct hash:
    * about 50 on the cliquey image and audio corpora, about 1.2 on the
    * diffuse video frames). Images form a few large near-duplicate
    * cliques: each member copies its clique's base raster, adds noise on
    * pixels the 8x8 thumbnail never samples, and every other member flips
    * one hash bit on purpose, so a clique holds two distinct hashes.
    * Audio is diffuse, with every sixth clip a copy of an earlier one.
    * `planted` lists (base, member) pairs whose hashes are at most 3 bits
    * apart by construction. */
  final case class MediaCorpus(rows: IndexedSeq[(Long, String, Array[Byte])],
                               planted: Seq[(Long, Long)],
                               cliqueMembers: Int, audioCopies: Int) {
    def bytes: Long = rows.map(_._3.length.toLong).sum
    def docsPerHash(mediaType: String): Double = {
      val hs = rows.filter(_._2 == mediaType)
        .map(r => graft.operators.Multimodal.phashOf(r._1, r._2, r._3))
      hs.size.toDouble / math.max(1, hs.distinct.size)
    }
  }

  private def nn(i: Int, outN: Int, inN: Int): Int = (i.toLong * inN / outN).toInt

  private def pgm(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    header ++ raster
  }

  private def wav(samples: Array[Short]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * samples.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(2 * samples.length)
    samples.foreach(s => bb.putShort(s))
    bb.array()
  }

  def media(seed: Long, nImages: Int, nAudio: Int, cliques: Int = 6): MediaCorpus = {
    val r = new SplittableRandom(seed)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Array[Byte])]()
    val planted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var id = 0L
    def randRaster(w: Int, h: Int) = Array.fill(w * h)(r.nextInt(251).toByte)
    // clique bases first, so each member's base has the smaller id
    val (bw, bh) = (64, 48)
    val bases = (0 until cliques).map { _ =>
      val raster = randRaster(bw, bh)
      rows += ((id, "image", pgm(bw, bh, raster))); id += 1
      (id - 1, raster)
    }
    val sampledX = (0 until 8).map(nn(_, 8, bw)).toSet
    val sampledY = (0 until 8).map(nn(_, 8, bh)).toSet
    var members = 0
    (cliques until nImages).foreach { i =>
      val (baseId, base) = bases((i - cliques) % bases.length)
      val m = base.clone()
      var p = 0
      while (p < m.length) {
        if (!(sampledX(p % bw) && sampledY(p / bw)))
          m(p) = math.min(250, math.max(0, (m(p) & 0xFF) + r.nextInt(7) - 3)).toByte
        p += 1
      }
      // every other member flips thumbnail row 0's last comparison
      // (col 6 vs 7)
      if ((i - cliques) / cliques % 2 == 1) {
        val row = 0
        val a = m(row + nn(6, 8, bw)) & 0xFF
        val b = m(row + nn(7, 8, bw)) & 0xFF
        m(row + nn(7, 8, bw)) = (if (a < b) a else a + 1).toByte
      }
      rows += ((id, "image", pgm(bw, bh, m)))
      planted += ((baseId, id))
      members += 1
      id += 1
    }
    val audio = scala.collection.mutable.ArrayBuffer[(Long, Array[Short])]()
    var copies = 0
    (0 until nAudio).foreach { j =>
      if (j >= 6 && j % 6 == 0) {
        val (srcId, s) = audio(r.nextInt(audio.size))
        rows += ((id, "audio", wav(s)))
        planted += ((srcId, id))
        copies += 1
      } else {
        val s = Array.fill(300 + r.nextInt(900))((r.nextInt(65536) - 32768).toShort)
        audio += ((id, s))
        rows += ((id, "audio", wav(s)))
      }
      id += 1
    }
    MediaCorpus(rows.toIndexedSeq, planted.toSeq, members, copies)
  }
}
