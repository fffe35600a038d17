package graft

import org.apache.spark.sql.functions._

import graft.operators.Extract

/** Batch specs for the raw-web extraction stage (SURVEY §2 c117–c118):
  * the generic operators on adversarial hand-built inputs — the cases
  * the closed-form gate corpus cannot exercise. */
class ExtractSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private def extract(html: String*): Seq[(Boolean, Long, String)] =
    extractMin(4, html: _*)

  private def extractMin(minWords: Int,
                         html: String*): Seq[(Boolean, Long, String)] = {
    import spark.implicits._
    Extract.htmlExtractOn(
        html.zipWithIndex.map { case (h, i) => (i.toLong, h) }
          .toDF("doc_id", "html"),
        minWords = minWords)
      .orderBy("doc_id")
      .select("well_formed", "n_lines", "extracted")
      .collect().toSeq.map(r => (r.getBoolean(0), r.getLong(1), r.getString(2)))
  }

  test("c117 extracts body text, drops boilerplate lines under the density floor") {
    val Seq((ok, n, text)) = extract(
      "<html><head><title>doc 1</title></head><body>" +
        "<nav><a href=\"/\">home</a></nav>" +
        "<p>one two three four five</p>" +
        "<footer>copyright 2026</footer></body></html>")
    assert(ok && n == 1L && text == "one two three four five")
  }

  test("c117 scrubs terminated script/style payloads entirely") {
    val Seq((ok, _, text)) = extract(
      "<p>keep these four words</p>" +
        "<script type=\"text/javascript\">var secret = 'leak leak leak leak';</script>" +
        "<style media=\"all\">body { color: red; }</style>" +
        "<p>and these four too</p>")
    assert(ok)
    assert(text == "keep these four words\nand these four too")
    assert(!text.contains("secret") && !text.contains("color"))
  }

  test("c117 refuses malformed markup: unterminated script never leaks") {
    val Seq((ok, n, text)) = extract(
      "<p>early line with four words</p>" +
        "<script>var secret = 'leak leak leak leak';")
    assert(!ok, "unterminated <script> must flag well_formed = false")
    assert(n == 1L && text == "early line with four words")
    assert(!text.contains("secret"), "script payload must never leak into text")
  }

  test("c117 refuses unterminated style and comment the same way") {
    val Seq((okStyle, _, tStyle), (okCmt, _, tCmt)) = extract(
      "<p>kept kept kept kept</p><style>p { display: none }",
      "<p>kept kept kept kept</p><!-- unterminated trailing comment")
    assert(!okStyle && tStyle == "kept kept kept kept")
    assert(!okCmt && tCmt == "kept kept kept kept")
  }

  test("c117 handles uppercase tags, comments, <br>, entities and whitespace") {
    // minWords = 1: this case pins tag/entity mechanics, not the floor
    val Seq((ok, n, text)) = extractMin(1,
      "<P>ALPHA beta &amp; gamma &lt;delta&gt;</P>" +
        "<!-- a comment <p>ghost ghost ghost ghost</p> -->" +
        "first  half<BR/>second half &nbsp; here" +
        "<DIV>tail line kept &quot;quoted&quot;</DIV>")
    assert(ok && n == 4L)
    assert(!text.contains("ghost"), "commented-out markup must not leak")
    assert(text ==
      "ALPHA beta & gamma <delta>\nfirst half\nsecond half here\ntail line kept \"quoted\"")
  }

  test("c117 carries non-markup columns through and drops null markup rows") {
    import spark.implicits._
    val out = Extract.htmlExtractOn(
      Seq((1L, "en", "<p>four words right here</p>"),
        (2L, "fr", null))
        .toDF("doc_id", "lang", "html"))
    assert(out.columns.toSeq ==
      Seq("doc_id", "lang", "well_formed", "n_lines", "extracted"))
    val rows = out.collect()
    assert(rows.length == 1 && rows(0).getString(1) == "en")
  }

  test("c117 gate row matches the closed-form expectation on the spec corpus") {
    val got = Extract.c117HtmlExtract(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.length == docs.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 13 == 0) {
        assert(!r.getAs[Boolean]("well_formed"))
        assert(r.getAs[Long]("n_lines") == 0L)
        assert(r.getAs[String]("extracted") == "")
      } else {
        assert(r.getAs[Boolean]("well_formed"))
        assert(r.getAs[String]("extracted") == s"intro $id ${docs(id)} & fin")
      }
    }
  }

  private def flag(texts: String*): Seq[(Long, Long, Long, Boolean, String)] = {
    import spark.implicits._
    Extract.encodingFlagOn(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"))
      .orderBy("doc_id")
      .select("n_fffd", "n_ctrl", "n_moji", "ok", "repaired")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getString(4)))
  }

  test("Tables.fanOut on and off give the same rows: c117, c118, c119 and " +
    "the shingle table from the fanned and the unfanned documents frame") {
    import graft.operators.Dedup
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def fannedPlan: Boolean = Tables.documentsFanned(spark, sfDir)
      .queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM")
    def gateRows(): Seq[Seq[String]] = Seq(
      Extract.c117HtmlExtract(spark, sfDir),
      Extract.c118EncodingFlag(spark, sfDir),
      Extract.c119CrawlPipeline(spark, sfDir)).map(rows)
    val on = gateRows()
    val onFanned = fannedPlan
    // the floor is off once the scan itself yields >= parallelism splits:
    // cap the split size at a 1/N-th of the file
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    val bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    spark.conf.set(key,
      (bytes / spark.sessionState.conf.numShufflePartitions).toString)
    val (off, offFanned) =
      try (gateRows(), fannedPlan) finally spark.conf.set(key, prev)
    assert(onFanned && !offFanned, "both branches of the floor must be taken")
    Seq("c117", "c118", "c119").zip(on.zip(off)).foreach { case (row, (a, b)) =>
      assert(a.nonEmpty && a == b, s"$row differs with the floor off")
    }
    // the memoized shingle table is built from the fanned frame
    assert(rows(spark.read.parquet(Dedup.shingleTablePath(spark, sfDir))) ==
      rows(Dedup.shingleRows(Tables.documents(spark, sfDir))))
  }

  test("c118 clean text is ok and repairs to itself; \\t \\n \\r stay legal") {
    val Seq((f, c, m, ok, rep)) = flag("clean text\twith\nlegal\rcontrols")
    assert(f == 0 && c == 0 && m == 0 && ok)
    assert(rep == "clean text\twith\nlegal\rcontrols")
  }

  test("c118 counts replacement chars and C0/C1 controls, and scrubs them") {
    val Seq((f, c, m, ok, rep)) =
      flag("a\uFFFDb\uFFFDc \u0001mid\u009Fend \u007Fdel")
    assert(f == 2 && c == 3 && m == 0 && !ok)
    assert(rep == "abc midend del")
  }

  test("c118 flags mojibake digraphs but never destroys them in repair") {
    // é as UTF-8-read-as-latin1 ("Ã©"), ’ likewise ("â€™" = E2 80 99)
    val moji = "cafÃ© isnât plain"
    val Seq((f, c, m, ok, rep)) = flag(moji)
    assert(f == 0 && m == 2 && !ok)
    // the â€™ digraph's continuation chars are genuine C1 controls —
    // counted as such, but the repair must keep BOTH digraphs intact
    // (the self-replacement group: only bare controls scrub)
    assert(c == 2)
    assert(rep == moji, "mojibake must survive repair byte-for-byte")
  }

  test("c118 gate row matches the closed-form plants on the spec corpus") {
    val got = Extract.c118EncodingFlag(spark, sfDir).collect()
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (ef, ec, em) =
        if (id % 11 == 0) (1L, 0L, 0L)
        else if (id % 13 == 0) (0L, 1L, 0L)
        else if (id % 7 == 0) (0L, 0L, 1L)
        else (0L, 0L, 0L)
      assert(r.getAs[Long]("n_fffd") == ef, s"doc $id n_fffd")
      assert(r.getAs[Long]("n_ctrl") == ec, s"doc $id n_ctrl")
      assert(r.getAs[Long]("n_moji") == em, s"doc $id n_moji")
      assert(r.getAs[Boolean]("ok") == (ef + ec + em == 0), s"doc $id ok")
    }
    assert(got.exists(!_.getAs[Boolean]("ok")) && got.exists(_.getAs[Boolean]("ok")))
  }

  test("c117 tags sharing a block-name prefix stay inline (r20 word-boundary fix)") {
    // <link>/<track>/<progress>/<param> prefix-matched li/tr/p before the
    // (?=[\s/>]) anchor and became line breaks, splitting real lines into
    // sub-floor fragments
    val Seq((ok, n, text)) = extract(
      "<p>alpha beta <link rel=\"x\"/> gamma <track kind=\"c\"> delta</p>" +
        "<p>one <progress value=\"1\"> two three <param name=\"p\"> four</p>")
    assert(ok && n == 2L)
    assert(text == "alpha beta gamma delta\none two three four")
  }

  test("c118 detects UTF-8-read-as-cp1252 mojibake and keeps it in repair (r20)") {
    // â€™ = U+00E2 U+20AC U+2122 (the ftfy top offender) and Ã‰
    // (É's C3 89 read as cp1252: U+00C3 U+2030) — neither contains a
    // latin1 continuation char, so the old class missed both
    val s = "itâ€™s a cafÃ‰ here"
    val Seq((f, c, m, ok, rep)) = flag(s)
    assert(f == 0 && c == 0 && m == 2 && !ok)
    assert(rep == s, "cp1252 mojibake must survive repair byte-for-byte")
  }

  test("c119 crawlPipelineOn: duplicate extracted lines collapse to the min-id canonical") {
    import spark.implicits._
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val wrap = (b: String) => s"<html><body><p>$b</p></body></html>"
    val got = Extract.crawlPipelineOn(
        Seq((0L, wrap(body)), (1L, wrap(body)), (2L, wrap(body + " lambda")),
          (3L, "<p>" + body + "</p><script>var x=1;"))
          .toDF("doc_id", "html"))
      .orderBy("doc_id")
      .select("doc_id", "well_formed", "enc_ok", "q_keep", "is_dup", "kept")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
    assert(got == Seq(
      (0L, true, true, true, false, true),  // canonical
      (1L, true, true, true, true, false),  // exact dup of 0
      (2L, true, true, true, false, true),  // unique survivor
      // refused: the pre-script line still extracts (and would pass
      // quality), but well_formed=false keeps it out of dedup + release
      (3L, false, true, true, false, false)))
  }

  test("c119 gate row matches a full JVM recompute of the composed pipeline") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // third-engine recompute: the closed-form branch algebra + c35's
    // exact-render rule battery + md5-canonical dedup, all in plain JVM
    def ratio6(num: Long, den: Long): Double =
      ((2000000L * num + den) / (2L * den)).toDouble / 1e6
    def repairedOf(id: Long): String =
      if (id % 13 == 0) ""
      else if (id % 11 != 0 && id % 7 == 0) s"doc ${docs(id)} Ã© & fin"
      else s"doc ${docs(id)} & fin"
    def qKeep(rep: String): Boolean = {
      val toks = rep.toLowerCase.split(" ", -1)
      val n = toks.length.toLong
      val counts = toks.groupBy(identity).map(_._2.length.toLong)
      n >= 10 && n <= 1000 &&
        ratio6(counts.size.toLong, n) >= 0.2 && ratio6(counts.max, n) <= 0.2
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wf = docs.keys.map(id => id -> (id % 13 != 0)).toMap
    val encOk = docs.keys.map(id =>
      id -> (id % 13 == 0 || (id % 11 != 0 && id % 7 != 0))).toMap
    val qk = docs.keys.map(id => id -> qKeep(repairedOf(id))).toMap
    val surv = docs.keys.filter(id => wf(id) && encOk(id) && qk(id)).toSet
    val canon = surv.groupBy(id => md5hex(repairedOf(id)))
      .map { case (_, ids) => ids.min -> ids }
    val canonOf = canon.flatMap { case (c, ids) => ids.map(_ -> c) }
    val got = graft.operators.Extract.c119CrawlPipeline(spark, sfDir).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("well_formed") == wf(id), s"doc $id well_formed")
      assert(r.getAs[Boolean]("enc_ok") == encOk(id), s"doc $id enc_ok")
      assert(r.getAs[Boolean]("q_keep") == qk(id), s"doc $id q_keep")
      val isDup = surv(id) && canonOf(id) != id
      assert(r.getAs[Boolean]("is_dup") == isDup, s"doc $id is_dup")
      assert(r.getAs[Boolean]("kept") == (surv(id) && !isDup), s"doc $id kept")
    }
  }
}
