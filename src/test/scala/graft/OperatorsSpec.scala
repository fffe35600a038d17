package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SeqColumn, Similarity, TextOps}

class OperatorsSpec extends SparkSpec {

  test("driver contract: every registered query carries an oracle, and vice versa") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSqlFor(sfDir).keySet
    assert((queries -- oracles).isEmpty,
      s"queries without oracle (driver records only a weak rows check): ${queries -- oracles}")
    assert((oracles -- queries).isEmpty,
      s"orphan oracles: ${oracles -- queries}")
  }

  test("a4 seq is contiguous 0..n-1 and follows doc_id order") {
    val rows = SeqColumn.a4SeqColumn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("seq")).toSeq == (0L until rows.length).toSeq)
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.zip(ids.tail).forall { case (a, b) => a < b })
  }

  test("a4 seq survives multi-partition input") {
    val df = SeqColumn.withSeq(
      Tables.lineitem(spark, sfDir).repartition(7), Seq("l_orderkey", "l_linenumber"))
    val n = df.count()
    assert(df.agg(min("seq"), max("seq")).collect().head.toSeq == Seq(0L, n - 1))
  }

  test("c1 exact dedup keeps one canonical id per distinct text") {
    val df = Dedup.c1DedupExact(spark, sfDir)
    assert(df.count() == Tables.documents(spark, sfDir).select("text").distinct().count())
  }

  test("c5 rank-1 neighbor is the true argmax cosine (brute-force ground truth)") {
    val e = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val got = Similarity.c5AnnBrute(spark, sfDir).collect()
      .filter(_.getAs[Long]("rnk") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    for (q <- 0L until 5L) {
      val best = e.filter(_._1 >= 5).maxBy { case (_, v) => cos(e(q), v) }._1
      assert(got(q) == best, s"query $q")
    }
  }

  test("c7/c9 token counts agree between whitespace split and regex on this corpus") {
    val df = TextOps.c9TokenCount(spark, sfDir)
    assert(df.filter(col("ws_tokens") =!= col("alpha_tokens")).count() == 0,
      "corpus is lowercase words, so both tokenizations must coincide")
  }

  test("c10 fingerprints are unique per distinct text") {
    val df = TextOps.c10Fingerprint(spark, sfDir)
    assert(df.select("fingerprint").distinct().count() == df.count())
  }

  test("c16 tf-idf top term: one row per doc, score consistent with tf·N/df") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val rows = TextOps.c16Tfidf(spark, sfDir).collect()
    assert(rows.length == n, "exactly one top term per document")
    rows.foreach { r =>
      val expect = BigDecimal(r.getAs[Long]("tf") * n / r.getAs[Long]("df").toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("score_r") - expect) < 1e-9)
    }
  }

  test("c20 pii scrub: redacts a known PII string exactly, in pattern order") {
    import spark.implicits._
    val df = Seq("mail bob.smith+x@corp.example.org call +1-555-0042 host 192.168.1.7 done")
      .toDF("s")
      .select(TextOps.piiScrubbed(col("s")).as("scrubbed"))
    assert(df.collect().head.getString(0) ==
      "mail <EMAIL> call <PHONE> host <IP> done")
  }

  test("c20 pii scrub over documents: exactly one planted hit per pattern") {
    val rows = TextOps.c20PiiScrub(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L, "one planted email")
      assert(r.getAs[Long]("n_phones") == 1L, "one planted phone")
      assert(r.getAs[Long]("n_ips") == 1L, "one planted ip")
    }
  }

  test("c21 repetition ratio: exact on a handmade repetitive doc") {
    import spark.implicits._
    // "a b a b a b": 4 3-grams total, 2 distinct → dup_ratio 0.5, flagged
    val docs = Seq((1L, "a b a b a b"), (2L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val got = TextOps.repetitionRatio(docs, Dedup.shingleRows(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("dup_ratio"), r.getAs[Boolean]("flagged"))).toMap
    assert(got(1L) == ((4L, 2L, 0.5, true)))
    assert(got(2L) == ((2L, 2L, 0.0, false)))
  }

  test("c23 seq packing: pack ids are exactly the per-shard prefix-sum buckets") {
    val budget = 256L
    val rows = TextOps.c23SeqPack(spark, sfDir, budget).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"), r.getAs[Long]("pack_id")))
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.groupBy(_._2).foreach { case (_, shardRows) =>
      var cum = 0L
      shardRows.sortBy(_._1).foreach { case (id, _, n, gotCum, gotPack) =>
        assert(gotPack == cum / budget, s"doc $id pack")
        cum += n
        assert(gotCum == cum, s"doc $id cumsum")
      }
    }
    // pack ids never decrease within a shard
    rows.groupBy(_._2).foreach { case (_, sr) =>
      val packs = sr.sortBy(_._1).map(_._5)
      assert(packs.zip(packs.tail).forall { case (a, b) => a <= b })
    }
  }

  test("c24 decontam: n_shared equals a direct 8-gram overlap recomputation") {
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh8(t: String): Set[String] = {
      val toks = t.toLowerCase.split(" ", -1)
      if (toks.length < 8) Set.empty
      else toks.sliding(8).map(_.mkString(" ")).toSet
    }
    val benchShingles = texts.filter(_._1 % 50 == 0).values.flatMap(sh8).toSet
    val got = TextOps.c24Decontam(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated"))).toMap
    assert(got.keySet == texts.keySet.filter(_ % 50 != 0), "benchmark docs excluded")
    got.foreach { case (id, (n, c)) =>
      val expect = sh8(texts(id)).count(benchShingles.contains).toLong
      assert(n == expect, s"doc $id shared count")
      assert(c == (expect > 0))
    }
    assert(got.values.exists(_._2), "corpus near-dups should produce contamination hits")
  }

  test("c68 contamination report equals a direct eval-side recomputation") {
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh8(t: String): Set[String] = {
      val toks = t.toLowerCase.split(" ", -1)
      if (toks.length < 8) Set.empty
      else toks.sliding(8).map(_.mkString(" ")).toSet
    }
    val corpus = texts.filter(_._1 % 50 != 0)
      .map { case (id, t) => id -> sh8(t) }
    val got = TextOps.c68ContamReport(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hit_shingles"),
          r.getAs[Long]("n_hit_docs"), r.getAs[Double]("leak_share_r"))).toMap
    val evalIds = texts.keySet.filter(id => id % 50 == 0 && sh8(texts(id)).nonEmpty)
    assert(got.keySet == evalIds,
      "row set = eval docs with at least one shingle")
    evalIds.foreach { id =>
      val mine = sh8(texts(id))
      val hitSh = mine.filter(s => corpus.values.exists(_.contains(s)))
      val hitDocs = corpus.count(_._2.exists(mine.contains)).toLong
      val share = BigDecimal(hitSh.size.toDouble / mine.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) == ((mine.size.toLong, hitSh.size.toLong, hitDocs, share)),
        s"eval doc $id: got ${got(id)}")
    }
    assert(got.values.exists(_._3 > 0),
      "the near-dup generator corpus must compromise some benchmark item")
    assert(got.values.exists(_._3 == 0),
      "and leave some benchmark item clean - else the report is trivial")
  }

  test("c110 data recipe equals a driver recompute; caps, shares and refusals hold") {
    // independent re-derivation from the verified c35 verdicts + raw docs
    val keep = TextOps.c35QualityFilter(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("nt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val per = docs.groupBy(_._2).map { case (s, xs) =>
      (s, xs.length.toLong, xs.map(_._3).sum, xs.count(d => keep(d._1)).toLong)
    }.toSeq
    val want = TextOps.recipeRows(per)
    val got = TextOps.c110DataRecipe(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSeq
    assert(got == want, "c110 must equal the driver recompute")
    // plan invariants: epoch ceiling respected, shares sum to ~1 (each
    // 6-dp rounding contributes ≤ 5e-7 of drift), budget is non-trivial
    got.foreach { case (s, _, tk, _, _, pl, ep, _) =>
      assert(pl <= TextOps.RecipeMaxEpochs * tk, s"$s over-epochs")
      assert(ep <= TextOps.RecipeMaxEpochs.toDouble + 1e-9, s"$s epochs_r")
    }
    assert(math.abs(got.map(_._5).sum - 1.0) <= got.size * 5e-7, "weights")
    assert(math.abs(got.map(_._8).sum - 1.0) <= got.size * 5e-7, "shares")
    // the 4x cap leg, on the skew the gate corpus doesn't produce: a
    // tiny all-keep source next to a huge barely-kept one must cap at
    // exactly MaxEpochs x its own mass
    val skew = TextOps.recipeRows(Seq(
      ("tiny", 99L, 100L, 99L), ("huge", 1000L, 100000L, 1L)))
    val tiny = skew.find(_._1 == "tiny").get
    assert(tiny._6 == TextOps.RecipeMaxEpochs * 100L &&
      tiny._7 == TextOps.RecipeMaxEpochs.toDouble,
      s"tiny source must cap at ${TextOps.RecipeMaxEpochs}x: $tiny")
    // refusals: no keeps / zero-mass source
    assert(intercept[IllegalArgumentException] {
      TextOps.recipeRows(Seq(("s", 1L, 10L, 0L)))
    }.getMessage.contains("quality-keep"))
    assert(intercept[IllegalArgumentException] {
      TextOps.recipeRows(Seq(("a", 1L, 10L, 1L), ("z", 1L, 0L, 1L)))
    }.getMessage.contains("zero token mass"))
  }

  test("c111 recipe sample materializes exactly the c110 plan, both fractional legs") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val plan = TextOps.c110DataRecipe(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("tokens"), r.getAs[Long]("planned_tokens"))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = docs.map { case (d, s, t) =>
      val (tk, pl) = plan(s)
      val cut = f"${((BigInt(pl) % tk) * 65536 / tk).toLong}%04x"
      (d, s, pl / tk + (if (md5hex(t).take(4) < cut) 1L else 0L))
    }.sortBy(_._1).toSeq
    val got = TextOps.c111RecipeSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, "c111 must equal the driver materialization")
    // every copy count is ⌊epochs⌋ or ⌊epochs⌋+1, and the fractional
    // epoch genuinely splits some source (both legs execute)
    val byS = got.groupBy(_._2)
    byS.foreach { case (s, rows) =>
      val full = plan(s)._2 / plan(s)._1
      assert(rows.forall(r => r._3 == full || r._3 == full + 1),
        s"$s copies outside {⌊e⌋, ⌊e⌋+1}")
    }
    assert(byS.exists { case (_, rows) => rows.map(_._3).distinct.size == 2 },
      "no source's fractional epoch split — the sampling leg never ran")
    // the realized token mass lands within one source-mass of the plan
    val tokensOf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    plan.foreach { case (s, (tk, pl)) =>
      val realized = got.filter(_._2 == s).map(r => r._3 * tokensOf(r._1)).sum
      assert(math.abs(realized - pl) <= tk,
        s"$s realized $realized vs planned $pl (mass $tk)")
    }
  }

  test("c116 recipe audit: realized mass equals the driver fold; drift bounded by source mass") {
    val plan = TextOps.c110DataRecipe(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("tokens"), r.getAs[Long]("planned_tokens"))).toMap
    val sample = TextOps.c111RecipeSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nt = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = sample.groupBy(_._2).view
      .mapValues(_.map(r => r._3 * nt(r._1)).sum).toMap
    val got = TextOps.c116RecipeAudit(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == plan.keys.toSeq.sorted,
      "one audit row per planned source, source-ordered")
    got.foreach { case (s, pl, rl, dr) =>
      assert(pl == plan(s)._2 && rl == want(s) && dr == rl - pl,
        s"$s: ($pl, $rl, $dr) vs plan ${plan(s)._2} / driver ${want(s)}")
      // the provable bound: the fractional epoch can miss the planned
      // fraction by at most one source's token mass
      assert(math.abs(dr) <= plan(s)._1,
        s"$s drift $dr exceeds source mass ${plan(s)._1}")
    }
    assert(got.exists(_._4 != 0L),
      "corpus must exercise a nonzero drift (the audit's reason to exist)")
  }

  test("c112 shard manifest equals a driver recompute; order-invariant and tamper-evident") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val M = BigInt("2305843009213693951")
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def manifestOf(ds: Seq[(Long, String)]) =
      ds.map { case (d, t) =>
        val h = md5hex(s"$d:$t")
        (h.take(1), t.split(" ", -1).length.toLong,
          BigInt(h.substring(0, 15), 16), BigInt(h.substring(16, 31), 16))
      }.groupBy(_._1).map { case (s, xs) =>
        (s, xs.length.toLong, xs.map(_._2).sum,
          (xs.map(_._3).sum % M).toLong, (xs.map(_._4).sum % M).toLong)
      }.toSeq.sortBy(_._1)
    val want = manifestOf(docs.toSeq)
    val got = TextOps.c112ShardManifest(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, "c112 must equal the driver recompute")
    assert(got.map(_._2).sum == docs.length, "shards must partition the corpus")
    // order invariance: the digest is a pure multiset function
    assert(manifestOf(docs.reverse.toSeq) == want, "digest must ignore row order")
    // tamper evidence: altering ONE doc's text moves exactly its
    // shard's manifest row (hash moves; the doc may also change shard)
    val tampered = manifestOf(docs.toSeq.updated(0,
      (docs(0)._1, docs(0)._2 + " x")))
    assert(tampered != want, "a one-doc edit must move the manifest")
    assert(tampered.count(r => !want.contains(r)) <= 2,
      "an edit touches at most the source and destination shards")
  }

  test("c25 mixture resample: rarest language keeps ~everything, head flattens toward it") {
    val before = Tables.documents(spark, sfDir).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextOps.c25MixtureResample(spark, sfDir).collect()
    val after = kept.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    val nMin = before.values.min
    before.foreach { case (lang, n) =>
      val rate = after.getOrElse(lang, 0L).toDouble / n
      val want = math.sqrt(nMin.toDouble / n)
      // md5 buckets are uniform; generous tolerance at small SF
      assert(math.abs(rate - want) < 0.25, f"$lang: kept $rate%.2f want ~$want%.2f")
    }
    // deterministic: same rows on a re-run
    val again = TextOps.c25MixtureResample(spark, sfDir).collect()
    assert(kept.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("c17 stratified sample: deterministic, and en is sampled ~half the others' rate") {
    val s1 = TextOps.c17StratifiedSample(spark, sfDir).collect()
    val s2 = TextOps.c17StratifiedSample(spark, sfDir).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq, "re-runs identical")
    assert(s1.forall { r =>
      val cap = if (r.getString(1) == "en") "40" else "80"
      r.getString(2) < cap
    })
    // rates land near 25% / 50% (md5 is uniform; generous tolerance at sf0.001)
    val docs = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val enRate = kept.getOrElse("en", 0).toDouble / docs("en")
    assert(enRate > 0.10 && enRate < 0.40, s"en rate $enRate")
    val otherKept = kept.filter(_._1 != "en").values.sum
    val otherTotal = docs.filter(_._1 != "en").values.sum
    val otherRate = otherKept.toDouble / otherTotal
    assert(otherRate > 0.35 && otherRate < 0.65, s"other rate $otherRate")
  }

  test("c34 vocab top-k is the exact frequency-ordered cut with true tf and df") {
    val texts = Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").toLowerCase.split(" ").toSeq)
    val tf = texts.flatMap(_._2).groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val df = texts.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, a) => t -> a.map(_._2).distinct.length.toLong }
    val expected = tf.toSeq.sortBy { case (t, n) => (-n, t) }.take(100)
    val got = TextOps.c34VocabTopk(spark, sfDir).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df")))
    assert(got.map(g => (g._1, g._2)).toSeq == expected)
    got.foreach { case (t, _, d) => assert(d == df(t), s"df($t)") }
  }

  test("c35 quality battery recomputes from raw text; keep = AND of the rules") {
    val texts = Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").toLowerCase.split(" ").toSeq)
      .toMap
    val rows = TextOps.c35QualityFilter(spark, sfDir).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val ts = texts(r.getAs[Long]("doc_id"))
      val counts = ts.groupBy(identity).map(_._2.length)
      assert(r.getAs[Long]("n_words") == ts.length)
      assert(r.getAs[Long]("n_types") == counts.size)
      assert(r.getAs[Long]("max_tc") == counts.max)
      assert(r.getAs[Boolean]("keep") ==
        (r.getAs[Boolean]("rule_len") && r.getAs[Boolean]("rule_ttr") &&
          r.getAs[Boolean]("rule_top_share")))
    }
    // the battery must discriminate on this corpus, not rubber-stamp it
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("c39 chunking: chunk starts/sizes/text recompute from raw tokens; no-overlap config partitions exactly") {
    val texts = Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1).toSeq)
      .toMap
    val byDoc = TextOps.c39Chunk(spark, sfDir).collect() // chunkSize 32, stride 24
      .groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == texts.keySet, "every doc must chunk, even empty ones")
    byDoc.foreach { case (id, rs) =>
      val toks = texts(id); val n = toks.length
      val sorted = rs.sortBy(_.getAs[Long]("chunk_id"))
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ==
        (0L to (n - 1) / 24).toSeq, s"chunk ids of doc $id")
      sorted.foreach { r =>
        val s = r.getAs[Long]("chunk_id").toInt * 24
        val expect = toks.slice(s, math.min(s + 32, n))
        assert(r.getAs[String]("chunk_text") == expect.mkString(" "), s"doc $id chunk $s")
        assert(r.getAs[Long]("chunk_tokens") == expect.length)
      }
    }
    // stride == chunkSize → chunks partition the token stream: re-joining
    // them with the separator reconstructs every doc byte-for-byte
    TextOps.c39Chunk(spark, sfDir, chunkSize = 24, stride = 24).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .foreach { case (id, rs) =>
        val joined = rs.sortBy(_.getAs[Long]("chunk_id"))
          .map(_.getAs[String]("chunk_text")).mkString(" ")
        assert(joined == texts(id).mkString(" "), s"doc $id reconstruction")
      }
    // the corpus must actually exercise multi-chunk docs and short tails
    assert(byDoc.values.exists(_.length > 1))
    assert(byDoc.values.flatten.exists(_.getAs[Long]("chunk_tokens") < 32))
  }

  test("c40 shuffle-shard: positions dense per shard in hash order; prefix knob scales the shard count") {
    val docs = Tables.documents(spark, sfDir)
    val rows = TextOps.c40ShuffleShard(spark, sfDir).collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      assert(r.getAs[String]("shard") == r.getAs[String]("h").substring(0, 1))
    }
    rows.groupBy(_.getAs[String]("shard")).foreach { case (sh, rs) =>
      assert(sh.matches("[0-9a-f]"), s"shard $sh")
      val sorted = rs.sortBy(_.getAs[Long]("pos"))
      assert(sorted.map(_.getAs[Long]("pos")).toSeq == (0L until rs.length).toSeq,
        s"positions in shard $sh must be dense from 0")
      val hs = sorted.map(r => (r.getAs[String]("h"), r.getAs[Long]("doc_id")))
      assert(hs.zip(hs.tail).forall { case (a, b) =>
        a._1 < b._1 || (a._1 == b._1 && a._2 < b._2) },
        s"shard $sh order must be (h, doc_id)")
    }
    // 2-char prefix → finer shards, still dense and hash-prefixed
    val fine = TextOps.c40ShuffleShard(spark, sfDir, prefixLen = 2).collect()
    assert(fine.map(_.getAs[String]("shard")).distinct.length > 16)
    fine.groupBy(_.getAs[String]("shard")).foreach { case (sh, rs) =>
      assert(rs.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until rs.length).toSeq,
        s"fine shard $sh")
    }
  }

  test("c42 banded sampling recomputes from c41 scores; per-band rates differ and head keeps all") {
    val scores = TextOps.c41FreqScore(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_prob_r")).toMap
    val buckets = Tables.documents(spark, sfDir).collect()
      .map { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(r.getAs[String]("text").getBytes("UTF-8"))
        r.getAs[Long]("doc_id") -> md.take(1).map("%02x".format(_)).mkString
      }.toMap
    def bandOf(s: Double) =
      if (s >= 0.0335) "head" else if (s >= 0.0330) "middle" else "tail"
    val rows = TextOps.c42BandedSample(spark, sfDir).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("band") == bandOf(scores(id)), s"band of doc $id")
      assert(r.getAs[String]("bucket") == buckets(id), s"bucket of doc $id")
    }
    val kept = rows.map(_.getAs[Long]("doc_id")).toSet
    // membership: exactly the docs whose bucket clears their band's cap
    scores.foreach { case (id, s) =>
      val cap = bandOf(s) match {
        case "head" => "g"; case "middle" => "80"; case _ => "1a"
      }
      assert(kept.contains(id) == (buckets(id) < cap), s"membership of doc $id")
    }
    // the mixture must skew: head keeps everything, tail keeps a sliver
    val byBand = rows.groupBy(_.getAs[String]("band")).view.mapValues(_.length)
    val allHead = scores.values.count(_ >= 0.0335)
    assert(byBand.getOrElse("head", 0) == allHead, "head band must keep all docs")
    assert(byBand.getOrElse("middle", 0) > 0 && byBand.getOrElse("tail", 0) > 0,
      "middle and tail must both survive sampling on this corpus")
    assert(byBand("tail") < byBand("middle"), "tail rate must be the smallest")
  }

  test("chunkDocs properties hold for random (chunkSize, stride, doc) combos") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val genDoc = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "", "Zz9"))
      .map(_.mkString(" "))
    for (trial <- 0 until 10) {
      val chunkSize = sample(Gen.chooseNum(1, 40), trial * 31L + 1)
      val stride = sample(Gen.chooseNum(1, chunkSize), trial * 31L + 2)
      val docs = (0 until 25)
        .map(i => (i.toLong, sample(genDoc, trial * 1000L + i)))
      val rows = graft.operators.TextOps.chunkDocs(
          docs.toDF("doc_id", "text"), chunkSize, stride)
        .collect()
        .groupBy(_.getAs[Long]("doc_id"))
      docs.foreach { case (id, text) =>
        val toks = text.split(" ", -1).toSeq
        val chunks = rows(id).sortBy(_.getAs[Long]("chunk_id"))
        // ids are 0..⌊(n−1)/stride⌋ with no gaps
        assert(chunks.map(_.getAs[Long]("chunk_id")).toSeq ==
          (0L to (toks.length - 1) / stride).toSeq,
          s"trial $trial size=$chunkSize stride=$stride doc $id ids")
        // every chunk is exactly the slice it claims; every token covered
        var covered = 0
        chunks.foreach { r =>
          val s = r.getAs[Long]("chunk_id").toInt * stride
          val expect = toks.slice(s, math.min(s + chunkSize, toks.length))
          assert(r.getAs[String]("chunk_text") == expect.mkString(" "),
            s"trial $trial size=$chunkSize stride=$stride doc $id chunk $s")
          assert(r.getAs[Long]("chunk_tokens") == expect.length)
          covered = math.max(covered, s + expect.length)
        }
        assert(covered == toks.length,
          s"trial $trial size=$chunkSize stride=$stride doc $id coverage")
      }
    }
  }

  test("shuffleShard appends in place: all columns carried, dup doc_ids legal, reserved names rejected") {
    import spark.implicits._
    // duplicate doc_ids (a never-deduped re-ingest) must each keep a row
    // with their own dense position — no join-back fan-out
    val dups = Seq((1L, "alpha beta", "en"), (1L, "alpha beta", "en"),
      (2L, "gamma delta", "de")).toDF("doc_id", "text", "lang")
    val out = TextOps.shuffleShard(dups).collect()
    assert(out.length == 3, "every input row keeps exactly one output row")
    assert(out.forall(_.getAs[String]("lang") != null), "input columns carried")
    out.groupBy(_.getAs[String]("shard")).foreach { case (sh, rs) =>
      assert(rs.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until rs.length).toSeq,
        s"dense positions in shard $sh despite duplicate ids")
    }
    // reserved output names are a clear error, not a silent overwrite
    val clash = Seq((1L, "x", "oops")).toDF("doc_id", "text", "pos")
    val err = intercept[IllegalArgumentException](TextOps.shuffleShard(clash))
    assert(err.getMessage.contains("pos"), err.getMessage)
  }

  test("c41 frequency score recomputes from raw text; keep thresholds the rounded scale-free score") {
    val texts = Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").toLowerCase.split(" ", -1).toSeq)
      .toMap
    val ctf = texts.values.flatten.groupBy(identity).map { case (t, a) => t -> a.size.toLong }
    val total = texts.values.map(_.length).sum
    val rows = TextOps.c41FreqScore(spark, sfDir).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val ts = texts(r.getAs[Long]("doc_id"))
      val sum = ts.map(ctf).sum
      assert(r.getAs[Long]("n_tokens") == ts.length)
      assert(r.getAs[Long]("sum_ctf") == sum)
      assert(r.getAs[Long]("total_tokens") == total)
      val mean = BigDecimal(sum.toDouble / ts.length / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("mean_prob_r") == mean, s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Boolean]("keep") == (r.getAs[Double]("mean_prob_r") >= 0.033))
    }
    // the cutoff must discriminate on this corpus, not rubber-stamp it
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("c48 exact-count sample re-derives from raw text; count is exact and content-stable") {
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text")))
    def h(id: Long, t: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$t".getBytes("UTF-8"))
      md.map("%02x".format(_)).mkString
    }
    val expected = docs.map { case (id, lang, t) => (h(id, t), id, lang) }
      .sortBy { case (rk, id, _) => (rk, id) }.take(100)
      .map { case (rk, id, lang) => (id, lang, rk) }
    val rows = TextOps.c48SampleExact(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("rk")))
    assert(rows.length == 100, "exactly the budgeted count")
    assert(rows.toSeq == expected.toSeq)
  }

  test("c49 snapshot diff: every status re-derives from the closed-form construction") {
    val ids = Tables.documents(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    def expected(id: Long): String =
      if (id < 0) "removed" // negated-id ghost docs exist only in old
      else if (id % 13 == 0) "added" // absent from old
      else if (id % 11 == 0) "changed" // text mutated in old
      else "unchanged"
    val rows = TextOps.c49SnapshotDiff(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
    val ghosts = ids.filter(_ % 17 == 0).map(id => -id - 1)
    assert(rows.length == ids.size + ghosts.size, "one row per union id")
    rows.foreach { case (id, st) =>
      assert(st == expected(id), s"status of doc $id")
    }
    // the harness populates all four statuses
    val byStatus = rows.groupBy(_._2).view.mapValues(_.length)
    Seq("added", "removed", "changed", "unchanged").foreach { st =>
      assert(byStatus.getOrElse(st, 0) > 0, s"status $st must be non-empty")
    }
  }

  test("snapshotDiff property: statuses are exactly the id/content set algebra on random corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genCorpus: Gen[Map[Long, String]] = for {
      n <- Gen.chooseNum(0, 40)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 25L))
      // null texts included: md5(NULL) is NULL, and presence must not be
      // read off hash-nullness (a null-text doc in both sides is
      // unchanged; null vs non-null is changed)
      texts <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "", "δ",
        null: String))
    } yield ids.zip(texts).toMap // duplicate ids collapse — one text per id
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    for (trial <- 0 until 6) {
      val oldC = sample(genCorpus, 1000 + trial)
      val newC = sample(genCorpus, 2000 + trial)
      val got = graft.operators.TextOps.snapshotDiff(
          oldC.toSeq.toDF("doc_id", "text"), newC.toSeq.toDF("doc_id", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
        .toMap
      val expected = (oldC.keySet ++ newC.keySet).map { id =>
        id -> ((oldC.get(id), newC.get(id)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) if a != b => "changed"
          case _ => "unchanged"
        })
      }.toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("c44 BPE pair stats re-derive from raw text; the top-k cut is a total order") {
    val texts = Tables.documents(spark, sfDir).collect()
      .map(_.getAs[String]("text"))
    val wc = scala.collection.mutable.Map.empty[String, Long]
    // limit -1: Spark's split keeps trailing empty tokens, Java's default drops them
    texts.foreach(_.toLowerCase.split(" ", -1).foreach(w =>
      wc(w) = wc.getOrElse(w, 0L) + 1L))
    val pc = scala.collection.mutable.Map.empty[(String, String), Long]
    wc.foreach { case (w, c) =>
      (0 until w.length - 1).foreach { i =>
        val k = (w.substring(i, i + 1), w.substring(i + 1, i + 2))
        pc(k) = pc.getOrElse(k, 0L) + c
      }
    }
    val expected = pc.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(50)
    val rows = TextOps.c44BpePairs(spark, sfDir).collect()
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, ((a, b), n)) =>
      assert(r.getAs[String]("a") == a && r.getAs[String]("b") == b &&
        r.getAs[Long]("cnt") == n,
        s"pair ${r.getAs[String]("a")},${r.getAs[String]("b")} vs ($a,$b,$n)")
    }
  }

  // ---- driver-side reference BPE (Sennrich 2016's algorithm, literally):
  // ---- symbol vectors, all-adjacent pair counts, greedy left-to-right
  // ---- merge passes — the independent implementation c52's trainer and
  // ---- apply path must reproduce

  private def bruteMergePass(syms: Vector[String],
                             m: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += (syms(i) + syms(i + 1)); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def bruteBpe(words: Map[String, Long],
                       rounds: Int): Seq[(String, String)] = {
    var seqs: Map[Vector[String], Long] = words.toSeq
      .map { case (w, c) => w.map(_.toString).toVector -> c }
      .groupMapReduce(_._1)(_._2)(_ + _)
    var merges = Vector.empty[(String, String)]
    var done = false
    while (merges.length < rounds && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.foreach { case (syms, c) =>
        (0 until syms.length - 1).foreach { i =>
          pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + c
        }
      }
      if (pc.isEmpty) done = true
      else {
        val best = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges :+= best
        seqs = seqs.toSeq.map { case (s, c) => bruteMergePass(s, best) -> c }
          .groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    merges
  }

  test("c52 trainBpe equals brute-force BPE and is partition-invariant") {
    import spark.implicits._
    // boundary traps baked in: "xab" (merge (a,b) must not eat "xa"'s
    // tail), "abc" (must not eat "bc"'s head), "ababab" (back-to-back
    // occurrences), "aaa" (overlapping pair), plus enough weight skew
    // that the merge order is forced through multi-char re-merges
    val words = Map(
      "the" -> 50L, "then" -> 20L, "there" -> 10L, "xab" -> 8L,
      "abc" -> 7L, "ababab" -> 6L, "aaa" -> 9L, "aa" -> 4L,
      "banana" -> 12L, "bandana" -> 5L, "a" -> 30L, "b" -> 3L)
    val expected = bruteBpe(words, 10)
    assert(expected.length == 10, "corpus must survive 10 rounds")
    assert(expected.exists { case (a, b) => a.length + b.length > 2 },
      "rounds must chain multi-char merges or the loop is untested")
    val df = words.toSeq.toDF("w", "wcnt")
    assert(TextOps.trainBpeOn(df, 10) == expected)
    assert(TextOps.trainBpeOn(df.repartition(7), 10) == expected,
      "merge list must not depend on partitioning")
  }

  test("c52 applyBpeMerges is a greedy whole-symbol merge pass (fence safety)") {
    import spark.implicits._
    val merges = Seq("a" -> "b", "ab" -> "ab", "a" -> "a")
    val got = Seq("xab", "abc", "ababab", "aaab", "aaa", "ab", "q")
      .toDF("w")
      .select(col("w"), TextOps.applyBpeMerges(col("w"), merges).as("ts"))
      .collect().map(r => r.getAs[String]("w") -> r.getSeq[String](1).toVector)
      .toMap
    val expected = Seq("xab", "abc", "ababab", "aaab", "aaa", "ab", "q").map { w =>
      w -> merges.foldLeft(w.map(_.toString).toVector)(bruteMergePass)
    }.toMap
    assert(got == expected)
    // the traps, spelled out: "xab" keeps x whole; "abc" keeps c whole;
    // "ababab" merges all three pairs; "aaa" merges greedily left-first
    assert(got("xab") == Vector("x", "ab"))
    assert(got("abc") == Vector("ab", "c"))
    assert(got("ababab") == Vector("abab", "ab"))
    assert(got("aaa") == Vector("aa", "a"))
  }

  test("c52 tokenize end-to-end equals brute-force train+apply on the corpus") {
    val wc = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sfDir).collect()
      .map(_.getAs[String]("text"))
      .foreach(_.toLowerCase.split(" ", -1).filter(_.nonEmpty)
        .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1L))
    val merges = bruteBpe(wc.toMap, TextOps.C52Rounds)
    val tc = scala.collection.mutable.Map.empty[String, Long]
    wc.foreach { case (w, c) =>
      merges.foldLeft(w.map(_.toString).toVector)(bruteMergePass)
        .foreach(t => tc(t) = tc.getOrElse(t, 0L) + c)
    }
    val expected = tc.toSeq.sortBy { case (t, n) => (-n, t) }.take(100)
    val got = TextOps.c52BpeTokenize(spark, sfDir).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toSeq
    assert(got == expected)
    // and the Spark trainer agrees with the brute merge list on real data
    assert(TextOps.trainBpe(spark, sfDir) == merges)
  }

  test("c66 fertility equals brute-force train+apply per doc; zero-word docs absent") {
    val merges = TextOps.trainBpe(spark, sfDir)
    val want = Tables.documents(spark, sfDir).collect()
      .flatMap { r =>
        Option(r.getAs[String]("text")).flatMap { t =>
          val ws = t.toLowerCase.split(" ", -1).filter(_.nonEmpty)
          if (ws.isEmpty) None
          else {
            val nt = ws.map(w =>
              merges.foldLeft(w.map(_.toString).toVector)(bruteMergePass).length.toLong).sum
            Some((r.getAs[Long]("doc_id"), ws.length.toLong, nt,
              BigDecimal(nt.toDouble / ws.length)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          }
        }
      }.sortBy(_._1).toSeq
    val got = TextOps.c66BpeFertility(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "fertility must compute on the gate corpus")
    // the metric measures real compression: with zero merges every word
    // is its code points, so n_tokens would equal the summed word
    // lengths — the 8 learned merges must land SOMEWHERE in the corpus
    val charCeil = Tables.documents(spark, sfDir).collect().flatMap { r =>
      Option(r.getAs[String]("text")).map { t =>
        r.getAs[Long]("doc_id") ->
          t.toLowerCase.split(" ", -1).filter(_.nonEmpty)
            .map(w => w.codePointCount(0, w.length).toLong).sum
      }
    }.toMap
    assert(got.exists { case (id, _, t, _) => t < charCeil(id) },
      "trained merges must compress at least one document below the " +
        "character-split ceiling")
  }

  // ---- c55-c57: driver-side brute-force twins share these helpers

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Spark's ROUND(double, 6): decimal HALF_UP on the double's shortest
    * decimal representation — NOT a float multiply/divide. */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Mirrors `words(lower(text))`: Spark's split keeps trailing empties
    * (limit −1), unlike Java's default split. */
  private def tokensOf(t: String): Vector[String] =
    t.toLowerCase.split(" ", -1).toVector

  /** Driver-side brute BM25: every doc scored under c55's exact-rational
    * arithmetic. Shared by the c55 and c59 specs. */
  private def bruteBm25(): Seq[(Long, Long, Seq[Long], Seq[Double], Double)] = {
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), tokensOf(r.getAs[String]("text"))))
    val terms = TextOps.C55QueryTerms
    val n = docs.length.toLong
    val t = docs.map(_._2.length.toLong).sum
    val dfc = terms.map(q => q -> docs.count(_._2.contains(q)).toLong).toMap
    def score(tf: Long, df: Long, dl: Long): Double = {
      val num = (2 * n - 2 * df + 1) * 22 * t * tf
      val den = (2 * df + 1) * (10 * t * tf + 3 * t + 9 * dl * n)
      r6(num.toDouble / den.toDouble)
    }
    docs.toSeq.map { case (id, tk) =>
      val dl = tk.length.toLong
      val tfs = terms.map(q => tk.count(_ == q).toLong)
      val ss = terms.zip(tfs).map { case (q, tf) => score(tf, dfc(q), dl) }
      (id, dl, tfs, ss, ss.reduceLeft(_ + _))
    }
  }

  test("c55 BM25 equals a driver-side brute-force scorer over the whole corpus") {
    val terms = TextOps.C55QueryTerms
    val expected = bruteBm25()
      .sortBy { case (id, _, _, _, s) => (-s, id) }.take(20)
    val got = TextOps.c55Bm25(spark, sfDir).collect().toSeq.map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        terms.map(q => r.getAs[Long](s"tf_$q")),
        terms.map(q => r.getAs[Double](s"s_$q")),
        r.getAs[Double]("score"))
    }
    assert(got.length == 20)
    assert(got == expected)
    // the ranking must discriminate: the cut's top score strictly beats
    // its bottom score on this corpus (an all-equal column would pass a
    // pure equality check while testing nothing)
    assert(got.head._5 > got.last._5)
  }

  test("c56 LM score equals a driver-side brute-force bigram model") {
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), tokensOf(r.getAs[String]("text"))))
    val pairs = docs.flatMap { case (id, tk) =>
      tk.sliding(2).collect { case Vector(a, b) => (id, a, b) } }
    val cPair = pairs.groupBy(p => (p._2, p._3)).view.mapValues(_.length.toLong).toMap
    val cPrefix = cPair.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val expected = pairs.groupBy(_._1).map { case (id, ps) =>
      val sum = ps.map { case (_, a, b) =>
        cPair((a, b)) * 1000000000L / cPrefix(a) }.sum
      val avg = r6(sum.toDouble / ps.length)
      id -> ((ps.length.toLong, sum, avg, avg >= 34500000.0))
    }
    val got = TextOps.c56LmScore(spark, sfDir).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("sum_ppb"),
          r.getAs[Double]("avg_ppb"), r.getAs[Boolean]("keep")))
    }.toMap
    assert(got == expected)
    // the fluency cutoff must discriminate on this corpus
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }

  test("c80 DSIR weights equal a driver-side re-derivation; artifact bounded by the bucket space") {
    import graft.operators.Dsir
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), tokensOf(r.getAs[String]("text")),
        r.getAs[String]("lang")))
    def bucket(w: String): String = md5hex(w).substring(0, Dsir.BucketHexChars)
    // driver brute artifact: smoothed fixed-point log-ratios over exact counts
    val toks = docs.flatMap { case (_, tk, lang) => tk.map(w => (bucket(w), lang)) }
    val cr = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = toks.groupBy(_._1).view
      .mapValues(_.count(_._2 == Dsir.TargetLang).toLong).toMap
    val nr = cr.values.sum; val nt = ct.values.sum; val v = cr.size
    val lr = cr.keys.map { b =>
      b -> math.floor((StrictMath.log((ct(b) + 1).toDouble) -
        StrictMath.log((nt + v).toDouble) -
        StrictMath.log((cr(b) + 1).toDouble) +
        StrictMath.log((nr + v).toDouble)) * 1e6).toLong
    }.toMap
    val art = Dsir.trainDsir(spark, sfDir)
    assert(art.toMap == lr, "trained artifact vs driver brute force")
    assert(art.size <= Dsir.NBuckets && art.size == lr.size)
    // the exact-integer half-away-from-zero 6-dp rounding weightsOf uses
    def avgOf(sum: Long, n: Long): Double = {
      val r = (2 * math.abs(sum) + n) / (2 * n)
      (if (sum >= 0) r else -r).toDouble / 1e6
    }
    val expected = docs.filter(_._2.nonEmpty).map { case (id, tk, _) =>
      val sum = tk.map(w => lr(bucket(w))).sum
      id -> ((tk.length.toLong, sum, avgOf(sum, tk.length), sum > 0L))
    }.toMap
    val got = Dsir.c80DsirWeights(spark, sfDir).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_lr"),
          r.getAs[Double]("avg_lr_r"), r.getAs[Boolean]("keep")))
    }.toMap
    assert(got == expected)
    // the ranking must be non-degenerate even here: weights spread
    assert(got.values.map(_._3).toSet.size > 1, "all-equal weights test nothing")
    // On THIS corpus the en slice is distributionally ~identical to the
    // raw corpus, so weights are noise around 0 and the keep split is
    // arbitrary — reported, not asserted; the sign test's discrimination
    // is pinned on a genuinely distribution-shifted corpus below.
    info(s"c80 keep distribution on the identical-distribution corpus: " +
      s"${got.values.count(_._4)} true / ${got.values.count(!_._4)} false")
  }

  test("c80 sign test discriminates when the target slice actually differs") {
    import spark.implicits._
    import graft.operators.Dsir
    // target (en) speaks {alpha beta}, the rest speak {gamma delta}:
    // a genuinely shifted target distribution
    val frame = Seq(
      (1L, "alpha beta alpha beta alpha", "en"),
      (2L, "beta alpha beta alpha", "en"),
      (3L, "gamma delta gamma delta gamma", "fr"),
      (4L, "delta gamma delta gamma", "es"),
      (5L, "alpha beta gamma delta", "de") // mixed: half target-like
    ).toDF("doc_id", "text", "lang")
    val art = Dsir.trainDsirOn(frame)
    val got = Dsir.weightsOf(Dsir.scoreDocs(frame, art)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("avg_lr_r"), r.getAs[Boolean]("keep")))).toMap
    assert(got(1L)._2 && got(2L)._2, "target-voiced docs must keep")
    assert(!got(3L)._2 && !got(4L)._2, "off-target docs must drop")
    assert(got(1L)._1 > got(5L)._1 && got(5L)._1 > got(3L)._1,
      "mixed doc must rank between pure-target and pure-off-target")
  }

  test("c80 word-type-join scorer is row-for-row the row-local fold (shared lrOf subtree)") {
    import graft.operators.Dsir
    // batch formulation (type-join, the gate path) vs d37's row-local
    // HOF fold: same artifact, same corpus — identical (doc_id,
    // n_tokens, sum_lr) sets, exact-integer equality
    val docs = Tables.documents(spark, sfDir)
    val art = Dsir.trainDsir(spark, sfDir)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_lr")))).toMap
    val byType = asMap(Dsir.scoreDocsByType(docs, art))
    val byFold = asMap(Dsir.scoreDocs(docs, art))
    assert(byType == byFold)
    assert(byType.nonEmpty)
    // plan shape: the type table must broadcast — the corpus tokens are
    // joined map-side, never shuffled to the vocabulary
    val plan = Dsir.scoreDocsByType(docs, art).queryExecution
      .executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"type join must broadcast the vocabulary side:\n$plan")
  }

  test("c80 training refuses an empty target slice instead of an all-negative artifact") {
    import spark.implicits._
    import graft.operators.Dsir
    val frame = Seq(
      (1L, "alpha beta", "fr"),
      (2L, "gamma delta", "es")
    ).toDF("doc_id", "text", "lang")
    // a misspelled --target-lang must refuse loudly, not train keep=false-
    // for-everything garbage (nt=0 makes every smoothed log-ratio negative)
    val e = intercept[IllegalArgumentException] {
      Dsir.trainDsirOn(frame, target = "enn")
    }
    assert(e.getMessage.contains("matched no tokens"), e.getMessage)
    // the overflow-adjacent sanity: the same corpus with a REAL target works
    assert(Dsir.trainDsirOn(frame, target = "fr").nonEmpty)
  }

  test("c84 tokenizer report folds exactly the four fertility gate frames") {
    import graft.operators.{TextOps, Unigram, Wordpiece}
    def foldOf(rows: Array[org.apache.spark.sql.Row], units: String) = {
      val nd = rows.length.toLong
      val nu = rows.map(_.getAs[Long](units)).sum
      val nt = rows.map(_.getAs[Long]("n_tokens")).sum
      (nd, nu, nt, r6(nt.toDouble / nu))
    }
    val expected = Map(
      "bpe_char" -> foldOf(TextOps.c66BpeFertility(spark, sfDir).collect(), "n_words"),
      "bpe_byte" -> foldOf(TextOps.c73ByteFertility(spark, sfDir).collect(), "n_pretokens"),
      "unigram" -> foldOf(Unigram.c78UnigramFertility(spark, sfDir).collect(), "n_words"),
      "wordpiece" -> foldOf(Wordpiece.c99WordpieceFertility(spark, sfDir).collect(), "n_words"))
    val got = TextOps.c84TokenizerReport(spark, sfDir).collect().map { r =>
      r.getAs[String]("tokenizer") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_units"),
          r.getAs[Long]("n_tokens"), r.getAs[Double]("fertility_r")))
    }.toMap
    assert(got == expected)
    // every family emits at least one token per unit
    got.values.foreach { case (_, _, _, f) => assert(f >= 1.0, s"fertility $f < 1") }
    info(got.map { case (k, v) => f"$k ${v._4}%.3f" }.mkString("c84 fertility: ", ", ", ""))
    // r15 OOV column: self-trained on the gate corpus, every tokenizer
    // covers itself — all four shares must be exactly 0.0 (byte-BPE by
    // construction, char-BPE/unigram/wordpiece by derivation)
    val oov = TextOps.c84TokenizerReport(spark, sfDir).collect()
      .map(r => r.getAs[String]("tokenizer") -> r.getAs[Double]("oov_share_r"))
      .toMap
    assert(oov == Map("bpe_char" -> 0.0, "bpe_byte" -> 0.0,
      "unigram" -> 0.0, "wordpiece" -> 0.0), oov)
  }

  test("c101 tokenizer matrix joins exactly the four fertility gate frames") {
    import graft.operators.{TextOps, Unigram, Wordpiece}
    def ntOf(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val a = ntOf(TextOps.c66BpeFertility(spark, sfDir).collect())
    val b = ntOf(TextOps.c73ByteFertility(spark, sfDir).collect())
    val u = ntOf(Unigram.c78UnigramFertility(spark, sfDir).collect())
    val w = ntOf(Wordpiece.c99WordpieceFertility(spark, sfDir).collect())
    val ids = a.keySet intersect b.keySet intersect u.keySet intersect w.keySet
    val want = ids.toSeq.sorted.map { id =>
      val nts = Seq(a(id), b(id), u(id), w(id))
      (id, a(id), b(id), u(id), w(id),
        r6(nts.max.toDouble / nts.min.toDouble))
    }
    val got = TextOps.c101TokenizerMatrix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == want, "the matrix must be the join of the four gates")
    // the migration signal exists: tokenizers genuinely disagree
    assert(got.exists(_._6 > 1.0), "some doc must show a spread")
    assert(got.forall(_._6 >= 1.0), "spread is max/min, never below 1")
  }

  test("c84 OOV derivations discriminate on a distribution-shifted apply corpus") {
    import spark.implicits._
    import graft.operators.{TextOps, Unigram}
    // train on an {a,b}-alphabet corpus, apply to words carrying 'x':
    // char-BPE counts the uncovered chars, unigram counts UNK fallbacks
    val trainWt = Seq(("ab", 3L), ("ba", 2L), ("aa", 1L)).toDF("w", "wcnt")
    val art = Unigram.trainUnigramOn(trainWt)
    val unk = Seq("axa", "ab", "xxx").toDF("w")
      .select(col("w"), Unigram.unkCount(col("w"), art).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(unk == Map("axa" -> 1L, "ab" -> 0L, "xxx" -> 3L), unk.toString)
    val chOov = Seq("axa", "ab", "xxx").toDF("w")
      .select(col("w"), TextOps.charOovCount(col("w"), Seq("a", "b")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chOov == Map("axa" -> 1L, "ab" -> 0L, "xxx" -> 3L), chOov.toString)
  }

  /** Brute winnowing (Schleimer et al. 2003) under c57's value-set
    * semantics: k-gram md5s, w-window minima, distinct, sorted. */
  private def bruteWinnow(tk: Vector[String]): (Long, Long, Vector[String]) = {
    val gs = if (tk.length >= TextOps.WinnowK)
      tk.sliding(TextOps.WinnowK).map(g => md5hex(g.mkString(" "))).toVector
    else Vector.empty[String]
    val fps = if (gs.length >= TextOps.WinnowW)
      gs.sliding(TextOps.WinnowW).map(_.min).toVector.distinct.sorted
    else Vector.empty[String]
    (gs.length.toLong, math.max(gs.length.toLong - (TextOps.WinnowW - 1), 0L), fps)
  }

  test("c57 winnowing equals the driver-side selector on the corpus") {
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), tokensOf(r.getAs[String]("text"))))
    val expected = docs.map { case (id, tk) =>
      val (ng, nw, fps) = bruteWinnow(tk)
      id -> ((tk.length.toLong, ng, nw, fps.length.toLong, md5hex(fps.mkString(""))))
    }.toMap
    val got = TextOps.c57Winnow(spark, sfDir).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_windows"), r.getAs[Long]("n_fp"),
          r.getAs[String]("fp_md5")))
    }.toMap
    assert(got == expected)
    // density sanity: winnowing keeps ~2/(w+1) of hashes — far fewer
    // than all of them — while never selecting zero on real-length docs
    assert(got.values.forall { case (nt, ng, _, nfp, _) =>
      nt < TextOps.WinnowK + TextOps.WinnowW - 1 || (nfp >= 1 && nfp < ng) })
  }

  test("c57 guarantee: docs sharing a >= w+k-1 token run share a fingerprint") {
    import spark.implicits._
    // two docs, disjoint vocabulary except one shared 8-token run
    val run = (0 until TextOps.WinnowK + TextOps.WinnowW - 1)
      .map(i => s"shared$i").mkString(" ")
    val a = (0 until 30).map(i => s"alpha$i").mkString(" ") + " " + run +
      " " + (30 until 50).map(i => s"alpha$i").mkString(" ")
    val b = (0 until 40).map(i => s"beta$i").mkString(" ") + " " + run
    val c = (0 until 45).map(i => s"gamma$i").mkString(" ") // no shared run
    val sets = Seq(a, b, c).map(t => bruteWinnow(tokensOf(t))._3.toSet)
    assert((sets(0) intersect sets(1)).nonEmpty,
      "a shared >= w+k-1 run must contribute a common selected fingerprint")
    assert((sets(0) intersect sets(2)).isEmpty && (sets(1) intersect sets(2)).isEmpty,
      "disjoint-vocabulary docs must not collide")
    // and the Spark selector reproduces the driver sets exactly
    val spk = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.winnowSelect(
        TextOps.winnowGrams(split(lower(col("text")), " "))).as("fps"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet)
      .toMap
    assert(spk == Map(1L -> sets(0), 2L -> sets(1), 3L -> sets(2)))
  }

  test("c57 native winnow expression equals the HOF reference, corpus + edge cases") {
    import spark.implicits._
    val edges = Seq(
      (9001L, ""), // one empty token
      (9002L, "one"),
      (9003L, "a b c d"), // exactly k tokens: one gram, no window
      (9004L, "a b c d e f g h"), // exactly k+w-1 tokens: one window
      (9005L, "A B C a b c A B C a b c d e f"), // case folding + repeats
      (9006L, "x  y   z t t t t t t t t t t"), // interior empties survive
      (9007L, "über ñandú 字 字 字 one two three four five six seven"),
      // capitals ICU lowercases and the JDK's older tables do not
      (9008L, "\u2C2Fx \uA7C0 one \u2C2F two \uA7C0b three \u2C2F\uA7C0 four"))
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    for (docs <- Seq(edges, corpus)) {
      val native = docs.select(col("doc_id"),
          graft.functions.WinnowFunctions
            .winnowFps(col("text"), TextOps.WinnowK, TextOps.WinnowW).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val ref = docs.select(col("doc_id"),
          TextOps.winnowSelect(
            TextOps.winnowGrams(split(lower(col("text")), " "))).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native == ref)
    }
  }

  test("c60 cluster labels re-derive from the assignment + driver-side tf-idf") {
    val asg = graft.operators.Similarity.assignCells(
        Tables.embeddings(spark, sfDir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        graft.operators.Similarity.labelCodebook(spark, sfDir), maxProbe = 1)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("cell").longValue).toMap
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), tokensOf(r.getAs[String]("text"))))
    val tf = scala.collection.mutable.Map.empty[(Long, String), Long]
    docs.foreach { case (id, toks) =>
      asg.get(id).foreach(c =>
        toks.foreach(t => tf((c, t)) = tf.getOrElse((c, t), 0L) + 1)) }
    val dfc = tf.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nCells = tf.keys.map(_._1).toSet.size.toLong
    assert(nCells >= 2, "corpus must spread over >= 2 cells or the test is vacuous")
    val expected = tf.toSeq
      .map { case ((c, t), n) => (c, t, n, dfc(t), r6(n * nCells / dfc(t).toDouble)) }
      .groupBy(_._1).toSeq.flatMap { case (c, rows) =>
        rows.sortBy { case (_, t, _, _, s) => (-s, t) }.take(3).zipWithIndex
          .map { case ((_, t, n, d, s), i) => (c, (i + 1).toLong, t, n, d, s) }
      }.sortBy(r => (r._1, r._2))
    val got = TextOps.c60ClusterLabel(spark, sfDir).collect().toSeq.map { r =>
      (r.getAs[Long]("cell"), r.getAs[Long]("rnk"), r.getAs[String]("term"),
        r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("score_r"))
    }
    assert(got == expected)
  }

  test("c61 dataset card equals a driver-side brute-force summary") {
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => (r.getAs[String]("text"), r.getAs[String]("lang")))
    val tks = docs.map { case (t, l) => (t, l, tokensOf(t)) }
    val nDocs = docs.length.toLong
    val nTokens = tks.map(_._3.length.toLong).sum
    val nDistinct = docs.map(_._1).distinct.length.toLong
    val nKeep = tks.count { case (t, _, tk) =>
      val awl = (t.length - (tk.length - 1)).toDouble / tk.length
      tk.length >= 5 && awl >= 2.0 && awl <= 12.0
    }.toLong
    val langShares = docs.groupBy(_._2).map { case (l, ds) =>
      s"lang_share:$l" -> r6(ds.length.toDouble / nDocs) }
    val expected = (Map(
      "n_docs" -> nDocs.toDouble,
      "n_tokens" -> nTokens.toDouble,
      "n_distinct_texts" -> nDistinct.toDouble,
      "dup_rate" -> r6((nDocs - nDistinct).toDouble / nDocs),
      "mean_doc_tokens" -> r6(nTokens.toDouble / nDocs),
      "quality_keep_rate" -> r6(nKeep.toDouble / nDocs)) ++ langShares)
      .toSeq.sortBy(_._1)
    val got = TextOps.c61DatasetCard(spark, sfDir).collect().toSeq
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value_r"))
    assert(got == expected)
    // the card must carry every language plus the six scalar facts
    assert(got.count(_._1.startsWith("lang_share:")) ==
      docs.map(_._2).distinct.length)
  }

  test("c58 recall table re-derives from the three searches' own outputs") {
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairsOf(Similarity.c5AnnBrute(spark, sfDir))
    val lsh = pairsOf(Similarity.c6AnnLsh(spark, sfDir))
    val ivf = pairsOf(Similarity.c18AnnIvf(spark, sfDir))
    val got = Similarity.c58AnnRecall(spark, sfDir).collect().map { r =>
      r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_truth"), r.getAs[Long]("lsh_hits"),
          r.getAs[Long]("ivf_hits"), r.getAs[Double]("lsh_recall_r"),
          r.getAs[Double]("ivf_recall_r")))
    }.toMap
    assert(got.keySet == truth.map(_._1), "one row per evaluated query")
    got.foreach { case (q, (nt, lh, ih, lr, ir)) =>
      val t = truth.filter(_._1 == q)
      assert(nt == t.size, s"query $q n_truth")
      assert(lh == (t intersect lsh.filter(_._1 == q)).size, s"query $q lsh hits")
      assert(ih == (t intersect ivf.filter(_._1 == q)).size, s"query $q ivf hits")
      assert(lr == r6(lh.toDouble / nt) && ir == r6(ih.toDouble / nt))
    }
    // the measurement must be non-degenerate: some approximate hit exists
    assert(got.values.exists(v => v._2 > 0 || v._3 > 0))
  }

  test("c59 RRF fusion equals the driver-side two-ranker combiner") {
    val scored = bruteBm25()
    val byBm25 = scored.sortBy { case (id, _, _, _, s) => (-s, id) }.take(50)
      .zipWithIndex.map { case ((id, _, _, _, _), i) => id -> (i + 1).toLong }.toMap
    val byQl = scored.map { case (id, dl, tfs, _, _) =>
      (id, tfs.sum * 1000000L / dl) }
      .sortBy { case (id, q) => (-q, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    def contrib(r: Option[Long]): Double =
      r.map(rk => r6(1.0 / (60L + rk))).getOrElse(0.0)
    val expected = (byBm25.keySet ++ byQl.keySet).toSeq.map { id =>
      (id, byBm25.getOrElse(id, 0L), byQl.getOrElse(id, 0L),
        contrib(byBm25.get(id)) + contrib(byQl.get(id)))
    }.sortBy { case (id, _, _, f) => (-f, id) }.take(20)
    val got = TextOps.c59RrfFuse(spark, sfDir).collect().toSeq.map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("rank_bm25"),
        r.getAs[Long]("rank_ql"), r.getAs[Double]("rrf_r"))
    }
    assert(got == expected)
    // both rankers must contribute to the fused head: the top-20 contains
    // docs ranked by each (otherwise the fusion degenerates to one ranker)
    assert(got.exists(_._2 > 0) && got.exists(_._3 > 0))
  }
}
