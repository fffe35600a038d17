package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for training-data pipelines (SURVEY §2 c7-c10).
  *
  * All pure `functions._` column expressions — whole-stage codegen'd, no
  * UDFs, embarrassingly parallel over document splits at any scale. Ratio
  * metrics are produced by a single double division (two exact integer
  * operands → bit-identical IEEE result in any engine), never by float
  * accumulation.
  */
object TextOps {

  /** Monotone id distinguishing [[decontaminate]] invocations' scratch. */
  private val decontamRuns = new java.util.concurrent.atomic.AtomicLong(0)
  private val c27Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Small fixed stopword profile used by quality scoring and language id. */
  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Whitespace tokenization — THE tokenizer every text operator (and
    * d10's streaming twin) shares, so batch/stream parity can't drift. */
  private[graft] def words(c: Column): Column = split(c, " ")

  private def stopwordHits(c: Column): Column =
    size(filter(words(c), w => w.isin(EnStopwords: _*))).cast("bigint")

  /** c7: quality scoring — word counts, average word length, stopword
    * ratio, and a boolean keep/drop verdict. */
  def c7TextQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val nWords = size(words(col("text"))).cast("bigint")
    d.select(
        col("doc_id"), col("n_chars"),
        nWords.as("n_words"),
        stopwordHits(col("text")).as("n_stopwords"))
      .withColumn("avg_word_len",
        (col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_words"))
      .withColumn("keep",
        col("n_words") >= 5 && col("avg_word_len") >= 2.0 && col("avg_word_len") <= 12.0)
      .orderBy("doc_id")
  }

  /** c8: language id — stopword-profile heuristic (n-gram/stopword overlap
    * is the classic cheap langid signal; deterministic, SQL-expressible). */
  def c8LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), stopwordHits(col("text")).as("en_hits"))
      .withColumn("lang_guess",
        when(col("en_hits") >= 2, "en")
          .when(col("en_hits") === 1, "en_maybe")
          .otherwise("other"))
      .orderBy("doc_id")

  /** c9: token counting — whitespace tokens plus a BPE-style pre-tokenizer
    * regex (letter runs / digit runs / single punctuation). */
  def c9TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(words(col("text"))).cast("bigint").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("bigint").as("alpha_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("bigint").as("bpe_tokens"))
      .orderBy("doc_id")

  /** c10: document fingerprinting — md5 content hash (md5 is the one hash
    * both engines share bit-for-bit) + an 8-hex-char prefix bucket usable
    * as a shard/dedup key. */
  def c10Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("fingerprint"),
        substring(md5(col("text")), 1, 8).as("fp_bucket"),
        col("n_chars"))
      .orderBy("doc_id")

  /** c14: deterministic train/val/test split by content hash — the
    * reproducible way to split a training corpus at any scale: the split
    * is a pure function of the text (stable under re-partitioning,
    * re-runs, and incremental ingest; duplicate texts land in the same
    * split so they can't leak across train/test). Thresholds on the first
    * md5 byte: <0xcc train (~80%), <0xe6 val (~10%), else test. */
  def c14TrainSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("text")), 1, 2)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(bucket < "cc", "train").when(bucket < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** c16: TF-IDF top term per document. Three shuffles, all narrow:
    * (doc, term) counts → per-term document frequency → score + one
    * window pass per doc. The corpus size joins in via a broadcast of a
    * 1-row aggregate (never a collect). The score is the division-free-
    * until-the-end form tf·N/df — a single double division of exact
    * integers, rounded to 6 places, so both engines agree bit-for-bit
    * (float log-idf would not; monotonic in idf, so the top term is the
    * same one classic TF-IDF picks for a fixed tf). */
  def c16Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(words(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score_r"), asc("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .transform(ratio6On(_, "score_r", col("tf") * col("n_docs"), col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"),
        col("tf"), col("df"), col("score_r"))
      .orderBy("doc_id")
  }

  /** PII patterns shared by the scrubber and its spec. Deliberately plain
    * character-class regexes — identical semantics under Java regex (Spark)
    * and RE2 (DuckDB), no lookarounds or backrefs. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+1-555-[0-9]{4}"
  private[graft] val Ipv4Re = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  /** Redacts emails → `<EMAIL>`, then phones → `<PHONE>`, then IPv4 →
    * `<IP>` (order matters: the generic IP pattern must not see digits the
    * earlier patterns own). Pure codegen'd string expressions. */
  private[graft] def piiScrubbed(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")),
      lit(Ipv4Re), lit("<IP>"))

  /** c20: PII scrubbing — per-doc match counts for email/phone/IPv4
    * patterns plus the md5 of the redacted text (the hash pins the exact
    * redacted bytes without shipping the body through the gate). The test
    * corpus carries no PII, so each doc is suffixed with a deterministic
    * synthetic contact line (a pure function of doc_id, reproduced
    * verbatim by the oracle) — the regexes run against real surrounding
    * text and provably find exactly the planted values. */
  def c20PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val full = concat(
      col("text"),
      lit(" Contact user"), col("doc_id").cast("string"),
      lit("@mail.example or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1"))
    Tables.documentsFanned(spark, dir)
      .select(
        col("doc_id"),
        regexp_count(full, lit(EmailRe)).cast("bigint").as("n_emails"),
        regexp_count(full, lit(PhoneRe)).cast("bigint").as("n_phones"),
        regexp_count(full, lit(Ipv4Re)).cast("bigint").as("n_ips"),
        md5(piiScrubbed(full)).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** Repetition scoring over a (doc_id, text) frame and its distinct-
    * shingle table: duplicate 3-gram fraction (1 − distinct/total), the
    * Gopher-style repetitious-text quality signal. The ratio is an
    * integer ratio ((n_grams − n_distinct)/n_grams) rendered through
    * [[ratio6On]] (exact half-away division — r20, retiring the last
    * round(double) seam of the c45/c56 class); the flag thresholds the
    * ROUNDED value so row membership can't flip on a last-ulp
    * disagreement. Docs under 3 tokens have no 3-grams and are excluded
    * (in both engines). */
  private[graft] def repetitionRatio(docs: DataFrame, sh: DataFrame): DataFrame = {
    val distinctCnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
    docs
      .select(col("doc_id"),
        (size(words(lower(col("text")))) - 2).cast("bigint").as("n_grams"))
      .filter(col("n_grams") >= 1)
      .join(distinctCnt, "doc_id")
      .transform(ratio6On(_, "dup_ratio",
        col("n_grams") - col("n_distinct"), col("n_grams")))
      .withColumn("flagged", col("dup_ratio") > 0.2)
      .select("doc_id", "n_grams", "n_distinct", "dup_ratio", "flagged")
      .orderBy("doc_id")
  }

  /** c21: repetition ratio over the documents table, reusing the memoized
    * distinct-shingle table c2/c4 already materialize (one scan serves all
    * three operators). */
  def c21RepetitionRatio(spark: SparkSession, dir: String): DataFrame =
    repetitionRatio(
      Tables.documents(spark, dir),
      spark.read.parquet(Dedup.shingleTablePath(spark, dir)))

  /** c23: sequence packing — assign documents to fixed-token-budget packs,
    * the step every LLM data pipeline runs between dedup and tokenizer
    * sharding. Greedy contiguous packing per SHARD (shard = doc_id/100):
    * a per-shard window cumsum of token counts, pack = completed budget
    * units before the doc. Sharding is what makes this distributed — pack
    * ids are a pure function of (shard, in-shard prefix sum), each shard
    * packs independently in parallel, and a global window (the naive
    * formulation) would single-partition 100 TB. All integer arithmetic →
    * engine-exact. */
  def c23SeqPack(spark: SparkSession, dir: String,
                 budget: Long = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") / 100).cast("bigint").as("shard"),
        size(words(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        floor((col("cum_tokens") - col("n_tokens")) / budget).cast("bigint"))
      .select("doc_id", "shard", "n_tokens", "cum_tokens", "pack_id")
      .orderBy("doc_id")
  }

  /** c76: FIRST-FIT-DECREASING sequence packing — the pad-waste-cutting
    * refinement of c23: c23/d7 pack greedily in arrival order (one
    * window pass, packs may straddle), while training-efficiency
    * pipelines pack FFD within shards — docs taken largest-first, each
    * placed in the FIRST open pack with room, else a new pack — which
    * empirically cuts pad waste hard (this corpus at sf0.001: 114 packs
    * / 1245 wasted tokens vs next-fit's 126 / 4317) and carries the
    * classical FFD ≤ (11·OPT + 6)/9 guarantee (spec-asserted via the
    * OPT ≥ ⌈total/budget⌉ lower bound). A doc larger than the budget
    * opens its own (overflowed) pack; every other pack fill ≤ budget by
    * construction. Deterministic: the in-shard order is the (n_tokens
    * desc, doc_id) total order, all arithmetic exact integers.
    *
    * Scale shape: per-shard independence (c23's no-corpus-window rule) —
    * ONE shuffle collects each shard's (n_tokens, doc_id) PAIRS (never
    * text bodies) into a bounded per-shard array, and the FFD fold is a
    * row-local HOF aggregate over the sorted array: zero further
    * exchanges, embarrassingly parallel over shards at any corpus size.
    * Shards are bounded by construction (the sharding key caps docs per
    * shard), so the per-row array and the open-pack list stay small. */
  def c76PackFfd(spark: SparkSession, dir: String,
                 budget: Long = 256): DataFrame =
    packFfdOn(Tables.documents(spark, dir), budget).orderBy("doc_id")

  /** [[c76PackFfd]] over an arbitrary (doc_id, text) frame. Unordered. */
  def packFfdOn(docs: DataFrame, budget: Long = 256): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val perShard = docs
      // `div` = exact integer division, matching the oracle's doc_id //
      // 100 for every bigint (the `/`+cast idiom goes through double —
      // lossy past 2^53 and truncating toward zero for negatives)
      .select(col("doc_id"), expr("doc_id div 100").as("shard"),
        size(words(col("text"))).cast("bigint").as("n_tokens"))
      .groupBy("shard")
      // nnt = −n_tokens so the ascending sort_array realizes the
      // (n_tokens desc, doc_id asc) FFD processing order
      .agg(sort_array(collect_list(struct(
        (-col("n_tokens")).as("nnt"), col("doc_id").as("doc_id"),
        col("n_tokens").as("nt")))).as("docs"))
    val zero = struct(
      lit(Array.empty[Long]).as("rem"),
      array().cast("array<struct<doc_id:bigint,nt:bigint,pack:bigint>>")
        .as("out"))
    val packed = perShard.select(col("shard"),
      aggregate(col("docs"), zero, (acc, d) => {
        val rem = acc.getField("rem")
        val nt = d.getField("nt")
        // 1-based index of the first open pack with room, null if none
        val fit = get(filter(
          transform(rem, (r, i) =>
            when(r >= nt, i + 1).otherwise(lit(null).cast("int"))),
          x => x.isNotNull), lit(0))
        val pack = coalesce(fit.cast("bigint") - 1, size(rem).cast("bigint"))
        val newRem = when(fit.isNull,
          concat(rem, array(lit(budget) - nt)))
          .otherwise(transform(rem, (r, i) =>
            when(i + 1 === fit, r - nt).otherwise(r)))
        struct(newRem.as("rem"),
          concat(acc.getField("out"), array(struct(
            d.getField("doc_id").as("doc_id"), nt.as("nt"),
            pack.as("pack")))).as("out"))
      }).as("packed"))
    packed
      .select(col("shard"), explode(col("packed.out")).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("shard"),
        col("d.nt").as("n_tokens"), col("d.pack").as("pack_id"))
  }

  /** c77: packing-efficiency REPORT — the measurement c76's FFD is run
    * for, as a queryable one-row table (c72's eval-as-operator rule
    * applied to pad waste): pack counts and total pad waste (unfilled
    * budget tokens across packs) for FFD vs c23's greedy arrival-order
    * packer, plus the saving. Overflowed packs (straddling greedy packs,
    * oversize FFD packs) waste 0 by the greatest(0, ·) clamp — waste
    * measures PADDING, the tokens a trainer would burn on pad ids.
    *
    * Scale shape: two (shard, pack) aggregations over the c76/c23
    * assignment frames (both per-shard independent), each folded to ONE
    * row, cross-joined — the 1-row-aggregate broadcast shape (c45's
    * rule). All-integer outputs. */
  def c77PackReport(spark: SparkSession, dir: String,
                    budget: Long = 256): DataFrame = {
    def fold(assign: DataFrame, prefix: String): DataFrame =
      assign.groupBy("shard", "pack_id")
        .agg(sum(col("n_tokens")).as("fill"))
        .agg(count(lit(1)).as(s"${prefix}_packs"),
          sum(greatest(lit(0L), lit(budget) - col("fill")))
            .as(s"${prefix}_waste"))
    fold(packFfdOn(Tables.documents(spark, dir), budget), "ffd")
      .crossJoin(fold(c23SeqPack(spark, dir, budget), "greedy"))
      .withColumn("waste_saved", col("greedy_waste") - col("ffd_waste"))
  }

  /** c24: benchmark decontamination — flag training docs sharing any
    * 8-token shingle with a benchmark/eval set (here: doc_id % 50 == 0 as
    * the deterministic stand-in). The industry-standard n-gram overlap
    * check; the join is an equi-join on the shingle string (at 100 TB:
    * on md5(shingle) — 16-byte keys), so candidate work is
    * O(matching shingles), never all-pairs. Docs under 8 tokens carry no
    * shingles and report 0 hits. */
  def c24Decontam(spark: SparkSession, dir: String): DataFrame = {
    val sh8 = spark.read.parquet(Dedup.shingleTablePath(spark, dir, n = 8))
    val benchShingles = sh8.filter(col("doc_id") % 50 === 0)
      .select(col("shingle")).distinct()
    val hits = sh8.filter(col("doc_id") % 50 =!= 0)
      .join(benchShingles, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
      .orderBy("doc_id")
  }

  /** c68: contamination REPORT — the eval-side view c24/c27 lack: per
    * benchmark document, how much of it leaks into the training corpus
    * (distinct corpus docs sharing an 8-shingle, distinct leaked
    * shingles, and the leaked share of its own shingles). This is the
    * table an eval-integrity review reads: c24 answers "which TRAINING
    * docs to drop", c68 answers "which BENCHMARK items are compromised
    * and how badly". Eval docs too short to shingle are absent by
    * construction in both engines (the row set derives from the shingle
    * stream — c66's rule).
    *
    * Scale shape: both sides read the memoized n=8 shingle table
    * (shared with c24/c27 — zero new corpus scans); one shingle-keyed
    * equi-join (16-byte md5 keys at 100 TB) feeding two count-distincts
    * on the (eval-doc)-keyed fold plus one per-doc total; never
    * all-pairs. */
  def c68ContamReport(spark: SparkSession, dir: String): DataFrame = {
    val sh8 = spark.read.parquet(Dedup.shingleTablePath(spark, dir, n = 8))
    contamCore(sh8.filter(col("doc_id") % 50 === 0),
      sh8.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("c_doc"), col("shingle")))
  }

  /** c68 over arbitrary corpus/eval frames — `Main decontam --report`'s
    * entry point (live shingle recompute; the gate path reads the
    * memoized table). */
  def contamReportOn(corpus: DataFrame, evalDocs: DataFrame,
                     n: Int = 8): DataFrame =
    contamCore(Dedup.shingleRows(evalDocs, n),
      Dedup.shingleRows(corpus, n)
        .select(col("doc_id").as("c_doc"), col("shingle")))

  private def contamCore(evalSide: DataFrame,
                         corpSide: DataFrame): DataFrame =
    contamReportOfHits(
      evalSide.groupBy("doc_id").agg(count(lit(1)).as("n_shingles")),
      evalSide.join(corpSide, "shingle"))

  /** The report fold shared by the at-rest path ([[contamCore]]) and
    * d28's hit stream: per-eval-doc totals + raw
    * (doc_id, shingle, c_doc) hit rows → the c68 report shape. */
  def contamReportOfHits(evalTotals: DataFrame,
                         hits: DataFrame): DataFrame = {
    val folded = hits.groupBy("doc_id")
      .agg(count_distinct(col("c_doc")).as("n_hit_docs"),
        count_distinct(col("shingle")).as("n_hit_shingles"))
    evalTotals
      .join(folded, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        coalesce(col("n_hit_docs"), lit(0L)).as("n_hit_docs"))
      .transform(ratio6On(_, "leak_share_r",
        col("n_hit_shingles"), col("n_shingles")))
      .orderBy("doc_id")
  }

  /** c27: bloom-prefiltered decontamination — c24's 100 TB shape. c24's
    * equi-join shuffles EVERY training shingle to meet the eval set; here a
    * [[graft.functions.BloomMightContain]] filter (built once over the
    * eval-set shingles by distributed treeAggregate, ~fixed-size, shipped
    * with the stage) discards non-matching shingles INSIDE the scan stage,
    * so only the ~fpp false positives plus true matches ever reach the
    * exact-verify join. The verify join removes the false positives, making
    * the output provably identical to c24 (bloom filters have no false
    * negatives) — same oracle. Eval sets are bounded (benchmarks, not
    * corpora), so `expectedItems` is sized from the eval side. */
  def c27BloomDecontam(spark: SparkSession, dir: String,
                       fpp: Double = 0.01): DataFrame = {
    val sh8 = spark.read.parquet(Dedup.shingleTablePath(spark, dir, n = 8))
    // r20 (guide §1.2 "don't compute things you throw away"): the eval
    // shingle set feeds THREE consumers (sizing, the treeAggregate filter
    // build, the exact verify join) and each consumer of the lazy frame
    // re-scanned the FULL shingle table just to keep 1/50th of it —
    // measured 4 full scans = 10 of c27's 11 task-cpu-s at sf0.1. Now it
    // materializes once per run to scratch parquet (decontamOn's seam,
    // same unpersist-free reasoning) and the consumers read the bounded
    // eval-set table.
    val runId = c27Runs.incrementAndGet()
    val evalPath = graft.GraftSession.scratchDir(s"c27-eval-$runId").toString
    sh8.filter(col("doc_id") % 50 === 0)
      .select(col("shingle")).distinct()
      .write.mode("overwrite").parquet(evalPath)
    val evalShingles = spark.read.parquet(evalPath)
    // size the filter from the eval side (bounded by definition) — a
    // hardcoded capacity would saturate on a large eval set, silently
    // degrading fpp toward 1 and defeating the prefilter. The count comes
    // from the materialized table's parquet FOOTERS (O(files), no job).
    val expected = math.max(1024L, Tables.parquetRowCount(evalPath))
    val filterBytes = graft.functions.BloomFunctions.buildFilter(
      evalShingles, "shingle", expectedItems = expected, fpp = fpp)
    val candidates = sh8.filter(col("doc_id") % 50 =!= 0)
      .filter(graft.functions.BloomFunctions.mightContain(
        col("shingle"), filterBytes))
    val hits = candidates.join(broadcast(evalShingles), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
      .orderBy("doc_id")
  }

  /** c32: corpus statistics — the "dataset card" aggregates every curated
    * release ships: per (lang, source) document counts, token/char
    * totals, and length extrema. One partial-aggregated groupBy over a
    * low-cardinality key; all outputs are exact BIGINTs of exact inputs,
    * so the numbers are reproducible anywhere. At 100 TB this is the
    * cheapest query in the suite — a single map-side-combinable pass. */
  def c32CorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(words(col("text"))).cast("bigint").as("n_tokens"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("lang", "source")

  /** Generic decontamination entry point (the production form of c24/c27):
    * flag every doc in `docs` sharing any 8-token shingle with `evalDocs`
    * — both arbitrary DataFrames with (doc_id, text). The eval side is
    * counted once (it is bounded by definition: benchmarks, not corpora)
    * to size the bloom filter, then the corpus side is prefiltered by the
    * codegen'd BloomMightContain INSIDE the scan stage and exact-verified
    * by an equi-join on the survivors — identical output to the plain
    * join, ~fpp of the shuffle. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame,
                    fpp: Double = 0.01): DataFrame = {
    // the eval-shingle subtree (scan+explode+distinct over the eval set)
    // feeds THREE consumers — the sizing count, the treeAggregate filter
    // build, and the broadcast verify join. Materialized to scratch
    // parquet rather than persist(): the returned frame is lazy and
    // re-reads the subtree on every action, so a cache pin has no sound
    // unpersist point and repeated library calls would accumulate one pin
    // each for the JVM lifetime (MEMORY_AND_DISK spill is not
    // LRU-reclaimed from disk). Unique run id: scratchDir CLEARS an
    // existing path, and a reused name would silently invalidate the lazy
    // frame a previous call returned. Bounded by the eval set's size.
    val runId = decontamRuns.incrementAndGet()
    val evalPath = graft.GraftSession.scratchDir(s"decontam-eval-$runId").toString
    Dedup.shingleRows(evalDocs.select(col("doc_id"), col("text")), n = 8)
      .select(col("shingle")).distinct()
      .write.mode("overwrite").parquet(evalPath)
    val evalSh = docs.sparkSession.read.parquet(evalPath)
    // r20: size the filter from the parquet FOOTERS of the table just
    // written (O(files) driver-side reads, no Spark job) — the count()
    // here was one serialized job of pure latency per execution
    val expected = math.max(1024L, graft.Tables.parquetRowCount(evalPath))
    val bytes = graft.functions.BloomFunctions.buildFilter(
      evalSh, "shingle", expectedItems = expected, fpp = fpp)
    val hits = Dedup.shingleRows(docs.select(col("doc_id"), col("text")), n = 8)
      .filter(graft.functions.BloomFunctions.mightContain(col("shingle"), bytes))
      .join(broadcast(evalSh), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** c25: mixture resampling — flatten the language distribution by
    * accepting each doc with per-language probability
    * √(n_min/n_lang) (temperature-0.5 flattening: over-represented
    * languages downsample toward the rarest, the standard pre-training
    * mixture rebalance). The acceptance test is the same deterministic
    * content-hash machinery as c17 (stable under re-partitioning, re-runs,
    * incremental ingest): the first 4 md5 hex digits, read as a 16-bit
    * integer, must fall under ⌊rate·65536⌋ — computed as a hex-string
    * cutoff so both engines compare strings, never parse hex. Language
    * counts arrive via a broadcast tiny aggregate, never a collect. */
  /** Target corpus budget as a multiple of the total token mass, and
    * the per-source epoch ceiling (over-epoching a small high-quality
    * source memorizes it — the standard recipe constraint). */
  val RecipeBudgetFactor = 2L
  val RecipeMaxEpochs = 4L

  /** c110 gate row (r17): the DATA RECIPE — per-source epoch/budget
    * allocation, the mixing decision a pretraining run takes BEFORE
    * sampling (the DoReMi/Llama-style source-weighting stage, made
    * deterministic): weight each source by its quality-keep share
    * (c35's verdicts — quality-weighted budget), give it
    * budget·weight tokens capped at [[RecipeMaxEpochs]]× its own
    * mass, and surface the plan a run executes: per source its doc
    * count, token mass, keep count, weight, planned tokens, epochs
    * and realized budget share. c25 resamples WITHIN a run's arrival
    * stream; this row PLANS the run.
    *
    * Exactness and scale: the per-source aggregate is distributed
    * (one groupBy(source) composing c35's shared subtree — O(docs)
    * through two narrow shuffles); the recipe arithmetic then runs
    * driver-side over the BOUNDED source table in BigInt (the
    * trainCodebook bounded-artifact rule) — exact at ANY corpus size
    * (2·T·keep overflows int64 on a real corpus; BigInt never does),
    * with every 6-dp ratio by the exact-integer half-away rule
    * (c80/c92). The ORACLE re-derives the whole plan in HUGEINT, so
    * both engines agree bit-for-bit at every scale factor. */
  def c110DataRecipe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keep = c35QualityFilter(spark, dir).select(col("doc_id"), col("keep"))
    val per = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("bigint").as("nt"))
      .join(keep, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("keep_docs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    recipeRows(per.toSeq)
      .toDF("source", "n_docs", "tokens", "keep_docs", "weight_r",
        "planned_tokens", "epochs_r", "budget_share_r")
  }

  /** The recipe arithmetic over a collected (source, n_docs, tokens,
    * keep_docs) table — pure BigInt, exact at any magnitude; factored
    * so the spec can drive the 4×-cap leg with a skewed synthetic
    * table the gate corpora don't produce. */
  private[graft] def recipeRows(per: Seq[(String, Long, Long, Long)])
      : Seq[(String, Long, Long, Long, Double, Long, Double, Double)] = {
    val totalKeep = per.map(x => BigInt(x._4)).sum
    val totalTokens = per.map(x => BigInt(x._3)).sum
    require(totalKeep > 0,
      "data recipe needs at least one quality-keep doc to weight by")
    // round6(p/q) by the exact-integer half-away rule (c80/c92)
    def r6(p: BigInt, q: BigInt): Double =
      ((BigInt(2) * p * 1000000 + q) / (BigInt(2) * q)).toDouble / 1e6
    val planned = per.map { case (s, nd, tk, kp) =>
      require(tk > 0, s"source $s has zero token mass — nothing to epoch")
      val pl = (BigInt(RecipeBudgetFactor) * totalTokens * kp / totalKeep)
        .min(BigInt(RecipeMaxEpochs) * tk)
      (s, nd, tk, kp, pl)
    }
    val totalPlanned = planned.map(_._5).sum
    require(totalPlanned > 0, "planned budget folded to zero")
    planned.map { case (s, nd, tk, kp, pl) =>
      (s, nd, tk, kp, r6(kp, totalKeep), pl.toLong,
        r6(pl, BigInt(tk)), r6(pl, totalPlanned))
    }.sortBy(_._1)
  }

  /** c111 gate row (r17): recipe EXECUTION — the sampled multiset a
    * training run actually reads, materializing c110's plan at doc
    * grain: every doc of source s carries n_copies = ⌊epochs_s⌋ full
    * copies plus membership in the FRACTIONAL epoch, decided by the
    * c25 deterministic content-hash rule (substr(md5(text),1,4) under
    * a per-source 16-bit cutoff = ⌊frac·65536⌋, exact integers) — so
    * the mix is a pure function of the corpus: no RNG, identical on
    * every engine and every run, and byte-identical near-dup texts
    * co-travel through the fractional epoch by construction.
    *
    * Scale shape: the plan is a bounded artifact (c110's collected
    * source table) shipped back as two plan-literal maps (d13's rule);
    * the doc pass is ONE row-local projection — zero joins, zero
    * shuffles beyond the presentation sort. The oracle composes
    * c110's SQL and re-derives the cutoffs in HUGEINT. */
  def c111RecipeSample(spark: SparkSession, dir: String): DataFrame =
    recipeCopies(Tables.documents(spark, dir), recipePlanOf(spark, dir))
      .orderBy("doc_id")

  /** c110's plan folded to the per-source (full epochs, 16-bit
    * fractional cutoff hex) pairs the doc-grain projection needs — a
    * bounded artifact (exact BigInt arithmetic driver-side). */
  /** Memoized per dir (r20 — the trainBpe memo rule: a bounded
    * artifact both the query and its oracle rendering must see
    * identically trains once per JVM): c111 and c116 each collected a
    * full c110 execution at plan-construction time, paying c110's whole
    * quality+fold subtree per run. */
  private[graft] def recipePlanOf(spark: SparkSession,
                                  dir: String): Seq[(String, Long, String)] =
    graft.Memo.value("recipe-plan", Seq(dir)) {
      c110DataRecipe(spark, dir).collect().map { r =>
        val tk = BigInt(r.getAs[Long]("tokens"))
        val pl = BigInt(r.getAs[Long]("planned_tokens"))
        (r.getString(0), (pl / tk).toLong,
          f"${((pl % tk) * 65536 / tk).toLong}%04x")
      }.toSeq
    }

  /** THE per-doc copy-count projection over an arbitrary (doc_id,
    * source, text) frame and a collected plan — row-local, the plan as
    * two plan-literal maps (d13's bounded-artifact rule), zero
    * exchanges; shared by construction (d29's rule) between the c111
    * gate row and d51's streaming router. A source absent from the
    * plan reads NULL copies (new material — re-planning is c110's
    * batch job). */
  private[graft] def recipeCopies(docs: DataFrame,
                                  plan: Seq[(String, Long, String)],
                                  carry: Seq[String] = Nil): DataFrame = {
    require(plan.nonEmpty, "recipe plan is empty — run c110 first")
    // withShardKey's reserved-column rule (r19 ADVICE): a carried name
    // colliding with an emitted column would silently produce a
    // duplicate-named, ambiguous output
    val reserved = carry.toSet.intersect(Set("doc_id", "source", "n_copies"))
    require(reserved.isEmpty,
      s"carry columns collide with recipeCopies output: ${reserved.mkString(", ")}")
    val fullMap = map(plan.flatMap { case (s, f, _) =>
      Seq(lit(s), lit(f)) }: _*)
    val cutMap = map(plan.flatMap { case (s, _, c) =>
      Seq(lit(s), lit(c)) }: _*)
    // `carry` rides extra input columns through the one row-local pass
    // (r18): c116 carries the per-doc token count and `publish` the
    // text — without it each paid an O(docs) doc_id join-back for
    // columns that were already in hand
    docs.select(Seq(col("doc_id"), col("source"),
      (element_at(fullMap, col("source")) +
        when(substring(md5(col("text")), 1, 4) <
          element_at(cutMap, col("source")), lit(1L)).otherwise(lit(0L)))
        .as("n_copies")) ++ carry.map(col): _*)
  }

  /** Digest modulus: 2⁶¹ − 1 (Mersenne) — the order-invariant shard
    * digest folds exactly in decimal(38,0) (≤ 10³⁸ headroom at any
    * shard size) and ships as a BIGINT remainder. */
  private[graft] val DigestMod = 2305843009213693951L

  /** c112 gate row (r17): the per-shard RELEASE MANIFEST — what a
    * dataset publisher ships next to c40's shards so a consumer can
    * verify a download without trusting the pipe: per shard its doc
    * count, token mass, and an ORDER-INVARIANT content digest — the
    * exact decimal(38,0) sums of each member's two 60-bit
    * md5(doc_id:text) halves (chars 1-15 and 17-31), reduced mod
    * 2⁶¹−1. Any missing, duplicated, altered or foreign doc moves a
    * digest; matching (n_docs, n_tokens, digest1, digest2) certifies
    * the shard byte-for-byte at doc grain.
    *
    * Scale shape: sums are associative/commutative — map-side
    * combinable, independent of row order and partitioning — where a
    * concat-of-sorted-hashes digest would materialize a shard's whole
    * hash list (corpus-sized aggregation state at 100 TB). One
    * groupBy(shard) over c40's assignment; the oracle re-derives the
    * hex→int halves digit-wise with shift arithmetic (HUGEINT) —
    * engine-exact, no float anywhere. */
  def c112ShardManifest(spark: SparkSession, dir: String,
                        prefixLen: Int = 1): DataFrame =
    shardManifestOn(
      Tables.documents(spark, dir).select("doc_id", "text"), prefixLen)

  /** [[c112ShardManifest]] over an arbitrary (doc_id, text) frame —
    * the library entry point `Main shard --manifest` publishes next
    * to the sharded output. */
  def shardManifestOn(docs: DataFrame, prefixLen: Int = 1): DataFrame = {
    // withShardKey, NOT shuffleShard (r18): the manifest needs h +
    // shard only — the old path paid shuffleShard's per-shard
    // row_number sort window for a column the fold never read
    val sh = withShardKey(docs.select("doc_id", "text"), prefixLen)
    sh.select(col("shard"),
        size(words(col("text"))).cast("bigint").as("nt"),
        expr("cast(conv(substr(h, 1, 15), 16, 10) as decimal(38,0))")
          .as("h1"),
        expr("cast(conv(substr(h, 17, 15), 16, 10) as decimal(38,0))")
          .as("h2"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        expr(s"cast(sum(h1) % ${DigestMod}L as bigint)").as("digest1"),
        expr(s"cast(sum(h2) % ${DigestMod}L as bigint)").as("digest2"))
      .orderBy("shard")
  }

  /** c116 gate row (r18): the recipe AUDIT — did the sampled multiset
    * actually read what the plan said? Per source: c110's
    * planned_tokens next to the REALIZED token mass of c111's multiset
    * (Σ n_copies · doc tokens) and their signed integer drift. The
    * sampler's fractional epoch picks docs by content hash, so the
    * realized mass only approximates frac·tokens — but the drift is
    * PROVABLY bounded by one source's token mass (realized − ⌊e⌋·tokens
    * ∈ [0, tokens], planned − ⌊e⌋·tokens ∈ [0, tokens)), and this row
    * puts the actual number in front of the pipeline owner instead of
    * the bound. All-integer output (no ratios) — the c45 lesson:
    * engine-exact at any scale, no float rounding seam.
    *
    * Scale shape: ONE groupBy(source) over the row-local c111
    * projection joined to the per-doc token counts (a narrow
    * O(docs) aggregate onto the bounded source table); the plan side
    * is the collected bounded artifact. ORACLE composes the c110 and
    * c111 renderings and re-derives the fold in exact integers. */
  def c116RecipeAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("nt", size(words(col("text"))).cast("bigint"))
    val realized = recipeCopies(docs, recipePlanOf(spark, dir), Seq("nt"))
      .groupBy("source")
      .agg(sum(col("n_copies") * col("nt")).as("realized_tokens"))
    c110DataRecipe(spark, dir).select("source", "planned_tokens")
      .join(realized, "source")
      .select(col("source"), col("planned_tokens"), col("realized_tokens"),
        (col("realized_tokens") - col("planned_tokens")).as("drift_tokens"))
      .orderBy("source")
  }

  def c25MixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .withColumn("cutoff",
        floor(sqrt(col("n_min").cast("double") / col("n_lang")) * 65536).cast("bigint"))
      // rate 1.0 (the rarest language itself) → cutoff 65536 → 5 hex
      // digits, which lpad-4 would TRUNCATE to '1000' (≈6% acceptance!);
      // accept-all is any string lexicographically above 'ffff'
      .withColumn("cutoff_hex",
        when(col("cutoff") >= 65536, lit("g"))
          .otherwise(lpad(lower(hex(col("cutoff"))), 4, "0")))
      .select("lang", "n_lang", "cutoff_hex")
    docs.join(broadcast(rates), "lang")
      .filter(substring(md5(col("text")), 1, 4) < col("cutoff_hex"))
      .select(col("doc_id"), col("lang"), col("n_lang"),
        substring(md5(col("text")), 1, 4).as("bucket"))
      .orderBy("doc_id")
  }

  /** c34: corpus vocabulary — the tokenizer-training precursor every LLM
    * data pipeline runs over the final corpus: term frequency (total
    * occurrences) and document frequency per lowercase whitespace token,
    * cut to the top-k by frequency with a total deterministic order
    * (tf desc, term asc). One map-side-combinable groupBy on the term and
    * a TakeOrderedAndProject for the cut — no global sort, no window: at
    * 100 TB the shuffle carries one row per DISTINCT term (vocabulary-
    * sized, not corpus-sized) and each executor ships only its local
    * top-k to the driver-side merge. */
  def c34VocabTopk(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    vocabTopkOn(Tables.documents(spark, dir), k, t => words(lower(t)))

  /** c34 over an arbitrary (doc_id, text) frame and tokenizer — the
    * `Main vocab` entry point. The gate row keeps the ASCII tokenizer
    * (its DuckDB oracle depends on the engine-exact `split(lower, ' ')`
    * rendering); `Main vocab --unicode [--strip-punct]` swaps in the
    * codegen'd NFC/Unicode-whitespace variant
    * ([[graft.functions.UnicodeTokenize.uniTokens]]), parity-pinned by
    * a driver brute-force spec instead of a SQL oracle. */
  def vocabTopkOn(docs: DataFrame, k: Int,
                  tokens: Column => Column): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), asc("term"))
      .limit(k)

  /** c35: composite quality-filter battery (the Gopher-style rule stack) —
    * per-document lexical-diversity signals c7 does not cover: type count,
    * type-token ratio, and the top-token share (the single most frequent
    * token's fraction of the doc), each thresholded into a named rule
    * verdict and combined into one keep/drop decision. Two shuffles, both
    * narrow keys: (doc_id, term) counts then a per-doc aggregate — the
    * same shape at any scale, never a per-doc HOF loop (an
    * `aggregate`-over-array formulation would run interpreted and
    * quadratic per row). Ratios are one double division of exact integers
    * rounded to 6 dp, and every rule thresholds the ROUNDED value so row
    * verdicts cannot flip on a last-ulp engine disagreement. */
  def c35QualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOn(Tables.documents(spark, dir), t => words(lower(t)))

  /** Tokenizer-parameterized c35 (the vocabTopkOn rule, r12): `Main
    * score --quality --unicode` swaps in the codegen'd NFC/Unicode
    * variant for multilingual corpora; the gate row keeps the
    * engine-exact ASCII split. Same two narrow-key shuffles whatever
    * the tokenizer. */
  def qualityFilterOn(docs: DataFrame,
                      tokens: Column => Column): DataFrame =
    qualityCounted(docs, tokens).orderBy("doc_id")

  /** The c35 battery WITHOUT the presentation sort — the form other
    * operators compose (c74 joins it under its own ordering; sorting
    * below a join would just be a wasted exchange). */
  private[graft] def qualityCounted(docs: DataFrame,
                                    tokens: Column => Column): DataFrame = {
    val tc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    qualityVerdicts(tc.groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_types"),
        max(col("c")).as("max_tc")))
  }

  /** THE 6-dp integer-ratio render (r19): intRound(10⁶·num/den)/10⁶ by
    * exact half-away division over NON-NEGATIVE integer columns, staged
    * in DECIMAL(38,0) (corpus-level numerators reach ~10¹³ at 100 TB;
    * 2·10⁶·num wraps an int64 there — the decimal fails loudly). This
    * replaced every round(intA/intB, 6) after the first GenData sf0.1
    * full gate flushed two 1-ULP seams of exactly this class (c45,
    * c56): round(double, 6) near a .5·10⁻⁶ boundary is
    * engine-dependent; the integer division is not. */
  private[graft] def ratio6On(df: DataFrame, out: String,
                              num: Column, den: Column): DataFrame =
    df.withColumn("__r6n", num.cast("decimal(38,0)"))
      .withColumn("__r6d", den.cast("decimal(38,0)"))
      .withColumn(out,
        expr("(2000000*__r6n + __r6d) div (2*__r6d)").cast("double") / 1e6)
      .drop("__r6n", "__r6d")

  /** Column-level [[ratio6On]] (r20): the same exact half-away division
    * staged in DECIMAL(38,0), but usable INSIDE a projection (streaming
    * twins can't thread a frame transform through their select). The
    * quotient is isolated with pmod — (n2 − pmod(n2,d2)) is an exact
    * multiple of d2, so the decimal division is an exact integer and the
    * double cast exact — rather than floor(n2/d2), whose 6-dp-rounded
    * decimal quotient could cross an integer before the floor. */
  private[graft] def ratio6Col(num: Column, den: Column): Column = {
    val n = num.cast("decimal(38,0)"); val d = den.cast("decimal(38,0)")
    val n2 = lit(2000000L).cast("decimal(38,0)") * n + d
    val d2 = lit(2L).cast("decimal(38,0)") * d
    ((n2 - pmod(n2, d2)) / d2).cast("double") / 1e6
  }

  /** The c35 rule battery over a (doc_id, n_words, n_types, max_tc) frame
    * — THE verdict logic both the batch operator and d12's streaming twin
    * apply, shared (like [[words]]) so batch/stream thresholds can't
    * drift. Ratios render through [[ratio6On]] (exact integers, r19);
    * every rule thresholds the ROUNDED value. */
  private[graft] def qualityVerdicts(counts: DataFrame): DataFrame =
    ratio6On(ratio6On(counts,
        "ttr", col("n_types"), col("n_words")),
        "top_share", col("max_tc"), col("n_words"))
      .withColumn("rule_len", col("n_words") >= 10 && col("n_words") <= 1000)
      .withColumn("rule_ttr", col("ttr") >= 0.2)
      .withColumn("rule_top_share", col("top_share") <= 0.2)
      .withColumn("keep",
        col("rule_len") && col("rule_ttr") && col("rule_top_share"))

  /** The row-local (n_words, n_types, max_tc) counts of a (doc_id, text)
    * frame: c35's two groupBy passes collapsed onto the SORTED token
    * array of one row, so the same counts run on a streaming frame. Type
    * boundaries are the positions where a token differs from its
    * predecessor; per-type counts are the gaps between boundaries (run
    * lengths). The sorted array stays in the frame — d35 folds sum_ctf
    * over it (sums are order-independent). d12 is
    * `qualityVerdicts(rowLocalQualityCounts(docs).drop("sorted"))`. */
  private[graft] def rowLocalQualityCounts(docs: DataFrame): DataFrame =
    docs
      // batch c35 tokenizes via explode, which emits ZERO rows for a
      // null text — drop nulls here too or they'd surface as all-null
      // verdict rows and break the row-for-row parity
      .filter(col("text").isNotNull)
      .select(col("doc_id"), sort_array(words(lower(col("text")))).as("sorted"))
      // run starts: position 0 plus every position whose token differs
      // from its predecessor (1-based element_at over the 0-based index)
      .select(col("doc_id"), col("sorted"),
        filter(sequence(lit(0), size(col("sorted")) - 1),
          i => (i === lit(0)) ||
            (element_at(col("sorted"), i + 1) =!= element_at(col("sorted"), i)))
          .as("starts"))
      .select(col("doc_id"), col("sorted"),
        size(col("sorted")).cast("bigint").as("n_words"),
        size(col("starts")).cast("bigint").as("n_types"),
        // run lengths = next start (or n) minus this start; the max is
        // c35's max term count
        array_max(zip_with(
          col("starts"),
          concat(slice(col("starts"), lit(2), size(col("starts"))),
            array(size(col("sorted")))),
          (a, b) => b - a)).cast("bigint").as("max_tc"))

  /** c17: stratified deterministic sampling — per-stratum (language) rates
    * applied via a content-hash bucket, the scale-safe sampler: a pure
    * function of the text (stable under re-partitioning, re-runs, and
    * incremental ingest — rows never flicker in and out of the sample),
    * no RNG state, no sample() nondeterminism. en keeps ~25% (md5 prefix
    * < '40'), every other language ~50% (< '80'). */
  def c17StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("text")), 1, 2)
    Tables.documents(spark, dir)
      .withColumn("bucket", bucket)
      .withColumn("rate_cap", when(col("lang") === "en", "40").otherwise("80"))
      .filter(col("bucket") < col("rate_cap"))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")
  }

  /** c39: fixed-window document chunking with overlap — the context-window
    * splitter every RAG index and long-document training pipeline runs:
    * each doc becomes ⌈n/stride⌉-ish chunks of `chunkSize` tokens starting
    * every `stride` tokens (overlap = chunkSize − stride). One stateless
    * projection + explode per doc — no shuffle at all (ordering excluded:
    * the gate's orderBy is presentation only), embarrassingly parallel
    * over document splits at any scale. The token array is staged behind
    * its own projection alias so the split runs once per row, and each
    * chunk slice likewise feeds its text and length columns from one
    * evaluation. Chunk starts are 0, stride, 2·stride, … while < n_tokens
    * (so the final, possibly short, tail chunk is kept — no token is
    * dropped); chunk_id = start/stride. */
  def c39Chunk(spark: SparkSession, dir: String,
               chunkSize: Int = 32, stride: Int = 24): DataFrame =
    chunkDocs(Tables.documents(spark, dir), chunkSize, stride)
      .orderBy("doc_id", "chunk_id")

  /** [[c39Chunk]] over an arbitrary (doc_id, text) frame — the library
    * entry point a pipeline calls on its own curated corpus (the CLI's
    * `chunk` subcommand). Unordered: callers sort or shard downstream. */
  def chunkDocs(docs: DataFrame,
                chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    docs
      .select(col("doc_id"), words(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / lit(stride)).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        slice(col("toks"), col("chunk_id") * stride + 1, lit(chunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("bigint").as("chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** c40: deterministic training-order shuffle + sharding — the writer
    * side of a training run: every doc gets a content-derived shard and a
    * dense position within that shard, reproducible across re-runs,
    * re-partitionings, and engines (no RNG state — the order IS the md5
    * of the content, the same stable-hash machinery as c14/c17). Shards
    * are the first `prefixLen` md5 hex chars (16^prefixLen shards), so a
    * production run sizes shards for its reducers/output files by turning
    * the prefix knob (4 hex chars = 65k shards at 100 TB ≈ 1.5 GB each) —
    * the per-shard position sort is a window over ONE SHARD, never a
    * global single-reducer sort. The hash is salted with doc_id so
    * replayed/duplicate texts still get distinct positions. */
  def c40ShuffleShard(spark: SparkSession, dir: String,
                      prefixLen: Int = 1): DataFrame =
    shuffleShard(Tables.documents(spark, dir), prefixLen)
      .select("doc_id", "shard", "pos", "h")
      .orderBy("shard", "pos")

  /** [[c40ShuffleShard]] over an arbitrary frame with (doc_id, text) —
    * the library entry point for sharding a curated corpus (the CLI's
    * `shard` subcommand). APPENDS (h, shard, pos) to the input frame in
    * place — every input column rides along through the one shard-key
    * exchange, no join-back (a join on doc_id would fan out duplicate
    * ids and pay a second corpus shuffle just to reattach columns).
    * Duplicate doc_ids are legal: each row still gets its own dense
    * position. Unordered: a writer partitions the output by `shard`. */
  /** THE shard-key derivation — h = md5(doc_id:text), shard = its
    * prefixLen-char hex prefix — factored (r18) so [[shuffleShard]],
    * [[shardManifestOn]] and d54's streaming digest contributions
    * cannot drift (the wordTypeCounts rule applied to sharding). */
  private[graft] def withShardKey(docs: DataFrame,
                                  prefixLen: Int): DataFrame = {
    require(prefixLen >= 1 && prefixLen <= 8,
      s"prefixLen must be in [1, 8], got $prefixLen")
    val reserved = docs.columns.toSet.intersect(Set("h", "shard", "pos"))
    require(reserved.isEmpty,
      s"input already has column(s) ${reserved.mkString(", ")} — rename " +
        "them first (the shard derivation appends h and shard)")
    docs
      .withColumn("h",
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))))
      .withColumn("shard", substring(col("h"), 1, prefixLen))
  }

  def shuffleShard(docs: DataFrame, prefixLen: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    withShardKey(docs, prefixLen)
      .withColumn("pos", (row_number().over(w) - 1).cast("bigint"))
  }

  /** c41: corpus-frequency scoring — the perplexity-proxy quality filter
    * (the CCNet-style stage): score each doc by the mean UNIGRAM
    * PROBABILITY of its tokens (mean corpus frequency / total corpus
    * tokens). Gibberish/boilerplate is rare-token-heavy and scores low;
    * natural prose rides the head of the distribution. Normalizing by the
    * corpus total makes the score — and the keep threshold — invariant to
    * corpus size, so one cutoff serves every scale factor. Two narrow
    * shuffles — a vocabulary-sized term count (map-side combinable) and a
    * per-doc sum — joined on the term key; at 100 TB the join ships one
    * row per (doc, token) against a vocabulary-sized build side (hash
    * equi-join; broadcast when the vocab is bounded), and the corpus
    * total arrives via a broadcast 1-row aggregate, never a collect.
    * All-integer sums with one left-associated double division chain at
    * the end (identical IEEE ops in both engines), and the keep verdict
    * thresholds the ROUNDED value, so engines agree at the boundary. */
  def c41FreqScore(spark: SparkSession, dir: String,
                   minMeanProb: Double = 0.033): DataFrame =
    freqScoreOn(Tables.documents(spark, dir), t => words(lower(t)),
      minMeanProb)

  /** The c41 scoring subtree, shared with c42: per-doc token counts,
    * corpus-frequency sums and the 6-dp-rounded mean unigram probability,
    * plus the doc's content-hash bucket — carried through the aggregation
    * as a min() (NOT a second group key: doc_id stays the one grouping
    * column, so a degenerate input with duplicate doc_ids still yields
    * one row per id, exactly like the c41 oracle's GROUP BY doc_id) so
    * c42 can sample without joining text back in. */
  private[graft] def freqScored(spark: SparkSession, dir: String): DataFrame =
    freqScoredOn(Tables.documents(spark, dir), t => words(lower(t)))

  /** Tokenizer-parameterized c41 subtree (the vocabTopkOn rule, r12):
    * `Main score --unicode` swaps in the NFC/Unicode variant; shape is
    * identical whatever the tokenizer (two narrow-key shuffles, the
    * corpus total via a broadcast 1-row aggregate). */
  private[graft] def freqScoredOn(docs: DataFrame,
                                  tokens: Column => Column): DataFrame = {
    val tok = docs
      .select(col("doc_id"), substring(md5(col("text")), 1, 2).as("bucket"),
        explode(tokens(col("text"))).as("term"))
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("ctf"))
    // corpus total = Σ ctf over the VOCABULARY (already aggregated) — not
    // a third corpus-wide explode
    val total = vocab.agg(sum(col("ctf")).as("total_tokens"))
    tok.join(vocab, "term")
      .groupBy("doc_id")
      .agg(min(col("bucket")).as("bucket"),
        count(lit(1)).as("n_tokens"), sum(col("ctf")).as("sum_ctf"))
      .crossJoin(broadcast(total))
      // 6-dp render by EXACT INTEGER half-away division (r19 — the
      // c45/c56 rule applied proactively across the integer-ratio
      // renders after the first GenData sf0.1 gate flushed two 1-ULP
      // seams of this class): m6 = intRound(10⁶·sum_ctf/(n_tokens·
      // total_tokens)), staged in DECIMAL(38,0) — the denominator
      // reaches ~10¹⁵ on a 100 TB corpus and 2·10⁶·sum_ctf wraps an
      // int64 there; the decimal fails loudly instead.
      .withColumn("__den", col("n_tokens").cast("decimal(38,0)") *
        col("total_tokens").cast("decimal(38,0)"))
      .withColumn("mean_prob_r",
        expr("(2000000*cast(sum_ctf as decimal(38,0)) + __den) div (2*__den)")
          .cast("double") / 1e6)
      .drop("__den")
  }

  /** c41's keep-verdict form over an arbitrary docs frame + tokenizer —
    * what `Main score` serves. */
  def freqScoreOn(docs: DataFrame, tokens: Column => Column,
                  minMeanProb: Double = 0.033): DataFrame =
    freqScoredOn(docs, tokens)
      .select("doc_id", "n_tokens", "sum_ctf", "total_tokens", "mean_prob_r")
      .withColumn("keep", col("mean_prob_r") >= minMeanProb)
      .orderBy("doc_id")

  /** c42: banded quality sampling — the CCNet-shaped stage downstream of
    * c41: docs are bucketed into head/middle/tail quality bands by FIXED
    * score cutoffs (CCNet computes its perplexity cutoffs offline on a
    * held-out sample and ships them as constants; c41's scale-free score
    * makes the same constants portable across corpus sizes), then each
    * band keeps a different deterministic content-hash fraction — head
    * everything, middle ~50%, tail ~10% — so the output mixture skews
    * toward quality without discarding the tail outright. The sampler is
    * c17's machinery (pure function of the text: stable under re-runs,
    * re-partitioning and incremental ingest); the band caps are hex-string
    * cutoffs compared as strings (c25's rule — 'g' is keep-all, since
    * every 2-hex bucket sorts below it). One extra stateless projection
    * + filter over the shared [[freqScored]] subtree: no new shuffles. */
  def c42BandedSample(spark: SparkSession, dir: String,
                      headCut: Double = 0.0335,
                      tailCut: Double = 0.0330): DataFrame = {
    require(headCut >= tailCut,
      s"headCut must be >= tailCut, got $headCut < $tailCut")
    freqScored(spark, dir)
      .withColumn("band",
        when(col("mean_prob_r") >= headCut, "head")
          .when(col("mean_prob_r") >= tailCut, "middle")
          .otherwise("tail"))
      .withColumn("cap",
        when(col("band") === "head", "g")
          .when(col("band") === "middle", "80")
          .otherwise("1a"))
      .filter(col("bucket") < col("cap"))
      .select(col("doc_id"), col("band"), col("bucket"), col("mean_prob_r"))
      .orderBy("doc_id")
  }

  /** c44: BPE pair statistics — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016) as a corpus operator:
    * count adjacent symbol pairs, weighted by word frequency; the top
    * pair is the next merge. The classic distributed-BPE trick makes this
    * 100 TB-safe: pair explosion runs over the DISTINCT-WORD table (the
    * corpus's vocabulary — bounded and tiny next to the corpus), not over
    * every token occurrence, so the heavy corpus pass is just the
    * map-side-combinable word count c34 already does; chars-of-a-word is
    * row-local array math and the pair aggregation keys on a 2-char pair
    * (bounded domain → bounded state, map-side combinable). Single-char
    * and empty words contribute no pairs (no pairs exist — same contract
    * both engines derive naturally). Output is the top-`topK` merge
    * candidates under a total order (count desc, then pair lexicographic)
    * so the cut is deterministic. */
  /** Adjacent symbol pairs of a STAGED array column as array<struct<a,b>>,
    * shared by c44/d17 (char pairs) and c56/d24 (word pairs). Formulated
    * as `arrays_zip(prefix, suffix)` — slice and arrays_zip are fully
    * codegen'd, where the previous transform(sequence, element_at) lambda
    * routed every element through interpreted HOF eval (measured: the
    * dominant cost of c56's pair explode at the ×10 stress scale).
    * arrays_zip takes its struct field names from the input aliases, so
    * the output schema is unchanged. Callers stage `cs` in its own
    * projection and filter inputs shorter than 2 elements first (the
    * pre-existing contract; a 1-element input yields empty slices and
    * therefore no pairs either way). */
  private[graft] def charPairsOf(cs: Column): Column =
    arrays_zip(
      slice(cs, lit(1), size(cs) - 1).as("a"),
      slice(cs, lit(2), size(cs) - 1).as("b"))

  /** c48: exact-COUNT deterministic sampling — "exactly N docs" (a fixed
    * labeling or eval budget), where c17/c25/c42 are RATE-based: rank
    * every doc by its salted content hash (c40's h — replayed texts rank
    * distinctly) and keep the N smallest under a total order. Plans as
    * TakeOrderedAndProject — an N-row heap per partition and one N-row
    * merge, NO global sort and no corpus shuffle (plan-audited) — and
    * the pick is a pure function of content: stable under re-runs,
    * re-partitioning, incremental ingest and engines. */
  def c48SampleExact(spark: SparkSession, dir: String, n: Int = 100): DataFrame = {
    require(n >= 1, s"sample size must be >= 1, got $n")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))).as("rk"))
      // null text → null rk: Spark defaults to NULLS FIRST, DuckDB to
      // NULLS LAST — pin LAST explicitly so the sample membership is
      // engine-stable on corpora with null texts
      .orderBy(col("rk").asc_nulls_last, col("doc_id"))
      .limit(n)
  }

  /** Corpus snapshot diff over ARBITRARY old/new (doc_id, text) frames —
    * the dataset-release audit every training org runs between corpus
    * versions: per-doc status added / removed / changed / unchanged by
    * content hash. ONE full-outer equi-join on the id key with the md5s
    * computed scan-side — at 100 TB this is the whole plan (AQE sizes
    * the join; no pass over text beyond the two scans). */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    // presence rides its own flag: md5(NULL) is NULL, so hash-nullness
    // cannot stand in for absence — a null-text doc present in both
    // sides must compare null-safely (<=>) as unchanged, not get
    // misread as added/removed
    oldDocs.select(col("doc_id"), md5(col("text")).as("old_h"),
      lit(true).as("in_old"))
      .join(newDocs.select(col("doc_id"), md5(col("text")).as("new_h"),
        lit(true).as("in_new")), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("old_h") <=> col("new_h")), "changed")
          .otherwise("unchanged").as("status"))

  /** c49: [[snapshotDiff]]'s gate harness — the "old" snapshot derives
    * DETERMINISTICALLY from the corpus itself (every-13th doc absent →
    * `added`, every-11th text mutated → `changed`, NEGATED-id ghost
    * docs → `removed`; negative ids can never collide with a real
    * corpus id at any scale, where a fixed offset eventually would), so
    * both engines rebuild the identical old/new pair and the oracle
    * checks the diff logic end-to-end with all four statuses populated. */
  def c49SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val old = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("text")))
    snapshotDiff(old, docs).orderBy("doc_id")
  }

  /** c50: per-group budget selection — the balanced-mixture curation
    * shape ("the best k docs PER LANGUAGE"), completing the sampling
    * trio: c17 rates, c48 a global count, c50 a count per group. Ranked
    * by c41's 6-dp-rounded quality score (engine-stable), ties to the
    * lower doc_id. The plan is the SKEW-SAFE grouped top-k: group keys
    * like `lang` are few and huge at 100 TB, so a single per-group
    * window would funnel whole languages through single partitions —
    * instead a salted local pass ranks within (lang, salt) and only the
    * ≤ k·salts survivors reach the per-lang final window. Salting
    * cannot change the answer (any global top-k member is top-k within
    * its salt bucket a fortiori); the DuckDB oracle uses the plain
    * single window, which is the point — same result, different plan. */
  def c50GroupBudget(spark: SparkSession, dir: String, k: Int = 50,
                     salts: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir).select("doc_id", "lang")
      .join(c41FreqScore(spark, dir).select("doc_id", "mean_prob_r"), "doc_id")
    val local = Window.partitionBy(col("lang"), pmod(col("doc_id"), lit(salts)))
      .orderBy(desc("mean_prob_r"), asc("doc_id"))
    val global = Window.partitionBy("lang")
      .orderBy(desc("mean_prob_r"), asc("doc_id"))
    scored
      .withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= k) // ≤ k·salts survivors per lang
      .withColumn("rnk", row_number().over(global).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("doc_id"), col("mean_prob_r"))
      .orderBy("lang", "rnk")
  }

  def c44BpePairs(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val wc = Tables.documents(spark, dir)
      .select(explode(words(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
    wc.filter(length(col("w")) >= 2)
      .select(col("wcnt"), split(col("w"), "").as("cs"))
      .select(col("wcnt"), explode(charPairsOf(col("cs"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wcnt")).as("cnt"))
      .orderBy(desc("cnt"), asc("a"), asc("b"))
      .limit(topK)
  }

  // ---- learned-merge BPE (c52): c44's one-shot pair statistics driven to
  // ---- an actual tokenizer training loop (Sennrich et al. 2016, "Neural
  // ---- Machine Translation of Rare Words with Subword Units")

  /** The corpus word-type table (word, count) every BPE stage runs over —
    * the classic distributed-BPE trick: pair counting and merge
    * application iterate the VOCABULARY (bounded, tiny next to the
    * corpus), so each training round costs one vocab scan, and the only
    * corpus-sized pass is the map-side-combinable word count itself. */
  private[graft] def wordTypes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(wordTypeTablePath(spark, dir))

  /** Per-dir memoized word-type table (r21): THE at-rest artifact of
    * distributed tokenizer work — ten call sites (trainers, the
    * c52/c75/c98 token tables, the four fertility frames, c84's three
    * OOV folds) each re-ran the corpus explode + word-count shuffle per
    * execution; a production pipeline lands the word count once per
    * corpus and every vocabulary job reads it. Values unchanged (the
    * oracle recomputes word counts independently in SQL, so any drift
    * hash-fails); build time rides MemoClock → memo_build_s. */
  private def wordTypeTablePath(spark: SparkSession, dir: String): String =
    graft.Memo.table("wordtypes", Seq(dir)) { p =>
      // fanned build (the r20 opt-in list: merge-apply tokenization);
      // n/4 parts for the join/agg-bound consumers (shingleTablePath)
      wordTypeCounts(Tables.documentsFanned(spark, dir))
        .coalesce(math.max(8,
          spark.sessionState.conf.numShufflePartitions / 4))
        .write.parquet(p)
    }

  /** The (w, wcnt) word-type frame over an ARBITRARY (.., text) docs
    * frame — THE shared word-type convention (lowercased ASCII
    * single-space split, length ≥ 1), factored so the CLI verbs
    * (`sketch`, `wordpiece-train`) and the gate rows cannot silently
    * drift if the convention ever changes (r17 ADVICE). */
  private[graft] def wordTypeCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(words(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wcnt"))

  /** The char-BPE training ALPHABET: every distinct character of the
    * word-type corpus — char-BPE's implicit base vocabulary (a single
    * char emits as itself whenever no merge covers it, so an emitted
    * token is out-of-vocabulary iff it is a char outside this set).
    * Artifact-sized by construction (≤ distinct chars, not words);
    * memoized per dir exactly like [[trainBpe]] — the c84 gate row and
    * its oracle renderer must see the identical set. */
  private[graft] def bpeAlphabet(spark: SparkSession, dir: String): Seq[String] =
    graft.Memo.value("bpe-alphabet", Seq(dir)) {
      wordTypes(spark, dir)
        .select(explode(split(col("w"), "")).as("c")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    }

  /** Chars of a word column outside an alphabet — char-BPE's OOV token
    * count for the word (an uncovered char can join no merge, so it
    * surfaces as exactly one lone token). */
  private[graft] def charOovCount(w: Column, alphabet: Seq[String]): Column =
    size(filter(split(w, ""), c => !c.isin(alphabet: _*))).cast("bigint")

  /** A word staged as a BPE symbol sequence: symbols joined AND fenced by
    * DOUBLE spaces ("ab" → "␣␣a␣␣b␣␣"). The double-space delimiter is
    * what makes merge application a single literal `replace` per merge
    * (see [[applyBpeMerges]]): the search pattern "␣a␣␣b␣" keeps one
    * boundary space on each side, so (1) a pair can only match whole
    * symbols — "␣a" cannot match the tail of symbol "xa", "b␣" cannot
    * match the head of "bc" — and (2) back-to-back occurrences
    * "a b a b" still both match, because each replacement leaves its
    * neighbors' fence spaces intact. Literal replace scans left-to-right
    * over non-overlapping occurrences in BOTH Spark and DuckDB — exactly
    * one greedy BPE merge pass. */
  private[graft] def bpeSeqOf(w: Column): Column =
    concat(lit("  "), array_join(split(w, ""), "  "), lit("  "))

  /** Apply an ordered merge list to a word column; returns the token
    * array. One codegen'd literal replace per merge — row-local,
    * shuffle-free, and byte-identical to the DuckDB rendering (nested
    * replace() over the same fenced sequence). Since r11 this is the
    * REFERENCE formulation only (plan depth is linear in merge count):
    * production paths use the native fused [[graft.functions.ApplyBpe]],
    * parity-pinned against this chain by BpeExprSpec. */
  def applyBpeMerges(w: Column, merges: Seq[(String, String)]): Column =
    split(trim(merges.foldLeft(bpeSeqOf(w)) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }), "  ")

  /** One BPE training round's candidate table over staged token arrays:
    * adjacent-pair counts weighted by word count, under the
    * deterministic (count desc, pair asc) total order. */
  private def pairCounts(staged: DataFrame): DataFrame =
    staged.filter(size(col("ts")) >= 2)
      .select(col("wcnt"), explode(charPairsOf(col("ts"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wcnt")).as("cnt"))
      .orderBy(desc("cnt"), asc("a"), asc("b"))

  /** BPE merge learning over an arbitrary (w, wcnt) word-type frame.
    * Each round: count adjacent symbol pairs across the vocabulary
    * (weighted by word frequency), adopt the most frequent pair as the
    * next merge — ties broken lexicographically so the list is a pure
    * function of the data (partitioning- and engine-invariant; every
    * count is an exact long) — and re-stage the vocabulary with the
    * merge applied. Stops early when no pair remains (every word fused
    * to one symbol). The per-round collect is ONE row — the loop ships a
    * bounded model artifact exactly like trainCodebook/powerIterate.
    * Cost model at 100 TB: rounds × (one vocab scan + a pair-keyed
    * shuffle whose key domain is bounded by the evolving symbol
    * alphabet) — the corpus itself is only ever scanned by the word
    * count feeding `wordCounts`. */
  def trainBpeOn(wordCounts: DataFrame, rounds: Int): Seq[(String, String)] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val base = wordCounts.select(col("wcnt"), col("w")).persist()
    try {
      base.count() // materialize once; every round re-reads the cache
      var merges = Vector.empty[(String, String)]
      var exhausted = false
      while (merges.length < rounds && !exhausted) {
        // stage with the NATIVE fused merge loop (functions/Bpe.scala):
        // round r previously chained r replace nodes (O(rounds²) total
        // plan work across training — unplannable at a real ~30k-merge
        // vocabulary); the native expression is one plan node per round
        val top = pairCounts(
          base.select(col("wcnt"),
            graft.functions.BpeFunctions.applyBpe(col("w"), merges).as("ts")))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else merges :+= ((top(0).getAs[String]("a"), top(0).getAs[String]("b")))
      }
      merges
    } finally { base.unpersist(); () }
  }

  /** c52's training depth: enough rounds that multi-char merges chain
    * (merged symbols re-merge) at every gate scale factor. */
  val C52Rounds = 8

  /** Memoized per (dir, rounds): the c52 query and its oracle rendering
    * (which inlines the learned merges as SQL literals) must train exactly
    * once per JVM and see the identical list. */
  def trainBpe(spark: SparkSession, dir: String,
               rounds: Int = C52Rounds): Seq[(String, String)] =
    graft.Memo.value("bpe", Seq(dir), rounds) {
      trainBpeOn(wordTypes(spark, dir), rounds)
    }

  /** (doc_id, n_words, n_tokens, tokens) of a (doc_id, text) frame: each
    * row's word array `ws` segmented word by word through `seg` — the
    * tokenize projection the BPE, unigram and wordpiece paths share.
    * Row-local with the artifact as plan literals, so the same plan serves
    * a batch and a streaming frame. Null texts drop. */
  private[graft] def tokenizeDocsWith(docs: DataFrame, ws: Column,
                                      seg: Column => Column): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_words"),
        flatten(transform(col("ws"), seg)).as("tokens"))
      .select(col("doc_id"), col("n_words"),
        size(col("tokens")).cast("bigint").as("n_tokens"), col("tokens"))

  /** Non-empty lowercased words — the word stream of every word-level
    * tokenizer. */
  private[graft] def tokenWords(text: Column): Column =
    filter(words(lower(text)), w => length(w) >= 1)

  /** BPE tokenization of a (doc_id, text) frame under a merge artifact
    * through the native [[graft.functions.ApplyBpe]] — `Main tokenize`'s
    * derivation, and on a streaming frame the BPE ingest path. Word-level
    * by default; `bytes` applies a byte-level artifact to byte-STAGED
    * pretokens (c70's path, `gpt2Pre` picks the exact GPT-2 pretokenizer),
    * and then n_words counts pretokens. */
  private[graft] def bpeTokenizeDocs(docs: DataFrame, merges: Seq[(String, String)],
                                     bytes: Boolean = false,
                                     gpt2Pre: Boolean = false): DataFrame = {
    val ws =
      if (bytes) transform(bytePretokensOf(col("text"), gpt2Pre),
        p => graft.functions.ByteBpeFunctions.byteStage(p))
      else tokenWords(col("text"))
    tokenizeDocsWith(docs, ws, w => graft.functions.BpeFunctions.applyBpe(w, merges))
  }

  /** c52: the learned tokenizer END-TO-END — train [[C52Rounds]] merges on
    * the corpus, apply them to the vocabulary, and emit the token
    * frequency table (the artifact a tokenizer ships). The oracle re-runs
    * only the APPLY phase in SQL, against the merge list inlined as
    * literals at render time — so the gate verifies (1) merge application
    * semantics against an independent engine and (2) that training is
    * deterministic across runs and partitionings (a drifting merge list
    * would change the inlined SQL vs the Spark re-train and hash-fail). */
  def c52BpeTokenize(spark: SparkSession, dir: String,
                     topK: Int = 100): DataFrame = {
    val merges = trainBpe(spark, dir)
    wordTypes(spark, dir)
      // the NATIVE fused merge loop (functions/Bpe.scala): one plan node
      // at any vocabulary size, where the applyBpeMerges replace-chain is
      // merge-count deep (parity-spec'd equal; the chain remains the
      // independent reference formulation)
      .select(col("wcnt"),
        graft.functions.BpeFunctions.applyBpe(col("w"), merges).as("ts"))
      .select(col("wcnt"), explode(col("ts")).as("token"))
      .groupBy("token").agg(sum(col("wcnt")).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(topK)
  }

  /** c66: tokenizer FERTILITY — tokens-per-word under the trained BPE
    * (c52's artifact), per document: the standard tokenizer-evaluation
    * metric (a fertility near 1 means the vocabulary fits the corpus;
    * rare-vocab documents blow up toward characters-per-word). Closes
    * the tokenizer loop c44 → c52 opened: train → apply → EVALUATE.
    * Documents with zero length-≥1 words drop (both engines derive the
    * row set from the surviving word stream, so the degenerate 0/0
    * fertility cannot arise by construction).
    *
    * Scale shape: training is c52's memoized artifact (one corpus scan
    * per JVM); the apply is the native fused [[graft.functions.ApplyBpe]]
    * inside a row-local HOF projection — ZERO exchanges before the gate
    * ordering; fertility is one double division of exact longs, 6-dp
    * rounded. The oracle inlines the learned merges (c52's rule), so
    * trainer drift hash-fails here too. */
  def c66BpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainBpe(spark, dir)
    val ws = tokenWords(col("text"))
    Tables.documentsFanned(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"),
        size(col("ws")).cast("bigint").as("n_words"),
        size(flatten(transform(col("ws"),
          w => graft.functions.BpeFunctions.applyBpe(w, merges))))
          .cast("bigint").as("n_tokens"))
      .transform(ratio6On(_, "fertility_r", col("n_tokens"), col("n_words")))
      .orderBy("doc_id")
  }

  // ---- byte-level BPE (c70): c52's training/apply machinery lifted to
  // ---- the GPT-2 byte-staged alphabet (Radford et al. 2019; the
  // ---- tiktoken/HuggingFace ByteLevel contract) — ANY input byte
  // ---- sequence tokenizes, not just space-split ASCII words

  /** c70's pre-tokenizer pattern: each pretoken is one optional leading
    * space plus a maximal space-free run — the "Ġword" shape byte-level
    * tokenizers train on (a merge can fuse the space INTO the word, so
    * " the" becomes one token). GPT-2's full pattern also splits letter
    * /digit/punctuation classes and keeps whitespace runs via a
    * `\s+(?!\S)` lookahead; RE2 (DuckDB's engine) supports no
    * lookahead, so the gate uses this parity-safe core — identical
    * semantics in Java regex and RE2 — and documents the divergence:
    * within a run of k ≥ 2 spaces only the one attached to the next
    * pretoken survives, and trailing whitespace drops. On the
    * single-spaced gate corpus the two pre-tokenizers agree exactly. */
  private[graft] val BytePretokenPattern = " ?[^ ]+"

  /** Pretoken array of a raw text column (no lowercasing — byte-level
    * tokenization is case-preserving by design). */
  private[graft] def bytePretokens(c: Column): Column =
    regexp_extract_all(c, lit(BytePretokenPattern), lit(0))

  /** Pretokenizer selection for the byte-BPE CLI surface: the gate's
    * parity-safe core, or (`--gpt2-pre`) the exact published GPT-2
    * pattern via the native lookahead expression
    * ([[graft.functions.Gpt2Pretokenize]] — fixture-pinned; gate rows
    * never use it because RE2/DuckDB cannot render it). */
  private[graft] def bytePretokensOf(c: Column, gpt2Pre: Boolean): Column =
    if (gpt2Pre) graft.functions.Gpt2Pretokenize.gpt2Pretokens(c)
    else bytePretokens(c)

  /** The byte-STAGED pretoken-type table (w, wcnt): every pretoken's
    * UTF-8 bytes mapped into the staging alphabet
    * ([[graft.functions.ByteBpeAlphabet]]) so the result is space-free
    * and fence-safe for the shared BPE engine — [[trainBpeOn]] and
    * [[graft.functions.ApplyBpe]] are alphabet-agnostic and run on it
    * unchanged. Same scale shape as [[wordTypes]]: the corpus is
    * scanned once by a map-side-combinable count; every BPE stage
    * iterates this bounded vocabulary. */
  private[graft] def bytePretokenTypes(docs: DataFrame,
                                       gpt2Pre: Boolean = false): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(bytePretokensOf(col("text"), gpt2Pre)).as("p"))
      .select(graft.functions.ByteBpeFunctions.byteStage(col("p")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))

  /** c70's training depth (c52's rule: enough rounds that merged symbols
    * re-merge — with the leading-space staging this learns 'Ġx'-style
    * space-fused merges too). */
  val C70Rounds = 8

  /** Byte-level merge list over the corpus at `dir` — memoized per
    * (dir, rounds) exactly like [[trainBpe]] (query and oracle renderer
    * must see the identical artifact). */
  def trainBpeBytes(spark: SparkSession, dir: String,
                    rounds: Int = C70Rounds): Seq[(String, String)] =
    graft.Memo.value("byte-bpe", Seq(dir), rounds) {
      trainBpeOn(bytePretokenTypes(Tables.documents(spark, dir)), rounds)
    }

  /** c70: BYTE-LEVEL learned BPE end-to-end — train [[C70Rounds]] merges
    * over the byte-staged pretoken vocabulary, apply them through the
    * native fused [[graft.functions.ApplyBpe]] (the engine is
    * alphabet-agnostic; only the staging differs from c52), and emit the
    * token frequency table. Tokens stay in the staged alphabet (a
    * tokenizer's vocab file shape — 'Ġthe', not ' the');
    * [[graft.functions.ByteBpeFunctions.byteUnstage]] inverts them
    * losslessly. The oracle re-runs the staging + apply in SQL against
    * merges inlined at render time (c52's drift-pinning rule), so both
    * the staging table and merge application verify against an
    * independent engine. */
  def c70BpeBytes(spark: SparkSession, dir: String,
                  topK: Int = 100): DataFrame = {
    val merges = trainBpeBytes(spark, dir)
    bytePretokenTypes(Tables.documentsFanned(spark, dir))
      .select(col("wcnt"),
        graft.functions.BpeFunctions.applyBpe(col("w"), merges).as("ts"))
      .select(col("wcnt"), explode(col("ts")).as("token"))
      .groupBy("token").agg(sum(col("wcnt")).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(topK)
  }

  /** c73: BYTE-LEVEL tokenizer fertility — c66's evaluation metric for
    * the c70 artifact, closing the byte-level loop too (train → apply →
    * EVALUATE): tokens-per-PRETOKEN per document under the trained
    * byte-level merges. The denominator is pretokens (c70's unit — a
    * pretoken carries its leading space), so fertility here reads
    * "staged symbols a pretoken compresses to": near 1 means the learned
    * vocabulary covers the corpus's byte patterns; an unmerged corpus
    * reads ≈ bytes-per-pretoken. Same shape as c66: memoized training
    * artifact, native fused staging+apply inside a row-local HOF
    * projection — ZERO exchanges before the gate ordering; zero-pretoken
    * docs absent by construction in both engines; the oracle inlines the
    * staging table AND the learned merges (c70's rule), so trainer or
    * staging drift hash-fails. */
  def c73ByteFertility(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainBpeBytes(spark, dir)
    Tables.documentsFanned(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), bytePretokens(col("text")).as("ps"))
      .filter(size(col("ps")) >= 1)
      .select(col("doc_id"),
        size(col("ps")).cast("bigint").as("n_pretokens"),
        size(flatten(transform(col("ps"), p =>
          graft.functions.BpeFunctions.applyBpe(
            graft.functions.ByteBpeFunctions.byteStage(p), merges))))
          .cast("bigint").as("n_tokens"))
      .transform(ratio6On(_, "fertility_r", col("n_tokens"), col("n_pretokens")))
      .orderBy("doc_id")
  }

  /** Per-dir memoized TOKENIZED-CORPUS tables (r21, the r20 verdict's
    * item 2 — keyed per dir like the trainer memos): each family's
    * per-doc (doc_id, n_units, n_tokens) frame —
    * exactly the gate row's own derivation (c66/c73/c78/c99 run LIVE as
    * gates; the memo build CALLS them, so the table can never drift
    * from what the gates verify) — materialized once per (JVM, dir).
    * c84 and c101 each re-ran all four full tokenizer apply passes per
    * execution to fold numbers the per-family gates had already
    * derived; a production eval pipeline lands the per-doc token-count
    * table once per (corpus, tokenizer) and reads it for every report.
    * Build time rides MemoClock → the bench's memo_build_s field. */
  private[graft] def fertilityTablePath(spark: SparkSession, dir: String,
                                        family: String): String =
    graft.Memo.table("fert", Seq(dir), family) { p =>
      val base = family match {
        case "bpe_char" => c66BpeFertility(spark, dir)
          .select("doc_id", "n_words", "n_tokens")
        case "bpe_byte" => c73ByteFertility(spark, dir)
          .select("doc_id", "n_pretokens", "n_tokens")
        case "unigram" => graft.operators.Unigram
          .c78UnigramFertility(spark, dir)
          .select("doc_id", "n_words", "n_tokens")
        case "wordpiece" => graft.operators.Wordpiece
          .c99WordpieceFertility(spark, dir)
          .select("doc_id", "n_words", "n_tokens")
        case other => sys.error(s"unknown tokenizer family: $other")
      }
      // shingleTablePath's part sizing (guide §6): consumers fold or
      // join these narrow rows — n/4 parts cap the per-file reader tax
      base.coalesce(math.max(8,
          spark.sessionState.conf.numShufflePartitions / 4))
        .write.parquet(p)
    }

  /** c84: cross-tokenizer fertility report — the three production
    * trainers (char-BPE c52, byte-BPE c70, unigram-LM c75) compared on
    * the ONE metric their eval rows share, folded to a 3-row
    * side-by-side table: corpus doc count, unit count (words for
    * char-BPE/unigram, byte-pretokens for byte-BPE — each family's own
    * fertility denominator), token count, and corpus-level fertility.
    * This is the table a tokenizer decision actually reads; until now
    * it lived in three separate per-doc gates (c66/c73/c78). Each leg
    * folds ITS OWN gate row's frame (c58's composed-eval rule: the
    * comparison must measure exactly the derivations the gates verify —
    * the oracle composes the c66/c73/c78 SQLs as subqueries), so all
    * three memoized artifacts are shared and nothing can drift. Three
    * corpus scans (one per tokenizer — intrinsic: the metric is defined
    * over each family's full apply pass), each folding to one row. */
  def c84TokenizerReport(spark: SparkSession, dir: String): DataFrame = {
    def fold(df: DataFrame, units: String, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        sum(col(units)).as("n_units"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit(name).as("tokenizer"), col("n_docs"),
          col("n_units"), col("n_tokens"))
        .transform(ratio6On(_, "fertility_r", col("n_tokens"), col("n_units")))
    // r15 OOV/coverage column: per tokenizer, the share of emitted
    // tokens a production deployment would surface as <unk>/uncovered.
    // Derived word-TYPE-side (vocab-bounded jobs, never corpus tokens):
    // char-BPE counts chars outside the training alphabet, unigram
    // counts UnkScore-fallback pieces; byte-BPE is 0.0 BY CONSTRUCTION
    // (the GPT-2 staging alphabet covers every byte — that is the whole
    // point of byte-level tokenizers) and emits the literal both here
    // and in the oracle. Self-trained on the gate corpus, all three
    // read 0 — the discriminating (shifted-corpus) behavior is
    // spec-pinned, the gate verifies the derivations.
    val wt = wordTypes(spark, dir)
    def oovFold(cnt: Column): DataFrame =
      wt.agg(coalesce(sum(col("wcnt") * cnt), lit(0L)).as("n_oov"))
    def withOov(row: DataFrame, oov: DataFrame): DataFrame =
      row.crossJoin(oov)
        .transform(ratio6On(_, "oov_share_r", col("n_oov"), col("n_tokens")))
        .drop("n_oov")
    val charOov = oovFold(charOovCount(col("w"), bpeAlphabet(spark, dir)))
    val unkOov = oovFold(graft.operators.Unigram.unkCount(col("w"),
      graft.operators.Unigram.trainUnigram(spark, dir)))
    // r16: the fourth family — WordPiece counts whole-word [UNK]
    // emissions (BERT's unknown surface: 0 or 1 per word type)
    val wpOov = oovFold(graft.operators.Wordpiece.unkCount(col("w"),
      graft.operators.Wordpiece.trainWordpiece(spark, dir)))
    // r21: the four folds read the per-dir tokenized-corpus memos (the
    // apply passes ran once when the memos were built — each build IS
    // the corresponding gate row's derivation, see fertilityTablePath)
    def fert(family: String): DataFrame =
      spark.read.parquet(fertilityTablePath(spark, dir, family))
    withOov(fold(fert("bpe_char"), "n_words", "bpe_char"), charOov)
      .unionByName(
        fold(fert("bpe_byte"), "n_pretokens", "bpe_byte")
          .withColumn("oov_share_r", lit(0.0)))
      .unionByName(withOov(fold(fert("unigram"), "n_words", "unigram"),
        unkOov))
      .unionByName(withOov(fold(fert("wordpiece"), "n_words", "wordpiece"),
        wpOov))
      .orderBy("tokenizer")
  }

  /** c101: the tokenizer MIGRATION matrix — per doc, its token budget
    * under all FOUR trained tokenizers (char-BPE c52, byte-BPE c70,
    * unigram c75, WordPiece c98) plus the max/min spread: the table a
    * pipeline owner reads before SWAPPING tokenizers, because a new
    * tokenizer changes every downstream budget (sequence lengths,
    * packing density, training cost) and the docs with the largest
    * spread are where the migration bites. Composes the four fertility
    * derivations AS THEY ARE (c66/c73/c78/c99 — d29's shared-subtree
    * rule: this row cannot disagree with the per-family gates), so the
    * oracle is the join of the four already-verified oracle texts. Row
    * set = docs present in all four frames (each family's documented
    * empty-doc rule, identical in both engines by construction).
    *
    * Scale shape: the four branches are the per-family gate plans
    * (memoized artifacts, word-type joins / row-local HOFs) and the
    * matrix is three doc_id equi-joins of per-doc aggregates — O(docs)
    * rows, AQE-sized exchanges, nothing new materializes. */
  def c101TokenizerMatrix(spark: SparkSession, dir: String): DataFrame = {
    // r21: the four branches read the per-dir tokenized-corpus memos
    // (fertilityTablePath — built from the gate rows' own derivations)
    def fert(family: String): DataFrame =
      spark.read.parquet(fertilityTablePath(spark, dir, family))
    val a = fert("bpe_char")
      .select(col("doc_id"), col("n_tokens").as("nt_bpe_char"))
    val b = fert("bpe_byte")
      .select(col("doc_id"), col("n_tokens").as("nt_bpe_byte"))
    val u = fert("unigram")
      .select(col("doc_id"), col("n_tokens").as("nt_unigram"))
    val w = fert("wordpiece")
      .select(col("doc_id"), col("n_tokens").as("nt_wordpiece"))
    val hi = greatest(col("nt_bpe_char"), col("nt_bpe_byte"),
      col("nt_unigram"), col("nt_wordpiece"))
    val lo = least(col("nt_bpe_char"), col("nt_bpe_byte"),
      col("nt_unigram"), col("nt_wordpiece"))
    a.join(b, "doc_id").join(u, "doc_id").join(w, "doc_id")
      .transform(ratio6On(_, "spread_r", hi, lo))
      .orderBy("doc_id")
  }

  // ---- lexical retrieval (c55): Okapi BM25 over an inverted per-doc
  // ---- statistics pass (Robertson & Walker; the standard lexical ranker
  // ---- a retrieval-augmented training pipeline mines hard positives with)

  /** c55's fixed query term set. A handful of terms is the realistic
    * retrieval shape (queries are short); each term becomes one
    * conditional-aggregate column so the whole tf pass stays ONE
    * map-side-combinable corpus scan regardless of corpus size. */
  val C55QueryTerms: Seq[String] = Seq("spark", "window", "query")

  /** c55: BM25 top-k retrieval (k1 = 1.2, b = 0.75) in the LOG-FREE
    * exact-rational form. Classic BM25 multiplies a log idf into the tf
    * saturation term; a float log is transcendental and engines disagree
    * in the last ulp, so — exactly c16's move — each per-term score here
    * is the monotone log-free Robertson idf (N − df + ½)/(df + ½) times
    * the tf part, algebraically cleared of fractions: with k1 = 6/5 and
    * b = 3/4,
    *
    *   tfPart = tf·(k1+1)/(tf + k1(1 − b + b·dl/avgdl))
    *          = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)   (avgdl = T/N)
    *
    * so score_t = ratio6( (2N−2df+1)·22·T·tf,
    *                      (2df+1)·(10·T·tf + 3·T + 9·dl·N) ) —
    * every operand an exact DECIMAL(38,0) (r20: staged decimal BEFORE
    * the products, because T ~ 10¹⁴ corpora wrap int64 there), rendered
    * by [[ratio6On]]'s exact half-away integer division — engine-exact
    * at any corpus size, no double division anywhere. Per-term scores
    * are saturating and idf-monotone, so single-term rankings match
    * classic BM25; the total is their sum in FIXED left-associated
    * column order (s1 + s2 + s3), which both Spark and DuckDB evaluate
    * identically (oracle side: HUGEINT `//`).
    *
    * Scale shape: one exploded-token scan with map-side combine builds
    * per-doc (dl, tf…); corpus stats (N, T, df…) fold to a 1-row
    * broadcast artifact (never a collect); scoring is a row-local
    * projection; the cut is TakeOrderedAndProject — no global sort, no
    * all-pairs, nothing that grows super-linearly at 100 TB. The
    * DECIMAL(38,0) staging carries a 100 TB deployment (T ~ 10^14)
    * without int64 wrap — paid here, not just documented (r20). */
  def c55Bm25(spark: SparkSession, dir: String, topK: Int = 20): DataFrame =
    bm25Scored(spark, dir)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(topK)

  /** The full BM25-scored corpus frame (doc_id, dl, tf…, s…, score) —
    * c55 cuts its top-k from it; c59 ranks it twice and fuses. */
  private[graft] def bm25Scored(spark: SparkSession, dir: String): DataFrame =
    bm25ScoredOn(Tables.documents(spark, dir), C55QueryTerms)

  /** c55's scorer over an arbitrary (doc_id, text) frame and query term
    * set — the `graft.Main search` entry point. Each term costs one
    * conditional-aggregate column, never an extra corpus pass. */
  def bm25ScoredOn(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "query term set must be non-empty")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    // terms become tf_/s_/df_ column names: a '.' or '`' would parse as
    // struct access / break quoting deep inside the plan — fail at the
    // seam with the actual offender instead
    terms.foreach(t => require(t.matches("[^.`\\s]+"),
      s"query term not usable as a column name (no dots/backticks/whitespace): '$t'"))
    val toks = docs
      .select(col("doc_id"), explode(words(lower(col("text")))).as("term"))
    val perDoc = toks.groupBy("doc_id").agg(
      count(lit(1)).as("dl"),
      terms.map(t =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("n_tokens") +:
        terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))): _*)
    // r20: the promised DECIMAL(38,0) lift — every operand decimal-staged
    // BEFORE multiplication (T ~ 10^14 corpora wrap int64 in the products)
    // and the 6-dp render through ratio6On's exact half-away division, so
    // the score is engine-exact at any corpus size, not just under 2^53.
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def termNum(t: String): Column =
      (lit(2) * dec(col("n_docs")) - lit(2) * dec(col(s"df_$t")) + lit(1)) *
        lit(22) * dec(col("n_tokens")) * dec(col(s"tf_$t"))
    def termDen(t: String): Column =
      (lit(2) * dec(col(s"df_$t")) + lit(1)) *
        (lit(10) * dec(col("n_tokens")) * dec(col(s"tf_$t")) +
          lit(3) * dec(col("n_tokens")) +
          lit(9) * dec(col("dl")) * dec(col("n_docs")))
    terms.foldLeft(perDoc.crossJoin(broadcast(stats)))((df, t) =>
        ratio6On(df, s"s_$t", termNum(t), termDen(t)))
      .select(
        (Seq(col("doc_id"), col("dl")) ++
          terms.map(t => col(s"tf_$t")) ++
          terms.map(t => col(s"s_$t"))): _*)
      .withColumn("score",
        terms.map(t => col(s"s_$t")).reduceLeft(_ + _))
  }

  // ---- ensemble ranking fusion (c59): Reciprocal Rank Fusion
  // ---- (Cormack, Clarke & Buettcher 2009) over two retrieval rankings
  // ---- for the same query — the standard hybrid-search combiner

  /** c59: RRF fusion of two lexical rankers over [[C55QueryTerms]]:
    * ranker A is c55's BM25, ranker B is query-likelihood (matched-token
    * mass per document length, held exact as parts-per-million by
    * integer floor division). Each ranker contributes
    * round(1/(60+rank), 6) for its top-`cut` docs and 0 beyond — the
    * classic k=60 RRF constant — and the fused score is the FIXED-ORDER
    * two-term sum, so the result is bit-identical across engines.
    *
    * Scale shape: the scored corpus frame is computed ONCE (c55's
    * one-pass shape); each ranking is TakeOrderedAndProject to `cut`
    * rows BEFORE any window — the rank window runs on a k-BOUNDED frame
    * (this is why no salting is needed: the single-partition window sees
    * ≤ cut rows by construction, unlike a corpus-wide window); the
    * fusion is a full-outer join of two ≤ cut-row frames. Nothing
    * downstream of the one corpus pass grows with corpus size. */
  def c59RrfFuse(spark: SparkSession, dir: String,
                 cut: Int = 50, topK: Int = 20): DataFrame =
    rrfFuseOn(Tables.documents(spark, dir), C55QueryTerms, cut, topK)

  /** c59 over an arbitrary (doc_id, text) frame and query term set —
    * the `Main search --fuse` entry point (the hybrid-ranking serving
    * shape: one corpus pass, two rankings, RRF-fused cut). */
  def rrfFuseOn(docs: DataFrame, terms: Seq[String],
                cut: Int = 50, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cut >= 1, s"cut must be >= 1, got $cut")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val scored = bm25ScoredOn(docs, terms)
    // backtick-quoted identifiers: CLI-supplied terms may carry chars
    // SQL identifiers can't (the integer `div` has no Column operator,
    // so this one expression stays textual)
    val qlPpm = expr(
      s"((${terms.map(t => s"`tf_${t.replace("`", "``")}`").mkString(" + ")})" +
        " * 1000000L) div dl")
    val a = scored.orderBy(desc("score"), asc("doc_id")).limit(cut)
      .withColumn("rank_bm25",
        row_number().over(Window.orderBy(desc("score"), asc("doc_id")))
          .cast("bigint"))
      .select(col("doc_id"), col("rank_bm25"))
    val b = scored.withColumn("ql_ppm", qlPpm)
      .orderBy(desc("ql_ppm"), asc("doc_id")).limit(cut)
      .withColumn("rank_ql",
        row_number().over(Window.orderBy(desc("ql_ppm"), asc("doc_id")))
          .cast("bigint"))
      .select(col("doc_id"), col("rank_ql"))
    def contrib(rank: Column): Column =
      when(rank.isNotNull, round(lit(1.0) / (lit(60L) + rank), 6))
        .otherwise(lit(0.0))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("rrf_r", contrib(col("rank_bm25")) + contrib(col("rank_ql")))
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0L)).as("rank_bm25"),
        coalesce(col("rank_ql"), lit(0L)).as("rank_ql"),
        col("rrf_r"))
      .orderBy(desc("rrf_r"), asc("doc_id"))
      .limit(topK)
  }

  // ---- LM fluency scoring (c56): corpus-trained word-bigram transition
  // ---- model, the cheap perplexity-proxy quality signal (CCNet-style
  // ---- LM filtering without shipping a neural LM)

  /** c56: word-bigram LM fluency score. Training and scoring in one
    * operator: corpus-wide adjacent-pair counts c(a,b) and prefix totals
    * c(a,·) form the model; each document then scores the average
    * transition probability of its own adjacent pairs. Probabilities are
    * held EXACT as parts-per-billion via integer floor division
    * (`(c_pair · 10^9) div c_prefix` — a float divide-then-floor can
    * round up across an integer boundary and disagree between engines),
    * so the per-doc sum is an order-independent exact long and the final
    * average is c16's one-double-division form.
    *
    * Scale shape: pair extraction is a row-local HOF projection (no
    * posexplode shuffle); the model is a vocab²-BOUNDED aggregate — a
    * model artifact, small by definition next to the corpus — so the
    * score join broadcasts it; the per-doc fold is one map-side-
    * combinable groupBy on doc_id. At 100 TB the corpus is scanned
    * twice (train, score) and nothing else grows. Serving-side, the
    * same model ships to d24's stream-static join. */
  def c56LmScore(spark: SparkSession, dir: String,
                 keepPpb: Long = 34500000L): DataFrame = {
    val pairs = docPairs(Tables.documents(spark, dir))
    val model = lmModel(pairs)
    pairs.join(broadcast(model), Seq("a", "b"))
      .withColumn("ppb",
        expr("(c_pair * 1000000000L) div c_prefix"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("ppb")).as("sum_ppb"))
      // 6-dp render by EXACT INTEGER half-away division (r19 — the c45
      // rule, after a 1-ULP diff surfaced on the GenData sf0.1 gate:
      // round(double, 6) near a .5·10⁻⁶ boundary is engine-dependent).
      // sum_ppb ≥ 0 so the positive branch alone is exact; 2·10⁶·sum_ppb
      // wraps int64 only past ~4.6×10¹² ppb-mass per doc (~10⁵ tokens).
      .withColumn("avg_ppb",
        expr("(2*sum_ppb*1000000 + n_pairs) div (2*n_pairs)")
          .cast("double") / 1e6)
      .withColumn("keep", col("avg_ppb") >= keepPpb.toDouble)
      .orderBy("doc_id")
  }

  /** Per-doc adjacent word pairs, staged row-locally (the HOF staging
    * rule: the token array materializes in its own projection before
    * [[charPairsOf]] indexes it). Shared by c56 and d24's parity spec. */
  private[graft] def docPairs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), words(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(charPairsOf(col("tk"))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))

  /** The c56 model artifact: (a, b, c_pair, c_prefix). Bounded by the
    * square of the word vocabulary — broadcast-sized at any corpus
    * scale for a natural-language vocab. */
  private[graft] def lmModel(pairs: DataFrame): DataFrame = {
    val pc = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_pair"))
    pc.join(pc.groupBy("a").agg(sum(col("c_pair")).as("c_prefix")), "a")
  }

  // ---- winnowing fingerprints (c57): Schleimer, Wilkerson & Aiken 2003
  // ---- ("Winnowing: Local Algorithms for Document Fingerprinting") —
  // ---- the MOSS fingerprint selector, the position-robust alternative
  // ---- to c10's whole-doc hash and c2's MinHash sketches

  /** c57: winnowing — hash every k-token shingle, slide a w-hash window,
    * select each window's MINIMUM hash; the distinct selected set is the
    * document's fingerprint. The guarantee that makes it a dedup
    * primitive: any shared run of ≥ w+k−1 tokens between two documents
    * contributes at least one IDENTICAL selected fingerprint, while only
    * ~2/(w+1) of all hashes are kept (density bound, §3 of the paper) —
    * so matching docs collide on an equi-joinable key without comparing
    * bodies. Hashes are md5 hex strings (the one hash both engines share
    * bit-for-bit) under lexicographic min — a total order both engines
    * apply to ASCII identically.
    *
    * Scale shape: the entire selector — shingle hashing, window minima,
    * distinct, sort — is ROW-LOCAL array math inside one projection:
    * zero exchanges before the gate sort, embarrassingly parallel over
    * any split of a 100 TB corpus, and the natural ingest twin (d23
    * runs the identical expression per arriving row). Short docs
    * degrade gracefully: fewer tokens than k (or windows than w) yield
    * the empty fingerprint set, n_fp = 0, md5("") — never a negative
    * `sequence` range (both branches are CASE-guarded). */
  def c57Winnow(spark: SparkSession, dir: String): DataFrame =
    winnowProjection(Tables.documentsFanned(spark, dir)).orderBy("doc_id")

  /** The one winnowing projection batch c57 and streaming d23 share
    * (twins-share-core). The selector itself is the NATIVE codegen'd
    * [[graft.functions.WinnowFps]] — the HOF reference formulation
    * ([[winnowGrams]]/[[winnowSelect]]) cost 1.4 s of a 38 s sf0.1 suite
    * in interpreted lambda eval for a purely row-local operator; the
    * native loop is spec-pinned ≡ the reference over the corpus and
    * generated edge cases. Gram/window counts are closed-form in the
    * token count (n_grams = max(n−k+1, 0), n_windows = max(n_grams−w+1,
    * 0)), so only the fingerprint set itself needs the native pass. */
  private[graft] def winnowProjection(docs: DataFrame): DataFrame = {
    val nTok = size(words(lower(col("text")))).cast("bigint")
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), nTok.as("n_tokens"),
        graft.functions.WinnowFunctions
          .winnowFps(col("text"), WinnowK, WinnowW).as("fps"))
      .select(col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens") - (WinnowK - 1), lit(0L)).as("n_grams"),
        col("fps"))
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        greatest(col("n_grams") - (WinnowW - 1), lit(0L)).as("n_windows"),
        size(col("fps")).cast("bigint").as("n_fp"),
        md5(array_join(col("fps"), "")).as("fp_md5"))
  }

  /** Winnowing parameters: k-token shingles, w-hash windows. Matches
    * collide on runs of ≥ w+k−1 = 8 shared tokens. */
  val WinnowK = 4
  val WinnowW = 5

  // ---- cluster labeling (c60): the "data map" composition — IVF cell
  // ---- assignment (c18's codebook machinery) × per-cluster TF-IDF
  // ---- (c16's scoring), the report a curation team reads to know what
  // ---- each embedding cluster IS

  /** c60: label every embedding cluster with its top TF-IDF terms.
    * Assignment reuses [[Similarity.assignCells]] against the label
    * codebook (row-local broadcast argmax — zero corpus exchanges, the
    * c18-audited shape); each CLUSTER then plays the role of a document
    * in c16's log-free tf·N/df scoring over its member docs' tokens.
    * Corpus convention: `embeddings.vec_id` is the embedding of
    * `documents.doc_id` (the testdata generator's 1:1 contract — the
    * operator itself is generic over any (doc_id ↔ vec_id) linkage).
    *
    * Scale shape: one assignment pass (broadcast codebook), one token
    * explode into a (cell × vocab)-BOUNDED groupBy with map-side
    * combine, a term-keyed df fold, and a per-cell top-k window over
    * cell-bounded frames; n_cells rides a 1-row broadcast. Nothing
    * downstream of the two corpus scans (assign, tokenize) grows with
    * corpus size. */
  def c60ClusterLabel(spark: SparkSession, dir: String,
                      topT: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val asg = Similarity
      .assignCells(e, Similarity.labelCodebook(spark, dir), maxProbe = 1)
      .select(col("vec_id").as("doc_id"), col("cell"))
    val tf = Tables.documents(spark, dir)
      .join(asg, "doc_id")
      .select(col("cell"), explode(words(lower(col("text")))).as("term"))
      .groupBy("cell", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nCells = tf.agg(count_distinct(col("cell")).as("n_cells"))
    val w = Window.partitionBy("cell").orderBy(desc("score_r"), asc("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nCells))
      .transform(ratio6On(_, "score_r", col("tf") * col("n_cells"), col("df")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= topT)
      .select(col("cell").cast("bigint").as("cell"), col("rnk"),
        col("term"), col("tf"), col("df"), col("score_r"))
      .orderBy("cell", "rnk")
  }

  // ---- dataset card (c61): the corpus-level release artifact — the
  // ---- one-table summary a dataset ships with (counts, duplication,
  // ---- language mix, quality share)

  /** c61: dataset card over a (doc_id, text, lang) frame — one
    * (metric, value_r) row per fact: doc/token counts, exact-dup rate
    * (md5-distinct texts), mean doc length, per-language shares, and the
    * quality-keep share under c7's exact rule (same thresholds, length
    * derived from the text so the card works on any frame). Every value
    * is an exact long or ONE
    * 6-dp-rounded division of exact longs — engine-identical; counts
    * ≪ 2^53 are exact as doubles.
    *
    * Scale shape: one token-stats pass (map-side-combined per-doc fold →
    * 1-row corpus fold), one distinct-hash count, one lang groupBy —
    * three corpus scans, every reduce key bounded (metric names,
    * languages); the card itself is metric-count-sized. The union of
    * 1-row aggregates is driver-free: no collect anywhere. */
  def c61DatasetCard(spark: SparkSession, dir: String): DataFrame =
    datasetCard(Tables.documents(spark, dir))

  /** The generic card builder — `Main card` runs it over any parquet
    * with (doc_id, text, lang) columns. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
    val nWords = size(words(col("text"))).cast("bigint")
    val perDoc = d.select(col("text"), col("lang"), nWords.as("n_words"),
      ((length(col("text")) - (nWords - 1)).cast("double") / nWords).as("awl"))
    val totals = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("n_tokens"),
      count_distinct(md5(col("text"))).as("n_distinct"),
      sum(when(col("n_words") >= 5 && col("awl") >= 2.0 && col("awl") <= 12.0,
        1L).otherwise(0L)).as("n_keep"))
    def m(name: String, v: Column): Column =
      struct(lit(name).as("metric"), v.cast("double").as("value_r"))
    // ratio metrics pre-staged through ratio6On (exact integers, r19)
    val totals6 = ratio6On(ratio6On(ratio6On(totals,
        "dup_rate", col("n_docs") - col("n_distinct"), col("n_docs")),
        "mean_doc_tokens", col("n_tokens"), col("n_docs")),
        "quality_keep_rate", col("n_keep"), col("n_docs"))
    val scalar = totals6.select(explode(array(
        m("n_docs", col("n_docs")),
        m("n_tokens", col("n_tokens")),
        m("n_distinct_texts", col("n_distinct")),
        m("dup_rate", col("dup_rate")),
        m("mean_doc_tokens", col("mean_doc_tokens")),
        m("quality_keep_rate", col("quality_keep_rate")))).as("r"))
      .select(col("r.metric").as("metric"), col("r.value_r").as("value_r"))
    val langs = perDoc.groupBy("lang").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totals.select(col("n_docs"))))
      .transform(ratio6On(_, "value_r", col("n"), col("n_docs")))
      .select(concat(lit("lang_share:"), col("lang")).as("metric"),
        col("value_r"))
    scalar.unionByName(langs).orderBy("metric")
  }

  /** The LONG (fp, doc_id) winnowing index over a (doc_id, text) frame —
    * the equi-joinable artifact a dedup service keys on (docs sharing a
    * ≥ w+k−1 token run share an fp row; bodies are never compared).
    * Built by `Main fingerprint --index` at rest; consumed by d25's
    * stream-static match join. At scale the index is written BUCKETED by
    * fp so the ingest join is co-located. */
  def winnowIndex(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(
        graft.functions.WinnowFunctions
          .winnowFps(col("text"), WinnowK, WinnowW)).as("fp"))

  /** md5 hashes of all k-token shingles of a token-array column —
    * row-local, CASE-guarded against sub-k docs (an unguarded
    * `sequence(1, n)` with n < 1 generates a DESCENDING range). */
  private[graft] def winnowGrams(tk: Column): Column = {
    val nG = size(tk) - (WinnowK - 1)
    when(nG >= 1,
      transform(sequence(lit(1), nG),
        i => md5(array_join(slice(tk, i, lit(WinnowK)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** The winnowing selector over a shingle-hash array: per-window minima
    * (ties keep the value — selection is value-set semantics here, so
    * the classic rightmost-position tiebreak is irrelevant), distinct,
    * sorted ascending. Shared verbatim by batch c57 and streaming d23. */
  private[graft] def winnowSelect(gs: Column): Column = {
    val nW = size(gs) - (WinnowW - 1)
    sort_array(array_distinct(
      when(nW >= 1,
        transform(sequence(lit(1), nW), j => array_min(slice(gs, j, lit(WinnowW)))))
        .otherwise(array().cast("array<string>"))))
  }
}
