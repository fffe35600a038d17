package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c100: Count-Min-Sketch heavy hitters — the SKETCH answer to "what
  * are the corpus's most frequent tokens" (Cormode & Muthukrishnan
  * 2005), joining the approximate family b16 (HyperLogLog distincts)
  * and b17 (KLL quantiles) opened: where c34's exact top-k shuffles the
  * full token-type domain, the CMS folds the corpus into a FIXED d×w
  * counter grid (here 4×256 = 1024 longs — bytes, independent of corpus
  * size) and reads each candidate's estimate as the min of its d
  * bucket counters. The row surfaces est next to the true count, so the
  * gate verifies the sketch's one-sided error law (est ≥ truth, equal
  * in the absence of collisions) on real data rather than trusting it.
  *
  * Determinism and the oracle: bucket_i(token) is the FIRST TWO HEX
  * CHARS of md5(i || ':' || token) — no arithmetic, no seeds, engine-
  * identical (c80's md5-prefix bucketing rule) — so the whole sketch is
  * a pure function of the corpus and DuckDB re-derives counters,
  * estimates, and the top-k cut from scratch; a drifting hash or fold
  * hash-fails the gate.
  *
  * 100 TB shape (the r16 candidate gap closed in r17 — NOTHING on this
  * row shuffles a vocabulary-sized key domain anymore):
  *   - GRID: one corpus scan exploding each token OCCURRENCE into its d
  *     (i, bucket) cells, map-side-combined into at most d·w partial
  *     rows per task before a shuffle whose ENTIRE key domain is
  *     d·w = 1024 — the sketch is the aggregation state, which is the
  *     whole point (exact top-k's shuffle key domain is the unbounded
  *     token-type vocabulary). The grid collects as a bounded model
  *     artifact (trainCodebook's rule) and ships back as plan literals.
  *   - CANDIDATES: a bounded per-partition Misra-Gries summary
  *     ([[misraGries]], capacity [[MgCapacity]] — Misra & Gries 1982,
  *     the SpaceSaving family) over the raw token stream, merged per
  *     token across partitions (a SUMMARY-sized shuffle — its input is
  *     ≤ cap·partitions skinny rows by the MG emission bound, never the
  *     corpus's occurrences or vocabulary), then cut to the global
  *     [[CmsCandidatePool]] by TakeOrderedAndProject. A global
  *     heavy hitter's best-partition count survives MG's ≤ n_p/cap
  *     undercount by orders of magnitude, so the pool ⊇ the true top-k
  *     (spec-pinned, and the gate's oracle — which still ranks the FULL
  *     type table in DuckDB — hash-fails the row if inclusion ever
  *     broke on the gate corpora).
  *   - TRUTH: exact counts for the ≤ pool candidates only — the stream
  *     filters by the broadcast candidate set row-locally, so the count
  *     shuffle's key domain is the candidate pool, not the vocabulary.
  *   - Estimates are row-local plan-literal lookups; the final cut is
  *     TakeOrderedAndProject. */
object Sketch {

  /** Sketch depth: number of independent hash rows. */
  val CmsDepth = 4

  /** Sketch width: 16² buckets per row — two md5 hex chars. */
  val CmsWidth = 256

  /** Heavy-hitter cut. */
  val CmsTopK = 50

  /** Bucket of one token under hash row i: the first two hex chars of
    * md5(i || ':' || token) — a 256-way split both engines compute
    * byte-identically. */
  private[graft] def bucketOf(i: Int, token: Column): Column =
    substring(md5(concat(lit(s"$i:"), token)), 1, 2)

  /** Per-partition Misra-Gries summary capacity for the candidate
    * pass: bounded memory AND bounded emission per partition, with
    * undercount ≤ partition_tokens / capacity — far below any real
    * heavy hitter's count. */
  val MgCapacity = 8192

  /** Global candidate pool: the TakeOrdered cut over the per-partition
    * summaries — 10× the heavy-hitter cut, so rank jitter from MG's
    * one-sided undercount can never push a true top-k token out. */
  val CmsCandidatePool = 512

  /** The corpus token OCCURRENCE stream (one row per token) — c34's
    * exact counting convention (lowercased, space-split, length ≥ 1),
    * shared so the grid, the candidates and the truth counts all read
    * the SAME stream. */
  private[graft] def tokenStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(explode(TextOps.words(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 1)

  /** The corpus token stream as (w, wcnt) word types — kept for the
    * at-rest grid derivations (`Main sketch`, [[cmsGrid]]); the c100
    * candidate path no longer touches it (r17). */
  private def tokenTypes(spark: SparkSession, dir: String): DataFrame =
    tokenStream(spark, dir)
      .groupBy("w").agg(count(lit(1)).as("wcnt"))

  /** One Misra-Gries pass over a partition's token iterator: at most
    * `cap` live counters; a token outside a full summary decrements
    * every counter (dropping zeros) instead of entering — the classic
    * frequent-items guarantee: any token with partition count
    * > n_p / (cap+1) survives, and a survivor's counter undercounts its
    * true partition count by at most n_p / (cap+1). Emits the summary
    * as (token, lower-bound count) — ≤ cap rows per partition. */
  private[graft] def misraGries(it: Iterator[String],
                                cap: Int): Iterator[(String, Long)] = {
    require(cap >= 1, s"Misra-Gries capacity must be >= 1, got $cap")
    val m = new java.util.HashMap[String, java.lang.Long](cap * 2)
    while (it.hasNext) {
      val w = it.next()
      val c = m.get(w)
      if (c != null) m.put(w, c + 1L)
      else if (m.size < cap) m.put(w, 1L)
      else {
        // the decrement step: amortized O(1) per arrival (each paid
        // decrement is matched by a prior increment)
        val jt = m.entrySet().iterator()
        while (jt.hasNext) {
          val e = jt.next()
          if (e.getValue == 1L) jt.remove()
          else e.setValue(e.getValue - 1L)
        }
      }
    }
    val out = new Array[(String, Long)](m.size)
    var i = 0
    val kt = m.entrySet().iterator()
    while (kt.hasNext) {
      val e = kt.next(); out(i) = (e.getKey, e.getValue.longValue); i += 1
    }
    out.iterator
  }

  /** The bounded candidate pool (r17 — the scale path for the
    * heavy-hitter cut): per-partition Misra-Gries summaries over the
    * raw token stream, MERGED per token (sum of the per-partition
    * lower bounds — itself a valid global lower bound), then cut to
    * `pool` by (count desc, token asc) via TakeOrderedAndProject.
    * The merge step matters at scale (r17 review finding): without
    * it the pool limit counts per-partition summary ROWS, so on a
    * 1000-partition corpus a handful of stopwords' duplicate rows
    * would crowd every other token out of the cut. The merge's
    * shuffle is SUMMARY-sized — its input is ≤ cap·partitions skinny
    * rows by the MG emission bound, never the corpus's token
    * occurrences or full vocabulary. Returns the sorted distinct
    * candidate tokens — ≤ pool of them, a bounded artifact at any
    * corpus size. */
  private[graft] def heavyCandidates(spark: SparkSession, dir: String,
                                     pool: Int = CmsCandidatePool): Seq[String] = {
    import spark.implicits._
    tokenStream(spark, dir).as[String]
      .mapPartitions(it => misraGries(it, MgCapacity))
      .toDF("w", "pcnt")
      .groupBy("w").agg(sum("pcnt").as("pcnt"))
      .orderBy(desc("pcnt"), asc("w")).limit(pool)
      .select("w").collect().map(_.getString(0)).distinct.sorted.toSeq
  }

  /** The d×w counter grid of a (w, wcnt) type frame, as a Map from
    * "i:bucket" to counter. At most [[CmsDepth]]·[[CmsWidth]] entries —
    * a bounded model artifact regardless of corpus size. */
  def counterGrid(types: DataFrame): Map[String, Long] = {
    val cells = (0 until CmsDepth).map(i =>
      struct(lit(i).as("i"), bucketOf(i, col("w")).as("b")))
    types
      .select(col("wcnt"), explode(array(cells: _*)).as("cell"))
      .groupBy(col("cell.i").as("i"), col("cell.b").as("b"))
      .agg(sum(col("wcnt")).as("c"))
      .collect()
      .map(r => s"${r.getInt(0)}:${r.getString(1)}" -> r.getLong(2))
      .toMap
  }

  /** CMS estimate of one token column under a collected counter grid:
    * min over the d rows of the token's bucket counter, via d
    * plan-literal map lookups — row-local, zero exchanges (d13's
    * bounded-artifact rule). An untouched counter READS ZERO (the
    * textbook CMS: the min ranges over all d counters including empty
    * ones), so a token the folded corpus never saw — possible when a
    * stored grid is applied to a DIFFERENT corpus (`sketch --estimate`,
    * d48) — estimates 0-or-collision, never null and never a partial
    * min over only its non-empty buckets. */
  def estimateOf(token: Column, grid: Map[String, Long]): Column = {
    val m = map(grid.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val reads = (0 until CmsDepth).map(i =>
      coalesce(element_at(m, concat(lit(s"$i:"), bucketOf(i, token))),
        lit(0L)))
    least(reads: _*)
  }

  /** (doc_id, token, est_cnt) per distinct token per doc of a (doc_id,
    * text) frame, read off a frozen counter grid through [[estimateOf]]:
    * `sketch --estimate` over a parquet corpus, and d48 on a streaming
    * frame (a replayed corpus doc reads the identical estimates the batch
    * top-k was cut from). Row-local, zero state, no exchange. */
  def cmsEstimate(docs: DataFrame, grid: Map[String, Long]): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(array_distinct(TextOps.tokenWords(col("text")))).as("token"))
      .select(col("doc_id"), col("token"),
        estimateOf(col("token"), grid).as("est_cnt"))

  /** The corpus dir's counter grid — the at-rest sketch artifact d48's
    * ingest twin probes. */
  def cmsGrid(spark: SparkSession, dir: String): Map[String, Long] =
    counterGrid(tokenTypes(spark, dir))

  /** c100 gate row: fold the corpus occurrence stream into the counter
    * grid (1024-key shuffle), derive the bounded candidate pool from
    * per-partition Misra-Gries summaries (no shuffle), count the
    * candidates exactly (candidate-domain shuffle), and emit the
    * top-[[CmsTopK]] heavy hitters by (est desc, token asc) with the
    * sketch estimate NEXT TO the exact count — the overestimate the
    * one-sided error law allows is thereby engine-checked, not
    * asserted. The ORACLE still ranks the full type table in DuckDB,
    * so this row ALSO engine-checks candidate-pool ⊇ top-k every
    * round: a pool miss would hash-fail the gate. */
  // r20: the occurrence-grain grid and the MG candidate pool are bounded
  // MODEL artifacts of the corpus dir (the trainBpe memo rule — CmsDepth·
  // CmsWidth counters / ≤ pool tokens): each was re-folded through an
  // eager collect job on EVERY execution of c100, two serialized jobs of
  // pure latency per run. Memoized per dir like every other trained
  // artifact; recomputed per JVM, never persisted across invocations.
  def c100CmsTopk(spark: SparkSession, dir: String,
                  topK: Int = CmsTopK): DataFrame = {
    val stream = tokenStream(spark, dir)
    // the grid folds OCCURRENCES (wcnt = 1 per row): identical counters
    // to the type-table fold, without the vocabulary-sized shuffle
    val grid = graft.Memo.value("cms-grid", Seq(dir)) {
      counterGrid(stream.select(col("w"), lit(1L).as("wcnt")))
    }
    val cands = graft.Memo.value("cms-candidates", Seq(dir))(heavyCandidates(spark, dir))
    stream
      .filter(col("w").isin(cands: _*)) // row-local bounded-set probe
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
      .select(col("w").as("token"),
        estimateOf(col("w"), grid).as("est_cnt"),
        col("wcnt").as("true_cnt"))
      .withColumn("exact", col("est_cnt") === col("true_cnt"))
      .orderBy(desc("est_cnt"), asc("token"))
      .limit(topK)
  }
}
