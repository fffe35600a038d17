package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c80: DSIR-style importance weighting (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling") — rank raw
  * documents by how TARGET-like their hashed-n-gram distribution is.
  * Each document's weight is the log likelihood-ratio of its token
  * stream under two smoothed bag-of-buckets models:
  *
  *   w(doc) = Σ_tokens [ ln p̂_target(b(t)) − ln p̂_raw(b(t)) ]
  *
  * with `b(t)` a 3-hex-char md5 prefix (4096 hash buckets — DSIR's
  * hashed-feature trick, which bounds the model by the bucket count
  * rather than the open vocabulary) and both distributions add-1
  * smoothed over the OBSERVED bucket support (see [[trainDsirOn]] for
  * why not the full hash space). The target distribution here is the
  * corpus' own `lang = 'en'` slice — the standard "select raw data that
  * looks like the high-resource slice" setup; the raw distribution is
  * the whole corpus.
  *
  * Determinism and the oracle (c52's drift-pinning rule): bucket
  * log-ratios are FIXED-POINT integers — floor(lr·10⁶) computed once
  * driver-side with StrictMath.log over exact integer counts — so
  * per-doc scores are exact BIGINT sums in both engines; the oracle
  * inlines the trained (bucket → lr_fx) map as a SQL MAP literal
  * (map_extract lookup) and re-derives every doc's sum — trainer drift
  * hash-fails the gate. `keep` is the exact integer comparison
  * sum_lr > 0 (doc leans target), never a float threshold.
  *
  * 100 TB shape: training is ONE corpus scan into a map-side-combinable
  * groupBy on the 4096-bounded bucket key (the collect is
  * artifact-sized by construction — ≤ NBuckets rows regardless of
  * corpus size); scoring is a stateless ROW-LOCAL fold per document —
  * the artifact ships as plan literals (d13's bounded-artifact rule),
  * the md5-bucket lookup runs inside one projection, zero exchanges
  * beyond the gate sort. Buckets unseen at train time score 0 — a
  * DELIBERATE neutral fallback, not the smoothed value (the add-1-
  * smoothed LR of an absent bucket would be ln((nr+v)/(nt+v)) > 0
  * whenever the target is a strict subset, which would reward every
  * novel bucket); the oracle mirrors the same coalesce-to-0, and the
  * fallback is what lets the SAME artifact score NEW documents at
  * ingest (d37's twin) without retraining. Ref: bolson has no selection surface
  * (src/bolson/bench.cpp:40-291 measures, never filters); this row
  * extends the LLM-pipeline family.
  */
object Dsir {

  /** Hex chars of the md5 prefix used as the hash bucket — 16³ = 4096
    * buckets, DSIR's dimensionality knob. Bounds the artifact, the
    * smoothing denominator, and the oracle's MAP literal. */
  val BucketHexChars = 3
  val NBuckets = 4096

  /** The target slice: documents whose `lang` equals this value. */
  val TargetLang = "en"

  /** Token → bucket: 3-hex-char md5 prefix. Lowercase hex in both
    * engines, so the bucket KEY is engine-portable by construction. */
  private[graft] def bucketOf(t: Column): Column =
    substring(md5(t), 1, BucketHexChars)

  /** Train the (bucket, lr_fx) artifact from a (text, lang) frame: one
    * corpus scan → per-bucket raw/target counts (bounded by NBuckets) →
    * fixed-point smoothed log-ratios driver-side. StrictMath keeps the
    * double ln bit-identical across JVMs; the four-term form (rather
    * than one log of a quotient) pins the exact sequence of IEEE ops. */
  /** The gate's engine-exact ASCII tokenizer; CLI `--unicode` swaps in
    * the codegen'd NFC variant (SURVEY §2 tokenizer note — variants are
    * spec-pinned, the oracle stays on the ASCII default). */
  private[graft] val defaultTokens: Column => Column =
    t => TextOps.words(lower(t))

  def trainDsirOn(docs: DataFrame,
                  target: String = TargetLang,
                  tokens: Column => Column = defaultTokens)
      : Seq[(String, Long)] = {
    val toks = docs.filter(col("text").isNotNull)
      .select(col("lang"),
        explode(filter(tokens(col("text")),
          w => length(w) >= 1)).as("w"))
      .select(col("lang"), bucketOf(col("w")).as("b"))
    val counts = toks.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === target, 1L).otherwise(0L)).as("ct"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("cr"), r.getAs[Long]("ct")))
    require(counts.nonEmpty, "DSIR training needs a non-empty corpus")
    // a misspelled --target-lang (or a corpus lacking the value) would
    // otherwise train silently on an empty target slice: nt=0, every
    // log-ratio negative, keep=false for every document — garbage that
    // LOOKS like a trained artifact. Refuse loudly instead.
    require(counts.exists(_._3 > 0),
      s"DSIR target slice '$target' matched no tokens — " +
        "check the target value against the corpus' lang column")
    val nr = counts.map(_._2).sum
    val nt = counts.map(_._3).sum
    // Laplace smoothing over the OBSERVED bucket support, not the 4096-
    // bucket hash space: the target is a subset of the raw corpus, so
    // ct <= cr per bucket, and a smoothing denominator that dwarfs the
    // counts (n + 4096 on a small corpus) collapses every ratio to
    // ln((ct+1)/(cr+1)) <= 0 — all-negative weights, no signal. Scaling
    // the smoothing mass to the support keeps the ratio centred: a
    // bucket at the corpus-average target share scores ~0, over-
    // represented buckets positive, at any corpus size.
    val v = counts.length
    counts.map { case (b, cr, ct) =>
      val lr = StrictMath.log((ct + 1).toDouble) -
        StrictMath.log((nt + v).toDouble) -
        StrictMath.log((cr + 1).toDouble) +
        StrictMath.log((nr + v).toDouble)
      b -> math.floor(lr * 1e6).toLong
    }.sortBy(_._1).toIndexedSeq
  }

  /** Per-dir memo: gate row and oracle renderer must see the identical
    * artifact (trainBpe's memo rule). */
  def trainDsir(spark: SparkSession, dir: String): Seq[(String, Long)] =
    graft.Memo.value("dsir", Seq(dir))(trainDsirOn(graft.Tables.documents(spark, dir)))

  /** The artifact as a plan-literal map and the per-WORD log-ratio
    * expression — the shared scoring subtree (d29's rule): both the
    * row-local fold ([[scoreDocs]], d37's per-arrival shape) and the
    * word-type join ([[scoreDocsByType]], the batch corpus shape) price a
    * word through exactly these expressions, so the two formulations
    * cannot drift. Buckets outside the artifact contribute 0 (the
    * deliberate neutral fallback — see the class doc). */
  private[graft] def lrMapOf(artifact: Seq[(String, Long)]): Column = {
    require(artifact.nonEmpty, "DSIR artifact must contain buckets")
    map(artifact.flatMap { case (b, s) => Seq(lit(b), lit(s)) }: _*)
  }
  private[graft] def lrOf(m: Column, w: Column): Column =
    coalesce(element_at(m, bucketOf(w)), lit(0L))

  /** (doc_id, n_tokens, sum_lr) scoring projection of a (doc_id, text)
    * frame under a trained artifact — the ROW-LOCAL fold over the token
    * array with the artifact as a plan-literal map. This is d37's shape
    * (one doc per arrival: zero exchanges, zero state) — for a batch
    * CORPUS scan use [[scoreDocsByType]], which prices each distinct
    * word type once instead of re-running the interpreted HOF lambda
    * (md5 + a linear scan of the 4096-entry map literal) per corpus
    * token — the §8l c78 lesson, 10–25× on HOF-bound scorers. Zero-token
    * docs are absent (c66's row-set rule; also what keeps the average's
    * divisor nonzero). */
  def scoreDocs(docs: DataFrame, artifact: Seq[(String, Long)],
                tokens: Column => Column = defaultTokens): DataFrame = {
    val m = lrMapOf(artifact)
    val ws = filter(tokens(col("text")), w => length(w) >= 1)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"),
        size(col("ws")).cast("bigint").as("n_tokens"),
        aggregate(col("ws"), lit(0L), (acc, w) => acc + lrOf(m, w))
          .as("sum_lr"))
  }

  /** [[scoreDocs]]' output, computed the batch-corpus way (§8l's
    * word-type-join rule, applied here after r14's verdict called the
    * per-token HOF out): `bucketOf(w)` is word-type-stable, so the
    * md5 + artifact lookup runs ONCE per distinct word type (codegen'd,
    * not inside an interpreted lambda), the (type → lr) table broadcasts,
    * and per-doc sums fold map-side before the one groupBy(doc_id)
    * exchange. The type table is vocabulary-sized (heavy-tailed, far
    * smaller than the corpus); if a corpus' vocabulary ever outgrew the
    * broadcast budget the hint comes off and the same equi-join shuffles
    * — the semantics don't move. Output is row-for-row identical to
    * [[scoreDocs]] (parity spec-pinned): same row set (explode drops
    * zero-token docs), same exact-integer sums. */
  def scoreDocsByType(docs: DataFrame, artifact: Seq[(String, Long)],
                      tokens: Column => Column = defaultTokens): DataFrame = {
    val m = lrMapOf(artifact)
    val ws = filter(tokens(col("text")), w => length(w) >= 1)
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(ws).as("w"))
    val types = toks.select(col("w")).distinct()
      .select(col("w"), lrOf(m, col("w")).as("__lr"))
    toks.join(broadcast(types), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lr")).as("sum_lr"))
  }

  /** The weight/verdict projection over [[scoreDocs]]' output, shared
    * by c80 and d37 (d29's rule again — batch and ingest verdicts
    * cannot drift): `avg_lr_r` is the per-token mean log-ratio in nats,
    * 6-dp rounded; `keep` is the exact integer sign test sum_lr > 0,
    * never a float threshold.
    *
    * The 6-dp rounding is EXACT INTEGER half-away-from-zero division —
    * round6(sum_lr/(n·10⁶)) ≡ intRound(sum_lr/n)/10⁶, and sum_lr/n
    * lands on exact .5 ties whenever n divides 2·sum_lr, where Spark's
    * decimal HALF_UP and a double-rounding engine disagree by 1 ulp
    * (observed at sf0.01). The abs/negate form keeps the floor-vs-
    * truncate `div` divergence out too (the ADVICE packFfdOn lesson). */
  def weightsOf(scored: DataFrame): DataFrame =
    scored
      .withColumn("avg_fx", when(col("sum_lr") >= 0L,
          expr("(2*sum_lr + n_tokens) div (2*n_tokens)"))
        .otherwise(-expr("(2*(-sum_lr) + n_tokens) div (2*n_tokens)")))
      .withColumn("avg_lr_r", col("avg_fx").cast("double") / 1e6)
      .drop("avg_fx")
      .withColumn("keep", col("sum_lr") > 0L)

  /** c80 gate row: score every document under the memoized artifact —
    * the word-type-join formulation (this IS a batch corpus scan). */
  def c80DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val art = trainDsir(spark, dir)
    weightsOf(scoreDocsByType(graft.Tables.documents(spark, dir), art))
      .orderBy("doc_id")
  }
}
