package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** c74: distributed rule distillation — train a compact axis-aligned
  * decision tree (depth 2) that imitates the expensive quality-teacher
  * stack (c35's Gopher rule battery ∧ c41's corpus-frequency keep), the
  * classifier-distillation stage real curation pipelines run so the full
  * battery doesn't have to be re-derived on every downstream scan.
  *
  * Training is distributed CART with EXACT integer arithmetic end-to-end:
  * split search is per-feature value histograms (one map-side-combinable
  * groupBy over a bounded parts-per-thousand/billion feature domain) →
  * prefix sums (a window per feature) → misclassification error for every
  * candidate threshold → ONE global argmin under the total order
  * (err, feature, thr). No floats anywhere in training, so the learned
  * tree is bit-reproducible under any partitioning or executor count —
  * which is what lets the oracle inline the trained thresholds as SQL
  * literals (c52's drift-pinning rule: a nondeterministic trainer would
  * render SQL that mismatches the Spark re-train and hash-fail the gate).
  *
  * 100 TB shape: the feature frame is doc-count-sized (4 integers + a
  * label per doc), persisted once and scanned by ≤ 3 node searches; each
  * search shuffles only (feature, candidate-threshold) histogram cells,
  * and the candidate grid is BOUNDED by construction ([[ThresholdGrid]]:
  * ppt features live in [0, 1000], len candidates cap at 100k, freq_ppb
  * candidates quantize to ppm resolution — ≤ ~1.1M cells total across
  * the 4 features at ANY corpus size), map-side combined; the
  * per-feature prefix-sum window therefore runs over a bounded cell set,
  * never a corpus-sized distinct-value domain. Driver traffic is one
  * 1-row argmin plus two counters per node (powerIterate's
  * artifact-sized-collect rule). Scoring is a stateless broadcast-free
  * projection: the tree ships as plan literals, so d35 applies the SAME
  * verdict expression at ingest with zero state.
  *
  * The freq_ppb feature multiplies sum_ctf by 10^9 in BIGINT — loud
  * raise_error guards fire before either product can exceed Long range
  * (at true 100 TB totals the feature upgrades to DECIMAL(38,0); the
  * guard makes that boundary impossible to cross silently).
  */
object Distill {

  /** One learned split: `feature <= thr` goes left. */
  final case class Split(feature: String, thr: Long)

  /** A child of the root: either a leaf (`split == None`, both preds
    * equal) or one more stump. */
  final case class Child(split: Option[Split], predLe: Boolean, predGt: Boolean)

  /** The depth-2 tree artifact — 2–3 splits + 2–4 leaf verdicts, small
    * enough to inline as plan/SQL literals. */
  final case class QualityTree(root: Split, le: Child, gt: Child)

  /** Feature columns, in deterministic tie-break order. */
  val Features: Seq[String] = Seq("len", "ttr_ppt", "top_ppt", "freq_ppb")

  /** Candidate-threshold grid per feature: (step, maxBucket). A raw
    * value v maps to the candidate `least(v div step, maxBucket) · step
    * + (step − 1)` — the upper edge of its bucket — so `v ≤ candidate`
    * is EXACTLY `v div step ≤ bucket` and the histogram error for every
    * surviving candidate is exact, while the cell domain is bounded by
    * maxBucket + 1 whatever the corpus size. A capped candidate (raw
    * v div step > maxBucket collapsing onto maxBucket) is self-filtering:
    * when capping actually occurs it is the largest candidate present,
    * its prefix count equals n, and the `lc < n` not-a-split filter
    * removes it — so no candidate with an inexact error is ever scored. */
  private[graft] val ThresholdGrid: Map[String, (Long, Long)] = Map(
    "len" -> ((1L, 100000L)), // quality trees never split past 100k tokens
    "ttr_ppt" -> ((1L, 1000L)), // parts-per-thousand: domain is [0, 1000]
    "top_ppt" -> ((1L, 1000L)),
    "freq_ppb" -> ((1000L, 1000000L))) // ppm resolution over a ppb value

  /** c41's keep threshold — the frequency half of the teacher. */
  val TeacherMinMeanProb: Double = 0.033

  /** Per-doc integer features + the teacher label, built from the SAME
    * shared subtrees the teachers themselves use (qualityCounted /
    * freqScoredOn — thresholds and tokenization can't drift): len,
    * type-token ratio and top-token share in parts-per-thousand, mean
    * corpus frequency in parts-per-billion (integer floor division —
    * c56's exactness rule), label = c35 keep ∧ c41 keep. */
  def classifierFeatures(spark: SparkSession, dir: String): DataFrame =
    classifierFeaturesOn(Tables.documents(spark, dir))

  /** The integer feature projection — SHARED by the batch trainer/gate
    * row and d35's ingest scoring (the d29 shared-subtree rule: one
    * expression tree, so batch and stream features can't drift). Expects
    * n_words, n_types, max_tc, n_tokens, sum_ctf, total_tokens columns.
    * Both overflow guards are exact INTEGER comparisons (a
    * double-division guard rounds Long.MaxValue up to 2^63 and can let a
    * product within ~1024 of the boundary wrap silently instead of
    * raising). */
  private[graft] def featureProjection: Seq[Column] = {
    val ppbOverflow =
      col("sum_ctf") > lit(Long.MaxValue / 1000000000L) ||
        expr("total_tokens > 9223372036854775807 div n_tokens")
    Seq(
      col("n_words").as("len"),
      expr("n_types * 1000L div n_words").as("ttr_ppt"),
      expr("max_tc * 1000L div n_words").as("top_ppt"),
      when(ppbOverflow, expr(
        "raise_error('c74 freq_ppb exceeds BIGINT — upgrade the feature " +
          "to DECIMAL(38,0) at this corpus scale')").cast("long"))
        .otherwise(expr(
          "sum_ctf * 1000000000L div (n_tokens * total_tokens)"))
        .as("freq_ppb"))
  }

  /** [[classifierFeatures]] over an arbitrary documents frame (the
    * `Main distill` / spec entry point). */
  def classifierFeaturesOn(docs: DataFrame): DataFrame = {
    val toks: Column => Column = t => TextOps.words(lower(t))
    val q = TextOps.qualityCounted(docs, toks)
      .select(col("doc_id"), col("n_words"), col("n_types"), col("max_tc"),
        col("keep").as("rule_keep"))
    val f = TextOps.freqScoredOn(docs, toks)
      .select(col("doc_id"), col("n_tokens"), col("sum_ctf"),
        col("total_tokens"), col("mean_prob_r"))
    q.join(f, "doc_id")
      .select(col("doc_id") +: featureProjection :+
        (col("rule_keep") && col("mean_prob_r") >= TeacherMinMeanProb)
          .as("label"): _*)
  }

  /** (row count, positive count) of a node — two longs to the driver. */
  private def nodeStats(node: DataFrame): (Long, Long) = {
    val r = node.agg(count(lit(1)), sum(col("label").cast("long"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Majority leaf verdict; ties keep (the cheaper downstream error for a
    * quality filter is a kept borderline doc, not a dropped good one). */
  private def majority(n: Long, npos: Long): Boolean = npos * 2 >= n

  /** Exact distributed split search: bounded-grid histogram → prefix
    * sums → misclassification per candidate threshold → deterministic
    * global argmin. Candidates come from [[ThresholdGrid]] (each raw
    * value contributes its bucket's upper edge), so the shuffled cell
    * set and the per-feature window are bounded at any corpus size and
    * every surviving candidate's error is exact. Returns None when no
    * feature splits the node (all values constant). */
  private[graft] def bestSplit(node: DataFrame, n: Long, npos: Long)
      : Option[(Split, Long)] = {
    if (n == 0) return None
    val fv = node.select(
      explode(array(Features.map { f =>
        val (step, maxB) = ThresholdGrid(f)
        struct(lit(f).as("f"),
          (least(expr(s"$f div $step"), lit(maxB)) * lit(step) +
            lit(step - 1)).as("v"))
      }: _*)).as("fv"),
      col("label").cast("long").as("y"))
      .select(col("fv.f").as("f"), col("fv.v").as("v"), col("y"))
    val w = Window.partitionBy("f").orderBy("v")
    val scored = fv.groupBy("f", "v")
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
      .withColumn("lc", sum(col("c")).over(w))
      .withColumn("lp", sum(col("p")).over(w))
      // the max value's "threshold" sends everything left: not a split
      .filter(col("lc") < n)
      .withColumn("err",
        least(col("lp"), col("lc") - col("lp")) +
          least(lit(npos) - col("lp"),
            (lit(n) - col("lc")) - (lit(npos) - col("lp"))))
      .select(col("err"), col("f"), col("v"))
      .orderBy(col("err"), col("f"), col("v"))
      .limit(1)
    scored.collect().headOption
      .map(r => (Split(r.getString(1), r.getLong(2)), r.getLong(0)))
  }

  /** Grow one child: split again only if the best split strictly beats
    * the node's own majority error. */
  private def buildChild(node: DataFrame): Child = {
    val (n, npos) = nodeStats(node)
    val leafErr = math.min(npos, n - npos)
    bestSplit(node, n, npos) match {
      case Some((s, err)) if err < leafErr =>
        val (ln, lp) = nodeStats(node.filter(col(s.feature) <= s.thr))
        val (gn, gp) = nodeStats(node.filter(col(s.feature) > s.thr))
        Child(Some(s), majority(ln, lp), majority(gn, gp))
      case _ =>
        val p = majority(n, npos)
        Child(None, p, p)
    }
  }

  /** Train the depth-2 tree on an arbitrary feature frame (spec/CLI
    * seam — partition-invariance is spec'd through here). */
  def trainTreeFrom(features: DataFrame): QualityTree = {
    val feats = features.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, npos) = nodeStats(feats)
      require(n > 0, "c74 distillation needs a non-empty corpus")
      val root = bestSplit(feats, n, npos) match {
        case Some((s, _)) => s
        // every feature constant: degenerate single-leaf tree
        case None => Split(Features.head, Long.MaxValue)
      }
      QualityTree(root,
        buildChild(feats.filter(col(root.feature) <= root.thr)),
        buildChild(feats.filter(col(root.feature) > root.thr)))
    } finally { feats.unpersist(); () }
  }

  /** Memoized per-corpus training run — the gate row and the oracle
    * renderer both read THIS artifact (trainBpe's memo rule). */
  def trainTree(spark: SparkSession, dir: String): QualityTree =
    graft.Memo.value("quality-tree", Seq(dir))(trainTreeFrom(classifierFeatures(spark, dir)))

  /** The tree as ONE column expression over the feature columns — shared
    * verbatim by the batch gate row and d35's ingest scoring (the d29
    * shared-subtree rule), and mirrored literal-for-literal by the
    * oracle's CASE WHEN rendering. */
  def treeVerdict(t: QualityTree): Column = {
    def childCol(c: Child): Column = c.split match {
      case Some(s) =>
        when(col(s.feature) <= lit(s.thr), lit(c.predLe))
          .otherwise(lit(c.predGt))
      case None => lit(c.predLe)
    }
    when(col(t.root.feature) <= lit(t.root.thr), childCol(t.le))
      .otherwise(childCol(t.gt))
  }

  /** c74 gate row: features + teacher label + the distilled verdict. */
  def c74QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val tree = trainTree(spark, dir)
    classifierFeatures(spark, dir)
      .withColumn("pred", treeVerdict(tree))
      .select("doc_id", "len", "ttr_ppt", "top_ppt", "freq_ppb",
        "label", "pred")
      .orderBy("doc_id")
  }
}
