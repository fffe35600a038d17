package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c98/c99: WordPiece — the FOURTH production tokenizer family next to
  * char-BPE (c52), byte-BPE (c70) and unigram-LM (c75), closing the
  * quartet a tokenizer bake-off actually compares (Schuster & Nakajima
  * 2012; the BERT tokenizer). Two ways it differs from BPE, both
  * implemented faithfully:
  *
  *   1. TRAINING picks the merge maximizing LIKELIHOOD GAIN, not raw
  *      frequency: score(a,b) = cnt(a,b) / (cnt(a)·cnt(b)) — the pair
  *      whose fusion most increases corpus likelihood under a unigram
  *      model of the symbols. Comparison is EXACT: cross-multiplied
  *      BigInt rationals (c1·f2·s2 vs c2·f1·s1 over exact long counts),
  *      ties broken (a asc, b asc) — the merge list is a pure function
  *      of the corpus, partitioning- and engine-invariant, with no
  *      fixed-point rounding games at all.
  *   2. APPLY ignores the merge ORDER entirely: tokenization is greedy
  *      longest-match-first ("maximum munch") against the final VOCAB
  *      set, continuation pieces carrying the "##" marker; a word with
  *      no matchable prefix at some position emits the single [UNK]
  *      token (BERT's behavior — the whole word is unknown, not a
  *      char-fallback tail like unigram's UnkScore surface).
  *
  * Determinism and the oracle (c52's drift-pinning rule): the trained
  * vocabulary inlines into the DuckDB oracle as a VARCHAR[] literal and
  * the greedy matcher is re-derived in a recursive CTE (one position
  * advance per iteration, longest in-vocab prefix via
  * list_max∘list_filter — the EXACT rule the Spark fold applies), so
  * trainer OR matcher drift hash-fails the gate.
  *
  * 100 TB shape: training scans the corpus ONCE via the word-type count
  * (c44's trick — every round iterates the bounded type vocabulary);
  * each round is one vocab-frame scan producing two artifact-bounded
  * tables (adjacent-pair counts ≤ |symbols|², symbol counts ≤
  * |symbols| — both independent of corpus size), collected driver-side
  * because a RATIONAL argmax is not a distributive sort key (unlike
  * BPE's count argmax, which ships one row): the exact cross-multiplied
  * comparison runs where exactness is free. Applying the tokenizer is a
  * stateless row-local fold (window bounded by [[MaxPieceLen]]), vocab
  * shipped as plan literals (d13's bounded-artifact rule) — zero
  * exchanges, so the same expression serves the gate rows, `Main
  * tokenize --wordpiece`, and the d47 streaming twin (d29's
  * shared-subtree rule).
  *
  * Marker caveat (shared with every ##-marker WordPiece, including the
  * published BERT one): a corpus whose alphabet contains '#' can mint a
  * PLAIN piece whose surface equals a marked continuation key (e.g.
  * merged first-position "##x" vs continuation-of-"x"). The vocab is a
  * SET of marked strings in both engines, so the conflation is
  * identical on both sides — a semantic quirk, never a divergence.
  */
object Wordpiece {

  /** Longest piece surface (marker excluded) the trainer will mint and
    * the matcher will probe — bounds the greedy window and the oracle
    * CTE's candidate range. */
  val MaxPieceLen = 8

  /** Training depth: enough merges that multi-char pieces chain at
    * every gate scale factor (c52's rule). */
  val WpRounds = 12

  /** BERT's unknown-word token. */
  val Unk = "[UNK]"

  /** A word staged as WordPiece symbols, fenced for literal-replace
    * merging (bpeSeqOf's double-space scheme): first char plain, every
    * continuation char "##"-marked — "abc" → "␣␣a␣␣##b␣␣##c␣␣".
    * Index-walked (not split-joined) so no trailing zero-width split
    * artifact can mint a phantom "##" symbol. */
  private[graft] def wpSeqOf(w: Column): Column =
    // empty-word guard (r17): Spark's sequence(1, 0) steps DOWN to
    // [1, 0], which would mint exactly the phantom "##" symbol the
    // index walk exists to prevent; the empty word stages to the
    // single empty symbol instead (BpeApplier's split("","")=[""]
    // convention, parity-spec'd against the native staging)
    when(length(w) === 0, lit("    ")).otherwise(
      concat(lit("  "), array_join(
        transform(sequence(lit(1), length(w)), i =>
          concat(when(i === 1, lit("")).otherwise(lit("##")),
            w.substr(i, lit(1)))), "  "),
        lit("  ")))

  /** WordPiece merge of two symbols: the continuation marker of the
    * RIGHT side is absorbed ("a" + "##b" → "ab", "##b" + "##c" →
    * "##bc") — the left side keeps its role. */
  private def mergedSym(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** Apply an ordered WordPiece merge list to a fenced symbol sequence:
    * one literal replace per merge (bpeSeqOf's fence argument — a
    * pattern can only match whole symbols, back-to-back occurrences
    * both match). PARITY REFERENCE ONLY (r17): the trainer stages
    * through the fused native ApplyWordpiece (functions/Bpe.scala —
    * plan depth 1 at any merge count, where this chain is
    * O(merges-so-far) nodes per round ⇒ O(rounds²) plan work across
    * training, the exact pre-r11 BPE shape ApplyBpe fixed); the spec
    * pins the two formulations equal on trained and adversarial merge
    * lists, exactly as TextOps.applyBpeMerges pins ApplyBpe. */
  private[graft] def applyWpMerges(s: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(s) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" ${mergedSym(a, b)} "))
    }

  /** Adjacent symbol pairs of a token array. */
  private def pairsOf(ts: Column): Column =
    transform(sequence(lit(1), size(ts) - 1), i =>
      struct(element_at(ts, i).as("a"), element_at(ts, i + 1).as("b")))

  /** Greedy longest-match-first segmentation of a word column under a
    * trained vocabulary: a row-local fold over positions — at each, the
    * longest l ≤ [[MaxPieceLen]] whose (marked) surface is in the vocab
    * wins and the cursor advances by l; no match anywhere → the whole
    * word is [[Unk]]. The vocab ships as a plan-literal map (d13's
    * bounded-artifact rule) — zero exchanges, stateless, serving batch
    * rows, the CLI, and the d47 stream twin from ONE expression. */
  def segment(w: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty, "wordpiece vocab must be non-empty")
    // the vocab is a SET: dedupe before the map literal (a repeated
    // piece in a user-assembled vocab parquet would otherwise throw
    // Spark's duplicate-map-key runtime error mid-query)
    val m = map(vocab.distinct.flatMap(p => Seq(lit(p), lit(1))): _*)
    val len = length(w)
    val init = struct(lit(1).as("pos"),
      array().cast("array<string>").as("toks"), lit(false).as("failed"))
    val fin = aggregate(sequence(lit(1), len), init, (acc, _) => {
      val pos = acc.getField("pos")
      val pref = when(pos === 1, lit("")).otherwise(lit("##"))
      val bestl = array_max(filter(
        sequence(lit(1), least(lit(MaxPieceLen), len - pos + 1)),
        l => element_at(m, concat(pref, w.substr(pos, l))).isNotNull))
      when(acc.getField("failed") || pos > len, acc)
        .otherwise(when(bestl.isNull,
          struct((len + 1).as("pos"), acc.getField("toks").as("toks"),
            lit(true).as("failed")))
          .otherwise(struct((pos + bestl).as("pos"),
            concat(acc.getField("toks"),
              array(concat(pref, w.substr(pos, bestl)))).as("toks"),
            lit(false).as("failed"))))
    })
    when(fin.getField("failed"), array(lit(Unk)))
      .otherwise(fin.getField("toks"))
  }

  /** [UNK] emissions of one word under a vocab (0 or 1 — BERT's whole-
    * word unknown). Feeds the c84 wordpiece row's oov_share_r. */
  def unkCount(w: Column, vocab: Seq[String]): Column = {
    val toks = segment(w, vocab)
    when(toks === array(lit(Unk)), lit(1L)).otherwise(lit(0L))
  }

  /** Train over an arbitrary (w, wcnt) word-type frame. Each round:
    * stage the vocabulary under the merges so far, count adjacent
    * symbol pairs and symbol occurrences (both weighted by word count,
    * both artifact-bounded), and adopt the pair with the greatest exact
    * likelihood score cnt/(cnt_a·cnt_b) whose merged surface fits
    * [[MaxPieceLen]]. Returns the canonical sorted vocabulary: every
    * round-0 symbol (the coverage base) plus each merge's symbol. */
  def trainWordpieceOn(wordCounts: DataFrame,
                       rounds: Int = WpRounds): Seq[String] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val base = wordCounts.select(col("wcnt"), col("w")).persist()
    try {
      base.count() // materialize once; every round re-reads the cache
      var merges = Vector.empty[(String, String)]
      var alphabet = Seq.empty[String]
      var exhausted = false
      while (merges.length < rounds && !exhausted) {
        // fused native staging (r17): ONE plan node regardless of the
        // merge count, so per-round plan work is constant at production
        // training depths — see ApplyWordpiece's scaladoc
        val staged = base.select(col("wcnt"),
          graft.functions.BpeFunctions.applyWordpiece(col("w"), merges)
            .as("ts"))
        // ONE pass per round (r17 ADVICE — this is the trainer's hot
        // loop): explode each occurrence as (sym, next-or-null) so the
        // symbol counts (Σ over next) and the pair counts (next ≠ null)
        // both fall out of a single artifact-bounded aggregate, instead
        // of re-executing the merge-replay chain twice per round.
        val grouped = staged
          .select(col("wcnt"), explode(transform(
            sequence(lit(1), size(col("ts"))), i =>
              struct(element_at(col("ts"), i).as("a"),
                when(i < size(col("ts")), element_at(col("ts"), i + 1))
                  .as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("wcnt")).as("cnt"))
          .collect()
          .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
        val symCnt = grouped.groupBy(_._1)
          .map { case (s, rs) => s -> rs.map(_._3).sum }
        if (merges.isEmpty) alphabet = symCnt.keys.toSeq.sorted
        val pairs = grouped
          .collect { case (a, Some(b), cnt) => (a, b, cnt) }
          .filter { case (a, b, _) =>
            mergedSym(a, b).stripPrefix("##").length <= MaxPieceLen }
        if (pairs.isEmpty) exhausted = true
        else {
          // exact rational argmax: c1/(f1·s1) vs c2/(f2·s2) compared by
          // BigInt cross-multiplication; ties (a asc, b asc)
          val best = pairs.reduceLeft { (p, q) =>
            val l = BigInt(p._3) * BigInt(symCnt(q._1)) * BigInt(symCnt(q._2))
            val r = BigInt(q._3) * BigInt(symCnt(p._1)) * BigInt(symCnt(p._2))
            if (l > r) p
            else if (l < r) q
            else {
              val c = Ordering.Tuple2[String, String]
                .compare((p._1, p._2), (q._1, q._2))
              if (c <= 0) p else q
            }
          }
          merges :+= ((best._1, best._2))
        }
      }
      (alphabet ++ merges.map { case (a, b) => mergedSym(a, b) })
        .distinct.sorted
    } finally { base.unpersist(); () }
  }

  /** Per-dir memo: gate rows and oracle renderer must see the identical
    * vocabulary (trainBpe's memo rule). */
  def trainWordpiece(spark: SparkSession, dir: String): Seq[String] =
    graft.Memo.value("wordpiece", Seq(dir))(trainWordpieceOn(TextOps.wordTypes(spark, dir)))

  /** (doc_id, n_words, n_tokens, tokens) projection of a (doc_id, text)
    * frame under a trained vocabulary — THE wordpiece tokenize
    * derivation, shared by construction (d29's rule) between `Main
    * tokenize --wordpiece`, the gate rows' building blocks, and d47's
    * streaming twin. Same output shape as the BPE/unigram paths —
    * downstream stages stay tokenizer-agnostic. */
  def tokenizeDocs(docs: DataFrame, vocab: Seq[String]): DataFrame =
    TextOps.tokenizeDocsWith(docs, TextOps.tokenWords(col("text")),
      w => segment(w, vocab))

  /** c98 gate row: train the vocabulary, greedy-segment every word TYPE
    * (vocabulary-side — the corpus was scanned once by the word count),
    * and emit the corpus token-frequency table: top `topK` by
    * (cnt desc, token asc) — c52/c75's gate shape, so all four
    * trainers' vocabularies read side by side. */
  def c98WordpieceTokenize(spark: SparkSession, dir: String,
                           topK: Int = 100): DataFrame = {
    val vocab = trainWordpiece(spark, dir)
    TextOps.wordTypes(spark, dir)
      .select(col("wcnt"), explode(segment(col("w"), vocab)).as("token"))
      .groupBy("token").agg(sum(col("wcnt")).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(topK)
  }

  /** c99: wordpiece fertility — tokens-per-word per doc, closing the
    * family's train → apply → EVALUATE loop (c66/c73/c78's metric, so
    * the four trainers compare on one number). The word-type JOIN shape
    * (§8l's rule): greedy match runs ONCE per word type, the type→np
    * table broadcasts, and the corpus word stream folds per doc with
    * map-side combine — corpus tokens never shuffle. An [UNK]'d word
    * contributes exactly 1 token in both engines by construction. */
  def c99WordpieceFertility(spark: SparkSession, dir: String): DataFrame = {
    val vocab = trainWordpiece(spark, dir)
    val types = TextOps.wordTypes(spark, dir)
      .select(col("w"),
        size(segment(col("w"), vocab)).cast("bigint").as("np"))
    val dw = graft.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(TextOps.tokenWords(col("text"))).as("w"))
    dw.join(broadcast(types), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_tokens"))
      .transform(TextOps.ratio6On(_, "fertility_r",
        col("n_tokens"), col("n_words")))
      .orderBy("doc_id")
  }
}
