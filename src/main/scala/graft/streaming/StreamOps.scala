package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input event for sessionization (top-level: state-store encoders
  * codegen against these classes). */
case class SessionEvent(user_id: Long, ts_us: Long)

/** One closed session. */
case class Session(user_id: Long, n_events: Long, start_us: Long, end_us: Long)

/** One open session inside the per-user state. */
case class SessionState(start_us: Long, end_us: Long, n: Long)

/** Per-user state: ALL sessions the watermark has not yet sealed. More
  * than one stays open when late (within-watermark) events arrive out of
  * order — each could still merge with a future event, so none may emit
  * early. Bounded by the watermark delay: O(delay / gap) entries. */
case class SessionsState(sessions: List[SessionState])

/** A right row's non-integral carriage through the streaming as-of —
  * batch b23's (string, double) payload mirrored (r15: the Long-only
  * AsofEvent was the same implementation artifact as batch asofJoin's
  * old integral require). Rights may omit it (None); it rides the state
  * and the match untouched, never ranked or cast. */
case class AsofPayload(label: String, value: Double)

/** One side-tagged event of d40's streaming as-of join. */
case class AsofEvent(key: Long, id: Long, ts_us: Long, is_right: Boolean,
                     payload: Option[AsofPayload] = None)

/** d40 per-key state: unsealed lefts + the candidate right set
  * (ts, id, payload). */
case class AsofState(lefts: List[(Long, Long)],
                     rights: List[(Long, Long, Option[AsofPayload])])

/** One sealed as-of answer: the latest right at-or-before the left's
  * time (b14's backward contract), None when the key has no such
  * right; the matched right's payload (when it carried one) rides
  * along whole. */
case class AsofMatch(key: Long, left_id: Long, left_ts_us: Long,
                     right_id: Option[Long], right_ts_us: Option[Long],
                     right_label: Option[String] = None,
                     right_value: Option[Double] = None)

/** One per-bucket verdict of the d6 near-dup filter (4 per doc, one per
  * simhash segment). dup_of = Long.MaxValue ⇔ no prior near-dup in this
  * bucket. */
case class BucketVerdict(doc_id: Long, ts_us: Long, dup_of: Long)

/** One remembered document in a d6 bucket's state. */
case class SeenDoc(simhash: Long, doc_id: Long, ts_us: Long)

/** Per-bucket d6 state: the admissible docs this bucket has seen, bounded
  * by the watermark horizon. */
case class BucketState(entries: List[SeenDoc])

/** One packed document emitted by d7 (streaming twin of batch c23). */
case class PackedDoc(doc_id: Long, shard: Long, n_tokens: Long,
                     cum_tokens: Long, pack_id: Long)

/** Per-shard d7 state: the running token count. */
case class ShardPackState(cum_tokens: Long)

/** The d34 session processor (see [[StreamOps.sessionizeTws]]): per-user
  * open-session list in one typed ValueState, sealing driven by
  * event-time TIMERS — at most one armed instant per user (the earliest
  * watermark at which any open session seals), re-armed whenever the
  * open set changes and fired into [[handleExpiredTimer]] so quiet users
  * still flush without waiting for their next event. */
class TwsSessionProcessor(gapMicros: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, java.sql.Timestamp), Session] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var open: ValueState[SessionsState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[SessionsState]("open",
      org.apache.spark.sql.Encoders.product[SessionsState], TTLConfig.NONE)

  /** Shared seal step: emit every session the watermark has passed
    * (micros-exact — [[StreamOps.sessionize]]'s rule), persist the rest,
    * re-arm the single timer at the earliest future seal instant. */
  private def seal(user: Long, wmMs: Long,
                   merged: List[SessionState]): Iterator[Session] = {
    val (closed, stillOpen) =
      merged.partition(_.end_us + gapMicros < wmMs * 1000L)
    val h = getHandle
    h.listTimers().toList.foreach(t => h.deleteTimer(t.asInstanceOf[Long]))
    if (stillOpen.isEmpty) open.clear()
    else {
      open.update(SessionsState(stillOpen))
      val earliestSeal =
        stillOpen.map(s => (s.end_us + gapMicros) / 1000 + 1).min
      h.registerTimer(math.max(earliestSeal, wmMs + 1))
    }
    closed.sortBy(_.start_us)
      .map(s => Session(user, s.n, s.start_us, s.end_us)).iterator
  }

  override def handleInputRows(
      user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
      tv: TimerValues): Iterator[Session] = {
    val existing = if (open.exists()) open.get().sessions else Nil
    val merged = StreamOps.gapMerge(
      existing ++ rows.map(r => SessionState(r._2, r._2, 1L)), gapMicros)
    seal(user, tv.getCurrentWatermarkInMs(), merged)
  }

  override def handleExpiredTimer(user: Long, tv: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[Session] = {
    val existing = if (open.exists()) open.get().sessions else Nil
    seal(user, tv.getCurrentWatermarkInMs(), existing)
  }
}

/** Streaming operators (SURVEY §2 d-rows): the stateful ones (watermark
  * windows, sessionization, stream-stream and as-of joins, running
  * aggregates, the near-dup and packing state) and the stream-static
  * serving joins against at-rest artifacts. A stateless d-row is its batch
  * operator's core run on a streaming frame and has no entry here — e.g.
  * d12 is `TextOps.qualityVerdicts(TextOps.rowLocalQualityCounts(docs)
  * .drop("sorted"))`, d37 is `Dsir.weightsOf(Dsir.scoreDocs(docs, art))`.
  * The MemoryStream specs pin every d-row against its batch twin, whose
  * DuckDB oracle carries the same logic. */
object StreamOps {

  /** d2: tumbling event-time window with late-data watermark. In append
    * mode a window only emits once the watermark passes its end — late
    * rows beyond the watermark are dropped, bounding state forever growth
    * at any scale. */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
                     watermark: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("window_start"), col("event_type"), col("n_events"))

  /** d4 (extension): watermarked stream-stream inner join — match each
    * event with events of a second stream for the same user within
    * `within` after it. Both sides carry watermarks plus a range condition,
    * so state for either side is bounded by watermark + interval (the only
    * stream-stream join shape that is safe at unbounded scale). */
  def streamJoin(left: DataFrame, right: DataFrame,
                 watermark: String = "10 minutes",
                 within: String = "30 minutes",
                 leftKey: String = "user_id", leftTs: String = "ts",
                 rightKey: String = "r_user_id", rightTs: String = "rts"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"))
  }

  /** d5: streaming exact dedup — the streaming twin of batch c1.
    * dropDuplicatesWithinWatermark keeps a key's dedup state only until
    * the watermark passes it, so state is bounded by the watermark window
    * (plain dropDuplicates on a stream grows state forever — unusable at
    * scale). Duplicates arriving within the window are suppressed; a
    * re-emission later than the watermark delay is treated as new (the
    * documented at-least-once trade-off of every windowed deduper). */
  def streamDedup(events: DataFrame, idCols: Seq[String], tsCol: String = "ts",
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stage 1 of d6: per-segment-bucket near-dup verdicts. Each doc's
    * 64-bit simhash (the native codegen'd expression — per-row, so it
    * needs NO stateful aggregate, unlike the batch explode+groupBy shape)
    * splits into 4×16-bit segments; a hamming≤3 pair shares at least one
    * intact segment, so routing every doc to its 4 segment buckets and
    * comparing only within a bucket finds every such pair while state and
    * shuffle stay O(docs·4) — the streaming form of c3's banding, never
    * all-pairs. In-batch rows process in (ts_us, doc_id) order so results
    * don't depend on micro-batch partition arrival. Bucket entries older
    * than the watermark evict — a doc re-emitted later than the delay is
    * treated as new, the same at-least-once trade-off d5 documents. */
  private[graft] def nearDupVerdicts(docs: DataFrame, watermarkDelay: String,
                                     maxHamming: Int): Dataset[BucketVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("ts_us"),
        graft.functions.TextFunctions.simhash64(col("text")).as("simhash"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      // bucket key packs (segment index, segment value) into one long
      // keep the watermark-tagged `ts` column through the stateful op —
      // dropping it here fails the streaming checker (event-time timeout
      // needs a watermarked column in scope)
      .select(col("doc_id"), col("ts_us"), col("simhash"), col("ts"),
        explode(array((0 until 4).map(j =>
          shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFFL) +
            lit(j.toLong << 16)): _*)).as("bucket"))
      .as[(Long, Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._5)
      .flatMapGroupsWithState[BucketState, BucketVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp, Long)],
         state: GroupState[BucketState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          var entries = state.getOption.map(_.entries).getOrElse(Nil)
          val out = List.newBuilder[BucketVerdict]
          if (!state.hasTimedOut) {
            rows.toSeq.sortBy(r => (r._2, r._1)).foreach {
              case (docId, tsUs, simhash, _, _) =>
                val matches = entries.filter(e => e.doc_id != docId &&
                  java.lang.Long.bitCount(e.simhash ^ simhash) <= maxHamming)
                val dupOf =
                  if (matches.isEmpty) Long.MaxValue else matches.map(_.doc_id).min
                out += BucketVerdict(docId, tsUs, dupOf)
                entries = SeenDoc(simhash, docId, tsUs) :: entries
            }
          }
          val kept = entries.filter(_.ts_us >= wmMs * 1000L)
          if (kept.isEmpty) state.remove()
          else {
            state.update(BucketState(kept))
            // final cleanup fires once the watermark passes every entry
            val lastAliveMs = kept.map(_.ts_us).max / 1000L + 1
            state.setTimeoutTimestamp(math.max(lastAliveMs, wmMs + 1))
          }
          out.result().iterator
      }
  }

  /** d6: streaming near-duplicate detection — the streaming twin of c3's
    * SimHash banding. Two chained stateful operators (supported in append
    * mode): the bucket stage emits 4 verdicts per doc, then a watermarked
    * event-time aggregate folds them into one row per doc
    * (min dup_of across buckets), emitting once the watermark passes the
    * doc's timestamp. Output: (doc_id, ts_us, is_dup, dup_of — null when
    * clean); a dedup pipeline drops is_dup rows.
    *
    * Requires `spark.sql.streaming.statefulOperator.checkCorrectness
    * .enabled=false`: the checker conservatively flags ANY aggregate after
    * flatMapGroupsWithState because it cannot reason about what event
    * times the state function emits. This topology cannot produce a late
    * row: every verdict carries its doc's original event time, is emitted
    * in the batch the doc arrives (timeouts emit nothing), and both
    * stages share the global watermark — a row admitted upstream
    * (ts ≥ watermark) is by construction not late downstream. */
  def streamNearDup(docs: DataFrame, watermarkDelay: String = "10 minutes",
                    maxHamming: Int = 3): DataFrame =
    nearDupVerdicts(docs, watermarkDelay, maxHamming).toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("doc_id"), col("ts"))
      .agg(min(col("dup_of")).as("min_dup"))
      .select(col("doc_id"), unix_micros(col("ts")).as("ts_us"),
        (col("min_dup") =!= Long.MaxValue).as("is_dup"),
        when(col("min_dup") =!= Long.MaxValue, col("min_dup")).as("dup_of"))

  /** d7: streaming sequence packing — the streaming twin of batch c23.
    * Docs arrive continuously; each shard's running token count lives in
    * tiny per-shard state (one long — state size is O(shards), constant
    * per shard, never evicted and never needing a watermark), and every
    * doc is assigned its pack the moment it arrives: pack = completed
    * budget units before it. In-batch rows process in doc_id order, so a
    * replay of the batch corpus produces byte-identical packs to c23
    * (spec-checked). Input columns: doc_id, text. */
  def streamSeqPack(docs: DataFrame, budget: Long = 256): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), (col("doc_id") / 100).cast("bigint").as("shard"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[ShardPackState, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[ShardPackState]) =>
          var cum = state.getOption.map(_.cum_tokens).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (docId, _, n) =>
            val pack = cum / budget
            cum += n
            PackedDoc(docId, shard, n, cum, pack)
          }
          state.update(ShardPackState(cum))
          out.iterator
      }
  }

  /** d10: streaming vocabulary — running per-term counts over a document
    * stream (twin of c34's batch vocab, and the one COMPLETE-mode surface
    * in the inventory: term counting's result set is vocabulary-sized —
    * distinct term types, not corpus rows — so the running aggregate
    * re-emits the full bounded vocabulary each trigger, exactly how a
    * live tokenizer-stats view consumes it; the top-k cut is a sort on
    * the sink table, spec-checked ≡ c34's cut). State is O(vocabulary):
    * one count per distinct term. Document frequency (c34's df) is
    * deliberately absent — a streaming per-term distinct would hold
    * (doc_id, term)-sized state; df belongs to batch c34 over the landed
    * corpus. */
  def streamVocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.operators.TextOps.words(lower(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))

  /** d17: streaming BPE pair statistics — c44's symbol-pair counting at
    * ingest (a COMPLETE-mode surface like d10/d15: the result set is the
    * bounded pair domain — the square of the observed symbol alphabet —
    * never corpus-sized, so the running aggregate re-emits it per
    * trigger and a live tokenizer-training view consumes it). The batch
    * side's distinct-word weighting is an at-rest OPTIMIZATION (explode
    * the vocabulary once, weight by word count); a stream counts pair
    * OCCURRENCES directly, which yields IDENTICAL totals by construction
    * (Σ_words count·pairs(word) ≡ Σ_occurrences pairs) — parity-spec'd
    * against c44. The pair explode itself is shared code
    * ([[graft.operators.TextOps.charPairsOf]]); the top-k merge cut is a
    * sort on the sink table (d10's rule). */
  def streamPairCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.operators.TextOps.words(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(split(col("w"), "").as("cs"))
      .select(explode(graft.operators.TextOps.charPairsOf(col("cs"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** d13: streaming corpus-frequency scoring — c41's perplexity-proxy
    * score at INGEST time, against a STATIC bounded vocabulary artifact
    * (the serving shape: batch c41 scores against the live full
    * vocabulary, but a stream can't re-aggregate the corpus per row, so —
    * exactly d9's codebook argument — the model ships as a bounded
    * artifact: c34's top-k vocabulary cut plus the corpus token total,
    * inlined as plan literals). Out-of-vocabulary terms score 0, the
    * explicit approximation this trades for zero state (documented, and
    * the parity spec pins stream ≡ a batch twin computed under the SAME
    * artifact restriction). Everything is row-local array math over the
    * staged token array — no aggregation, no watermark, any stream
    * length. The score stays c41's scale-free mean unigram probability,
    * so c41's cutoffs apply unchanged. */
  def streamFreqScore(docs: DataFrame, vocab: Seq[(String, Long)],
                      totalTokens: Long,
                      minMeanProb: Double = 0.033): DataFrame = {
    require(totalTokens >= 1, s"totalTokens must be >= 1, got $totalTokens")
    docs
      .filter(col("text").isNotNull) // c41's explode drops null text too
      .select(col("doc_id"),
        graft.operators.TextOps.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        sumCtf(col("toks"), vocab).as("sum_ctf"))
      // the batch render's exact-integer form (freqScoredOn, r19) with
      // the plan-literal total inlined — twins cannot drift on a ULP
      .withColumn("__den", col("n_tokens").cast("decimal(38,0)") *
        lit(totalTokens).cast("decimal(38,0)"))
      .withColumn("mean_prob_r",
        expr("(2000000*cast(sum_ctf as decimal(38,0)) + __den) div (2*__den)")
          .cast("double") / 1e6)
      .drop("__den")
      .withColumn("keep", col("mean_prob_r") >= minMeanProb)
  }

  /** The bounded-vocabulary sum_ctf fold d13 and d35 share: each token's
    * corpus frequency read off the plan-literal vocabulary map (OOV
    * terms read 0), summed. */
  private def sumCtf(toks: Column, vocab: Seq[(String, Long)]): Column = {
    // an empty map() literal types as MAP<STRING,STRING>, which breaks the
    // bigint element_at/coalesce below with an analysis error far from the
    // caller — and an empty vocabulary artifact is a caller bug anyway
    require(vocab.nonEmpty, "vocab artifact must contain at least one term")
    val ctfMap = map(vocab.flatMap { case (t, c) => Seq(lit(t), lit(c)) }: _*)
    aggregate(transform(toks, t => coalesce(element_at(ctfMap, t), lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** d35: streaming distilled quality classification — c74's trained
    * depth-2 tree applied at INGEST time, the serving twin distillation
    * exists for: the expensive teacher battery (c35 ∧ c41) ran once at
    * rest to train the tree, and arriving docs get the cheap verdict
    * without re-deriving corpus statistics. Artifacts are bounded and
    * ship as plan literals (d13's rule): the vocabulary cut + corpus
    * token total for sum_ctf, and the tree itself — applied through
    * [[graft.operators.Distill.treeVerdict]], the SAME Column expression
    * the batch gate row evaluates, over
    * [[graft.operators.Distill.featureProjection]], the SAME integer
    * feature projection (d29 shared-subtree rule twice over: neither
    * thresholds nor feature arithmetic can drift). Features are
    * row-local — [[graft.operators.TextOps.rowLocalQualityCounts]] gives
    * len/ttr/top, [[sumCtf]] gives sum_ctf — so the operator is stateless: no
    * watermark, no aggregation, any stream length. OOV terms contribute
    * 0 to sum_ctf (d13's documented bounded-artifact trade; with the
    * full corpus vocabulary the parity spec pins stream ≡ batch c74
    * row-for-row). The teacher `label` column is deliberately absent:
    * it needs corpus-wide aggregation, which is exactly what the
    * distilled tree frees ingest from. */
  def streamDistill(docs: DataFrame, vocab: Seq[(String, Long)],
                    totalTokens: Long,
                    tree: graft.operators.Distill.QualityTree): DataFrame = {
    require(totalTokens >= 1, s"totalTokens must be >= 1, got $totalTokens")
    graft.operators.TextOps.rowLocalQualityCounts(docs)
      // Divide-by-zero contract: featureProjection divides by n_words,
      // so a zero-token doc would yield NULL features (or kill the
      // stream under ANSI) and an arbitrary tree verdict for a doc the
      // batch explode path would have dropped. With the space-split
      // tokenizer this branch is unreachable — split("", " ") is [""]
      // (n_words = 1), so even empty/whitespace-only docs carry tokens
      // and batch c74 scores them (the parity spec pins that) — but any
      // future tokenizer that CAN yield zero tokens must drop the doc
      // on both paths, and this filter is the stream half of that.
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_types"), col("max_tc"),
        // freqScoredOn's n_tokens counts the same exploded token stream
        // qualityCounted sums — for one row they are the same number
        col("n_words").as("n_tokens"),
        sumCtf(col("sorted"), vocab).as("sum_ctf"),
        lit(totalTokens).as("total_tokens"))
      .select(col("doc_id") +: graft.operators.Distill.featureProjection: _*)
      .withColumn("pred", graft.operators.Distill.treeVerdict(tree))
  }

  /** The static-side artifacts [[streamIngest]] joins against: an md5
    * table for exact matches and a (band, key → ex_id, shingle set,
    * size) table for near-dup candidates. Build these ONCE per corpus
    * and persist them (or write to the corpus store and read back) —
    * a stream-static join re-executes the static subtree every
    * micro-batch, so an unpersisted corpus pipeline would re-shingle
    * the whole corpus per trigger. */
  case class IngestStatics(exact: DataFrame, bands: DataFrame)

  /** Builds [[IngestStatics]] from an existing (doc_id, text) corpus —
    * the streaming counterpart of [[graft.operators.Dedup.incrementalDedup]]'s
    * `existingShingles` injection point. */
  def ingestStatics(existing: DataFrame, k: Int = 8,
                    bands: Int = 4): IngestStatics = {
    import graft.operators.Dedup
    val exTable = existing.select(md5(col("text")).as("h"), col("doc_id").as("ex_id"))
    val shEx = Dedup.shingleRows(existing)
    val setsEx = shEx.groupBy("doc_id").agg(collect_list(col("shingle")).as("ex_sl"))
    val bandEx = Dedup.bandKeysOf(Dedup.minhashAgg(shEx, k), k, bands)
      .join(setsEx, "doc_id")
      .select(col("band"), col("key"), col("doc_id").as("ex_id"),
        col("ex_sl"), col("ns").as("ex_ns"))
    IngestStatics(exTable, bandEx)
  }

  /** d11: streaming ingest routing — classify an arriving doc stream
    * against a STATIC existing corpus (the zero-state streaming twin of
    * c37, and the inventory's stream-static-join surface). The batch
    * side's artifacts arrive as [[IngestStatics]] — built once by
    * [[ingestStatics]] and persisted by the caller (d8's
    * precomputed-eval-shingles pattern). The STREAM side needs no
    * aggregation at all — a doc's
    * shingle set, its k min-hashes and its band keys are all row-local
    * array expressions (c2's groupBy formulation exists because batch
    * shingles arrive as rows; a stream row carries its whole document) —
    * so every match is a stream-static equi-join, stateless in Spark,
    * and the jaccard verify is a row-local `array_intersect` against the
    * candidate's attached shingle set. Like d8, the operator emits HIT
    * rows — (doc_id, kind exact|near, ex_id, jaccard_r), possibly one
    * per colliding band — and callers fold statuses downstream; the
    * parity spec derives c37's exact statuses AND dup_of from this
    * sink. Zero state, no watermark, any stream length. */
  def streamIngest(docs: DataFrame, statics: IngestStatics,
                   threshold: Double = 0.7,
                   k: Int = 8, bands: Int = 4): DataFrame = {
    import graft.operators.Dedup
    val exTable = statics.exact
    val bandEx = statics.bands
    // stream side: everything row-local, over batch's signature
    // definition. The shingle array is staged in its own projection so
    // the (interpreted-HOF) shingling runs once per row — referencing the
    // expression from each minhash column would re-evaluate it k+1 times
    val mh = (0 until k).map(i =>
      array_min(transform(col("sl"), x => Dedup.shingleHash(i, x))).as(s"mh$i"))
    val exact = docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(exTable, "h")
      .select(col("doc_id"), lit("exact").as("kind"), col("ex_id"),
        lit(1.0).as("jaccard_r"))
    val near = docs
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sl"))
      .filter(size(col("sl")) >= 1)
      .select(Seq(col("doc_id"), col("sl")) ++ mh: _*)
      .select(col("doc_id"), col("sl"),
        posexplode(Dedup.bandKeyArray(k, bands)).as(Seq("band", "key")))
      .join(bandEx, Seq("band", "key"))
      .withColumn("ni", size(array_intersect(col("sl"), col("ex_sl"))))
      // r20: share batch's EXACT integer render (Dedup.jaccardCol) so a
      // .5e-6-boundary pair can't make stream and batch disagree by 1 ULP
      // and flip threshold membership in the parity specs
      .withColumn("jaccard_r",
        Dedup.jaccardCol(col("ni"), size(col("sl")), col("ex_ns")))
      .filter(col("jaccard_r") >= threshold)
      .select(col("doc_id"), lit("near").as("kind"), col("ex_id"), col("jaccard_r"))
    exact.unionByName(near)
  }

  /** d8: streaming decontamination — the streaming twin of batch c27.
    * Each arriving doc explodes into its distinct 8-token shingles
    * (per-doc `array_distinct`, so the explode is stateless — no global
    * distinct aggregation, which a stream could not run in append mode),
    * a bloom filter of the eval-set shingles (built ONCE from the static
    * side, shipped with the stage) discards non-matches inside the same
    * stage, and the survivors verify against the static eval shingle
    * table with a stream-static inner join — stateless in Spark (only
    * stream-STREAM joins hold state), so the operator needs no watermark
    * and holds zero state regardless of stream length. Emits one
    * (doc_id, shingle) hit per contaminated shingle; callers aggregate
    * downstream (or feed a windowed agg) — batch c24/c27's n_shared is
    * exactly count(*) per doc_id over this output (spec-checked). */
  def streamDecontam(docs: DataFrame, evalShingles: DataFrame,
                     filterBytes: Array[Byte]): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.operators.Dedup.shingles(col("text"), 8)).as("shingle"))
      .filter(graft.functions.BloomFunctions.mightContain(col("shingle"), filterBytes))
      .join(broadcast(evalShingles), "shingle")
      .select(col("doc_id"), col("shingle"))

  /** d9: streaming IVF cell assignment — route arriving vectors to their
    * nearest codebook cell (the ingestion half of a live vector index;
    * batch twin: the assignment inside c18/c31). The codebook is a
    * BOUNDED MODEL ARTIFACT (k rows — the caller collects it once, e.g.
    * `trainCodebook(...).collect()`, exactly as a real system ships a
    * trained codebook to ingest nodes) and is inlined as a plan literal;
    * the argmax is [[nearestCells]] — one pass, stateless, no
    * watermark. */
  def streamAssignCells(vecs: DataFrame,
                        codebook: Seq[(Long, Array[Double])]): DataFrame = {
    val best = element_at(nearestCells(col("embedding"), codebook, 1), 1)
    vecs.select(col("vec_id"), best.getField("cell").as("cell"),
      best.getField("ccos").as("cell_cos"))
  }

  /** The top-`nprobe` (cell, ccos) structs of a vector column against a
    * codebook artifact shipped as a plan literal: the native
    * [[graft.functions.NearestCells]] expression batch
    * [[graft.operators.Similarity.assignCells]] runs, so stream and batch
    * share the 6-dp rounding and the LOWEST-cell tie-break. Shared by d9,
    * d14 and d39. */
  private def nearestCells(v: Column, codebook: Seq[(Long, Array[Double])],
                           nprobe: Int): Column = {
    require(codebook.nonEmpty, "codebook must be non-empty")
    graft.functions.VectorFunctions.nearestCells(v,
      typedLit(codebook.map { case (cell, cv) => (cell, cv.toSeq) }), nprobe)
  }

  /** d18: streaming release audit — c49's snapshot classification at
    * ingest time: every arriving (doc_id, text) classifies against the
    * STATIC previous snapshot as added / changed / unchanged (`removed`
    * is inherently batch — absence cannot arrive on a stream; the batch
    * c49 pass owns it). One stream-static LEFT equi-join on the id key
    * against the old snapshot's (doc_id, md5) table — stateless in
    * Spark, no watermark — with c49's exact status rules: presence from
    * the join match, content compared null-safely (md5(NULL) is NULL
    * and must not read as absence). The static side must be a
    * MATERIALIZED table (d11's rule: an unmaterialized old-snapshot
    * pipeline re-hashes the whole corpus every micro-batch). Parity
    * spec pins stream ≡ batch c49 on the non-removed statuses. */
  def streamReleaseAudit(docs: DataFrame, oldSnapshot: DataFrame): DataFrame = {
    val old = oldSnapshot.select(col("doc_id"),
      md5(col("text")).as("old_h"), lit(true).as("in_old"))
    docs
      .select(col("doc_id"), md5(col("text")).as("new_h"))
      .join(old, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(!(col("old_h") <=> col("new_h")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** d19: streaming image-codec path — c51 at ingest: every arriving
    * image-typed media record runs the full PGM → PNG transcode (real
    * DEFLATE via the JDK's built-in javax.imageio codec) and is decoded
    * BACK, emitting the decoded-raster statistics. Row-local
    * mapPartitions — exactly where a production stream would mount its
    * codec contexts once per partition — with zero state, no watermark,
    * any stream length; non-image records are filtered out BEFORE the
    * codec loop, mirroring c51's scan-side type predicate. A parity
    * spec pins stream ≡ batch c51 row-for-row. */
  def streamImageCodec(media: Dataset[graft.operators.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(col("media_type") === "image")
      .as[graft.operators.MediaRecord]
      .mapPartitions(_.map { r =>
        graft.operators.Multimodal.decodePng(
          r.doc_id, graft.operators.Multimodal.pngTranscode(r.doc_id, r.payload))
      })
      .select(col("doc_id"), col("width"), col("height"), col("n_units"),
        col("v_min"), col("v_max"), col("v_sum"))
  }

  /** d20: streaming LOSSY codec path — c53 at ingest: every arriving
    * image-typed record runs the PGM → JPEG transcode (real DCT via the
    * JDK codec), is decoded back, and emits the STRUCTURAL features plus
    * the bounded-error verdict — the same shared core as the batch row
    * (twins-share-core), so a codec drift shows up in the parity spec.
    * Row-local, zero state, no watermark; non-image records filtered
    * BEFORE the codec loop like d19. */
  def streamJpegCodec(media: Dataset[graft.operators.MediaRecord],
                      tol: Int = 48): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(col("media_type") === "image")
      .as[graft.operators.MediaRecord]
      .mapPartitions(_.map(r =>
        graft.operators.Multimodal.jpegCodecFeatures(r.doc_id, r.payload, tol)))
      .toDF("doc_id", "width", "height", "n_units", "n_bands", "lossy_ok")
  }

  /** d33: streaming vector-index ADD — `Main index --add`'s serving
    * twin, closing the incremental-index loop (batch `--add` backfills,
    * this ingests live): each arriving vector assigns to its nearest
    * IVF cell and PQ-quantizes against the FROZEN broadcast codebook —
    * the SAME [[graft.operators.Similarity.quantizeCore]] expressions
    * the batch add runs (the d29 shared-subtree rule), so a stream-added
    * row is byte-identical to a batch-added one and appends straight to
    * the at-rest codes table per micro-batch. No retrain, no state, no
    * raw floats in the output; dims validate against the static codebook
    * (a streaming frame cannot be probed). De-dup against already-
    * indexed vec_ids is the writer's batch decision (d26's rule —
    * exactly the loud clash guard `index --add` applies). */
  def streamIndexAdd(arrivals: DataFrame, codebook: DataFrame,
                     m: Int = 4): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val sim = graft.operators.Similarity
    val dim = codebook.select(size(col("centroid"))).head().getInt(0)
    require(dim % m == 0,
      s"codebook dim $dim not divisible by $m subspaces")
    sim.quantizeCore(
      arrivals.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      codebook, m, dim / m)
  }

  /** d32: streaming BANDED near-dup at ingest — c71's serving twin and
    * d6's embedding-space analogue at production recall: each arriving
    * vector computes its 24 band buckets row-locally through the SAME
    * [[graft.operators.Similarity.bandBuckets]] expression the at-rest
    * index is built from (the d29 shared-subtree rule), equi-joins the
    * (band, bucket, vec_id, v) index
    * ([[graft.operators.Similarity.bandedIndexOf]], built by `Main
    * neardup --index` — d11/d25's materialized-table rule, at scale
    * bucketed by (band, bucket): the `Stress bucketed` measurement),
    * and verifies each candidate with the exact cosine ROW-LOCALLY on
    * the joined row — the attached vector is what buys zero state.
    * Emits one (vec_id, neighbor_id, band, cosine_r) row per band hit
    * ≥ threshold; the distinct-pair fold is a batch decision downstream
    * (d26's rule). Stateless, no watermark; recall is c71's banding
    * curve (0.97 of exact pairs at the gate geometry, c72-measured). */
  def streamNearDupBanded(arrivals: DataFrame, index: DataFrame,
                          threshold: Double = 0.3,
                          bands: Int = graft.operators.Similarity.C71Bands,
                          planesPerBand: Int =
                            graft.operators.Similarity.C71PlanesPerBand)
      : DataFrame = {
    val sim = graft.operators.Similarity
    arrivals.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("qv"),
        sim.bandBuckets(col("embedding"), bands, planesPerBand).as("bks"))
      .select(col("vec_id"), col("qv"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
      .join(index.select(col("band"), col("bucket"),
        col("vec_id").as("neighbor_id"), col("v")), Seq("band", "bucket"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .withColumn("cosine_r", round(sim.cosine(col("qv"), col("v")), 6))
      .filter(col("cosine_r") >= threshold)
      .select(col("vec_id"), col("neighbor_id"), col("band"), col("cosine_r"))
  }

  /** d16: streaming whitening — c47 at ingest time, against a STATIC
    * moments artifact (d13's argument: a stream cannot re-aggregate the
    * corpus per row, so the per-dim (mean, σ) table — dim-sized,
    * bounded — ships as plan literals, exactly as a serving system
    * ships its normalization constants; the batch side computes them
    * once with c45/fixedPointMoments). Row-local zip_with over the
    * arriving vector: zero state, no watermark, any stream length.
    * Emits c47's long form (vec_id, pos, z_r); a parity spec pins
    * stream ≡ batch c47 row-for-row under the same artifact. */
  def streamWhiten(vecs: DataFrame,
                   moments: Seq[(Int, Double, Double)]): DataFrame = {
    val sorted = moments.sortBy(_._1)
    // the zip below pairs POSITIONALLY — a gapped or duplicated artifact
    // would silently whiten dims with the wrong constants (the d13
    // fail-at-the-seam rule); vectors wider than the artifact are a
    // stream-side condition the caller owns (they'd emit null z_r)
    require(sorted.map(_._1) == (0 until sorted.length),
      s"moments artifact must cover contiguous dims 0..${sorted.length - 1}")
    val ms = typedLit(sorted.map { case (_, m, s) => (m, s) })
      .cast("array<struct<mean:double,sd:double>>")
    graft.operators.Similarity.whitenLong(vecs,
      col("embedding").cast("array<double>"), ms)
  }

  /** d39: streaming ANN query scoring — the QUERY half of the vector
    * index's serving story at ingest (the index half is d33's
    * incremental add): arriving query vectors probe the at-rest IVF-PQ
    * index and emit one ADC-scored hit row per candidate in their
    * probed cells. Cell probing is ROW-LOCAL ([[nearestCells]] taken to
    * top-nprobe); candidates arrive by ONE stream-static equi-join on
    * the cell id against the MATERIALIZED
    * [[graft.operators.Similarity.reconstructCandidates]] frame
    * (d11/d25's rule — at scale bucketed by cell), so each query
    * touches ~nprobe/cells of the index, never the corpus. Emits
    * (query_id, cell, neighbor_id, adc_r) hit rows — cell-sized
    * emission per query, d26's hit-row rule: append mode cannot run
    * the per-query top-k window, and the top-k cut is a pure fold of
    * the emitted hits (parity spec pins fold ≡ batch
    * queryVectorIndex / ivfPqSearch). Zero state, no watermark. */
  def streamAnnScore(queries: DataFrame, candidates: DataFrame,
                     codebook: Seq[(Long, Array[Double])],
                     nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(Seq("cell", "neighbor_id", "rv").forall(candidates.columns.contains),
      "candidates must be a reconstructCandidates frame " +
        s"(cell, neighbor_id, rv), found " +
        candidates.columns.mkString("(", ", ", ")"))
    queries
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"),
        explode(nearestCells(col("embedding"), codebook, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cell").as("cell"))
      .join(candidates.withColumn("cell", col("cell").cast("bigint")), "cell")
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        round(graft.operators.Similarity.cosine(col("qv"), col("rv")), 6)
          .as("adc_r"))
  }

  /** d43 (r15): streaming perceptual-hash routing — c88's serving twin,
    * the ingest-side image near-dup check: each arriving image record
    * decodes and hashes ROW-LOCALLY through the SAME
    * [[graft.operators.Multimodal.phashOf]] derivation the batch gate
    * runs (d29's shared-subtree rule — a sampler off-by-one diverges
    * both or neither), explodes into its 4 Hamming-band segments, and
    * equi-joins ONE stream-static segment index materialized from the
    * batch c88 frame (d11/d25's materialized-table rule — at scale
    * bucketed by segment, so an arrival touches 4 buckets, never the
    * corpus). Emits RAW per-segment hit rows at hamming ≤ maxHamming
    * (d26's rule: append mode cannot dedup multi-segment collisions;
    * the distinct fold is batch's job — the parity spec folds and
    * compares to [[graft.operators.Multimodal.phashPairs]]). Zero
    * state, no watermark. */
  def streamPhashRoute(media: Dataset[graft.operators.MediaRecord],
                       index: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(Seq("doc_id", "phash").forall(index.columns.contains),
      "index must be a c88 phash frame (doc_id, phash), found " +
        index.columns.mkString("(", ", ", ")"))
    phashBandProbe(phashArrivals(media), corpusPhashes(index), maxHamming)
      .select(col("doc_id"), col("seg_idx"), col("corpus_doc"), col("hamming"))
  }

  /** (doc_id, phash) of each arriving media record, hashed row-locally
    * through the batch gates' [[graft.operators.Multimodal.phashOf]]
    * dispatch. */
  private def phashArrivals(media: Dataset[graft.operators.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media
      .mapPartitions(_.map(r => (r.doc_id,
        graft.operators.Multimodal.phashOf(r.doc_id, r.media_type, r.payload))))
      .toDF("doc_id", "phash")
  }

  /** A (doc_id, phash) corpus index as the (corpus_doc, cph, extra…)
    * probe side. */
  private def corpusPhashes(index: DataFrame, extra: Column*): DataFrame =
    index.select(Seq(col("doc_id").as("corpus_doc"), col("phash").as("cph")) ++
      extra: _*)

  /** The stream-static band probe d43, d44 and d49 share: arrivals
    * (doc_id, phash, …) and a corpus index (corpus_doc, cph, …) each
    * explode into their 4 (seg_idx, seg) Hamming bands
    * ([[graft.operators.Multimodal.phashBands]]) and equi-join on them —
    * at scale the index is bucketed by segment, so an arrival touches 4
    * buckets, never the corpus. Self hits drop; the rows keep every input
    * column plus seg_idx and the exact `hamming`, at most maxHamming. A
    * pair colliding in k bands arrives k times. */
  private def phashBandProbe(arrivals: DataFrame, index: DataFrame,
                             maxHamming: Int): DataFrame = {
    graft.operators.Dedup.requireFourBandRecall(maxHamming)
    def banded(df: DataFrame, h: String): DataFrame = df.select(col("*"),
      graft.operators.Multimodal.phashBands(col(h)).as(Seq("seg_idx", "seg")))
    banded(arrivals, "phash").join(banded(index, "cph"), Seq("seg_idx", "seg"))
      .filter(col("doc_id") =!= col("corpus_doc"))
      .withColumn("hamming",
        bit_count(col("phash").bitwiseXOR(col("cph"))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
  }

  /** d44 (r15): streaming VIDEO frame routing — c91's serving twin and
    * the third modality of the perceptual ingest story (d43 routes
    * whole images/audio): each arriving video demuxes and hashes its
    * frames ROW-LOCALLY through the SAME
    * [[graft.operators.Multimodal.videoFramePhashes]] walk the batch
    * gate runs (d29's rule), explodes each frame hash into its 4
    * Hamming-band segments, and equi-joins ONE stream-static segment
    * index materialized from the batch c91 frame table (d11/d25's rule
    * — at scale bucketed by segment). Emits RAW per-segment hit rows
    * at hamming ≤ maxHamming — (arrival doc, arrival frame, corpus
    * doc, corpus frame, hamming) — d26's rule: the any-frame-collision
    * fold that decides "this video is a near-dup of that one" is
    * batch's job. Zero state, no watermark. */
  def streamVideoPhashRoute(media: Dataset[graft.operators.MediaRecord],
                            frameIndex: DataFrame,
                            maxHamming: Int = 3): DataFrame = {
    require(Seq("doc_id", "frame_idx", "phash").forall(frameIndex.columns.contains),
      "frameIndex must be a c91 frame table (doc_id, frame_idx, phash), found " +
        frameIndex.columns.mkString("(", ", ", ")"))
    import media.sparkSession.implicits._
    val arrivals = media
      .mapPartitions(_.flatMap { r =>
        require(r.media_type == "video",
          s"doc ${r.doc_id}: frame routing is video-only, got '${r.media_type}'")
        graft.operators.Multimodal.videoFramePhashes(r.doc_id, r.payload)
          .map { case (f, ph) => (r.doc_id, f, ph) }
      })
      .toDF("doc_id", "frame_idx", "phash")
    phashBandProbe(arrivals,
        corpusPhashes(frameIndex, col("frame_idx").as("corpus_frame")), maxHamming)
      .select(col("doc_id"), col("frame_idx"), col("seg_idx"),
        col("corpus_doc"), col("corpus_frame"), col("hamming"))
  }

  /** d14: streaming semantic-dedup routing — classify an arriving
    * embedding stream against a STATIC corpus: the embedding twin of
    * d11's text ingest routing, and c43's serving shape. The vector's
    * cell is the [[nearestCells]] argmax over the BOUNDED codebook
    * artifact (d9's argument: ship the trained codebook to ingest nodes
    * as plan literals), and the duplicate hunt is a stream-static
    * equi-join ON THE CELL ID against c43's memoized assignment table —
    * so each arriving vector scores only against its own cell's members,
    * never the corpus (the same confinement that makes c43 100 TB-safe).
    * Stateless in Spark (only stream-stream joins hold state): no
    * watermark, no aggregation state, any stream length. Emits HIT rows
    * (vec_id, cell, cent_r, ex_id, cosine_r) — possibly several per
    * arriving vector; callers fold statuses downstream (dup iff any
    * hit), exactly d11's contract. A re-ingested corpus member does not
    * match itself (ex_id ≠ vec_id). The static side must be a
    * MATERIALIZED table (the assignment memo's scratch parquet
    * qualifies) — a stream-static join re-executes the static subtree
    * every micro-batch, so an unmaterialized corpus pipeline would
    * re-assign the whole corpus per trigger. */
  def streamSemanticRoute(vecs: DataFrame, corpus: DataFrame,
                          codebook: Seq[(Long, Array[Double])],
                          threshold: Double = 0.35): DataFrame = {
    val best = element_at(nearestCells(col("embedding"), codebook, 1), 1)
    vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        best.getField("cell").as("cell"), best.getField("ccos").as("cent_r"))
      .join(corpus.select(col("vec_id").as("ex_id"), col("v").as("ev"),
        col("cell")), "cell")
      .filter(col("vec_id") =!= col("ex_id"))
      .withColumn("cosine_r",
        round(graft.operators.Similarity.cosine(col("v"), col("ev")), 6))
      // NaN (zero-norm vector on either side) compares LARGER than any
      // threshold in Spark — map it to -Inf in ONE reference (c43's
      // dominanceVerdicts rule, mirrored at ingest; a two-conjunct
      // isnan filter would evaluate the cosine twice after predicate
      // pushdown inlines the alias)
      .filter(nanvl(col("cosine_r"), lit(Double.NegativeInfinity)) >= threshold)
      .select(col("vec_id"), col("cell"), col("cent_r"), col("ex_id"),
        col("cosine_r"))
  }

  /** Gap-merge a set of sessions (single events arrive as n=1 sessions):
    * sort by start, fold, coalescing any session that starts within `gap`
    * of the running session's end — exactly c13's batch semantics. Late
    * events can bridge two formerly-separate sessions; the fold handles
    * that because the bridging n=1 session extends the left session's end
    * until the right one falls within gap. */
  private[streaming] def gapMerge(ss: Seq[SessionState], gap: Long): List[SessionState] =
    ss.sortBy(s => (s.start_us, s.end_us))
      .foldLeft(List.empty[SessionState]) { (acc, s) =>
        acc match {
          case h :: t if s.start_us <= h.end_us + gap =>
            SessionState(h.start_us, math.max(h.end_us, s.end_us), h.n + s.n) :: t
          case _ => s :: acc
        }
      }.reverse

  /** d3: streaming sessionization, the streaming twin of c13's batch
    * window+groupBy. Per-user state holds EVERY session the watermark has
    * not sealed (late within-watermark events can open sessions before the
    * newest one, and two such events must merge with each other, not emit
    * as singletons). A session emits only once the watermark passes its
    * end + gap — at that point no admissible event (ts >= watermark) can
    * merge into it, so batch and streaming results agree for all events
    * the watermark admits. */
  def sessionize(events: Dataset[SessionEvent], gapMicros: Long,
                 watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionsState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionsState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val existing = state.getOption.map(_.sessions).getOrElse(Nil)
          val merged =
            if (state.hasTimedOut) existing // timeout delivers no rows
            else gapMerge(existing ++ rows.map(r => SessionState(r._2, r._2, 1L)), gapMicros)
          // sealed: no admissible future event (ts_us >= wmMs*1000) can be
          // within gap of this session's end. Compared in MICROS — an
          // ms-truncated compare could seal up to ~1 ms early and split a
          // boundary session that batch c13 would merge (sub-ms gaps/ts).
          val (closed, open) = merged.partition(_.end_us + gapMicros < wmMs * 1000L)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionsState(open))
            // earliest ms watermark at which a session seals:
            // wmMs*1000 > end_us + gap  ⇔  wmMs ≥ (end_us+gap)/1000 + 1
            val earliestSeal = open.map(s => (s.end_us + gapMicros) / 1000 + 1).min
            // the timeout timestamp must sit strictly beyond the watermark
            state.setTimeoutTimestamp(math.max(earliestSeal, wmMs + 1))
          }
          closed.sortBy(_.start_us)
            .map(s => Session(user, s.n, s.start_us, s.end_us)).iterator
      }
  }

  /** d40: streaming as-of join — b14's backward contract
    * (latest right at-or-before each left, per key) made
    * WATERMARK-CORRECT: a left's answer is not emittable on arrival,
    * because a right with a smaller event time can still arrive later
    * and change it; the left seals only once the watermark passes its
    * event time (strictly — an admissible right AT the watermark could
    * still tie into a left sitting exactly there), at which point no
    * admissible right can precede it and the answer equals batch b14's
    * for every admitted event. Per-key state holds the unsealed lefts
    * and the DOMINANCE-PRUNED right set: once the watermark is at W,
    * every future or unsealed left has ts ≥ W, so any right older than
    * the latest right ≤ W can never win the argmax again and is dropped
    * (ties keep the largest id, b14's rule) — state is O(unsealed
    * lefts + rights newer than the best-at-W), bounded by the watermark
    * horizon, NOT the stream. Timeout re-arms at the earliest unsealed
    * left's seal instant (sessionize's pattern) so sealed answers flush
    * without waiting for new same-key data. Append mode; emissions
    * sorted by (left ts, id) per flush. Rights may carry an
    * [[AsofPayload]] (string label + double value — batch b23's
    * non-integral carriage, r15): it rides state and answer whole,
    * never ranked, never cast. */
  def streamAsof(events: Dataset[AsofEvent],
                 watermarkDelay: String = "10 minutes",
                 direction: String = "backward",
                 toleranceUs: Option[Long] = None): Dataset[AsofMatch] = {
    require(direction == "backward" || direction == "forward",
      s"streamAsof direction must be backward|forward, got '$direction'")
    // backward waits only for rights BEFORE the left — the watermark
    // bounds that for free. Forward waits for rights AFTER it: without a
    // tolerance the wait never seals (the matching right may be
    // arbitrarily far in the future), so d41 REQUIRES the bound b22's
    // batch form merely recommends.
    require(direction == "backward" || toleranceUs.isDefined,
      "forward streaming as-of needs a tolerance — an unbounded forward wait never seals")
    require(toleranceUs.forall(_ >= 0), "tolerance must be >= 0")
    val fwd = direction == "forward"
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Long, Boolean, Option[AsofPayload], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long,
         rows: Iterator[(Long, Long, Long, Boolean, Option[AsofPayload],
           java.sql.Timestamp)],
         state: GroupState[AsofState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
          val (newR, newL) =
            if (state.hasTimedOut) (Nil, Nil) // timeout delivers no rows
            else {
              val rs = rows.toList
              (rs.filter(_._4).map(r => (r._3, r._2, r._5)),
                rs.filterNot(_._4).map(r => (r._3, r._2)))
            }
          val rights = prev.rights ++ newR
          // ranking is ALWAYS (ts, id) — the payload rides, never ranks
          def byTsId(r: (Long, Long, Option[AsofPayload])) = (r._1, r._2)
          // forward best: earliest right in [t, t+tol], ties -> SMALLEST
          // id (b22's rule)
          def fwdBest(lts: Long): Option[(Long, Long, Option[AsofPayload])] =
            rights.filter(r => r._1 >= lts && r._1 <= lts + toleranceUs.get)
              .sortBy(byTsId).headOption
          // seal rules. Backward: strictly below the watermark (a future
          // right AT wmUs is admissible and would qualify ts <= left ts
          // for a left sitting there). Forward: once the watermark is
          // strictly past the current best's time no admissible right can
          // displace it (displacers need ts in [t, best) or an equal-ts
          // smaller id — both below-or-at best, excluded by strict);
          // with NO candidate, once the watermark passes the whole
          // window the answer is provably None.
          def sealedNow(lts: Long): Boolean =
            if (!fwd) lts < wmUs
            else fwdBest(lts) match {
              case Some((bts, _, _)) => wmUs > bts
              case None => wmUs > lts + toleranceUs.get
            }
          val (flushed, open) = (prev.lefts ++ newL).partition(l => sealedNow(l._1))
          val answers = flushed.sortBy(identity).map { case (lts, lid) =>
            val best =
              if (fwd) fwdBest(lts)
              // b14's argmax: max right ts <= left ts, ties -> max id;
              // tolerance nulls a match farther than the bound (b22's
              // post-filter, mirrored)
              else rights.filter(_._1 <= lts).sortBy(byTsId).lastOption
                .filter(b => toleranceUs.forall(t => lts - b._1 <= t))
            AsofMatch(key, lid, lts, best.map(_._2), best.map(_._1),
              best.flatMap(_._3).map(_.label), best.flatMap(_._3).map(_.value))
          }
          // right-set GC. Backward: rights older than the best
          // at-or-before the watermark can never win for any remaining
          // (ts >= wmUs) left — dominance. Forward: a right serves only
          // lefts with t in [rts - tol, rts]; every remaining or future
          // left has ts >= min(open, wmUs), so earlier rights are dead.
          val keptRights =
            if (!fwd)
              rights.filter(_._1 >= wmUs) ++
                rights.filter(_._1 < wmUs).sortBy(byTsId).lastOption.toList
            else {
              val minT = (open.map(_._1) :+ wmUs).min
              rights.filter(_._1 >= minT)
            }
          if (open.isEmpty && keptRights.isEmpty) state.remove()
          else {
            state.update(AsofState(open, keptRights))
            if (open.nonEmpty) {
              // earliest ms watermark at which some left seals:
              // wm*1000 > x ⇔ wm ≥ x/1000 + 1 (integer floor); forward
              // lefts seal at their best's time or their window end
              val earliestSeal = open.map { case (lts, _) =>
                val x =
                  if (!fwd) lts
                  else fwdBest(lts).map(_._1).getOrElse(lts + toleranceUs.get)
                x / 1000L + 1
              }.min
              state.setTimeoutTimestamp(
                math.max(earliestSeal, state.getCurrentWatermarkMs() + 1))
            }
            // else: only pruned rights remain — the key's LAST-VALUE
            // CACHE (what a kdb-style temporal table retains per key
            // forever; a future left at any event time may still need
            // the retained best). Deliberately NO timeout: the set
            // cannot grow while idle (nothing adds to it), and a
            // re-arm at wm+1 would wake every idle key on every
            // watermark advance — a per-trigger invocation storm over
            // millions of idle keys at scale. It re-GCs on the key's
            // next event.
          }
          answers.iterator
      }
  }

  /** d34: sessionization on the transformWithState API (Spark 4's
    * arbitrary-state v2 — the successor to flatMapGroupsWithState):
    * IDENTICAL semantics to [[sessionize]] (same gapMerge, same
    * micros-exact sealing rule, same append contract), re-expressed with
    * a [[TwsSessionProcessor]] — typed ValueState + explicit event-time
    * TIMERS instead of the GroupState timeout (timers are the v2 API's
    * sharper tool: one registered instant per user, deleted and re-armed
    * as the open set changes, and expiry is delivered to its own
    * callback rather than flag-checked inside the input path). The
    * parity spec pins d34 ≡ d3 row-for-row on the same event stream —
    * the two stateful APIs must be interchangeable carriers of the one
    * session semantics.
    *
    * Deployment note: transformWithState requires the RocksDB state
    * store (`spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider` — the v2 API keeps each state
    * variable and the timer registry in its own column family, which
    * the default HDFS-backed provider cannot host; Spark bundles the
    * RocksDB JNI jar). The d3 form runs on either provider. */
  def sessionizeTws(events: Dataset[SessionEvent], gapMicros: Long,
                    watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TwsSessionProcessor(gapMicros),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[Session]])
  }

  /** The d22 artifact: c55's 1-row corpus statistics, collected at rest
    * and shipped to the edge as plan literals. */
  final case class Bm25Stats(nDocs: Long, nTokens: Long, dfs: Seq[(String, Long)])

  /** d22: streaming BM25 scoring — c55's log-free exact-rational scorer
    * at INGEST time. Batch c55 derives (N, T, df_t) from the corpus it is
    * ranking; a stream can't re-aggregate the corpus per row, so — d13's
    * artifact rule — those statistics train at rest and ship as plan
    * literals, and each arriving document scores ROW-LOCALLY: dl and the
    * per-term tfs are array math over the staged token array, the score
    * is the identical fixed-order expression c55 uses (twins-share-
    * arithmetic: same cleared-fraction operands, same 6-dp rounding,
    * same left-associated sum). No top-k at the edge — ranking is a
    * corpus decision; the stream emits every doc scored, zero state, no
    * watermark, any stream length. */
  def streamBm25(docs: DataFrame, stats: Bm25Stats): DataFrame = {
    require(stats.nDocs >= 1 && stats.nTokens >= 1,
      s"corpus stats artifact must be non-empty, got $stats")
    require(stats.dfs.nonEmpty, "df artifact must contain at least one term")
    // r20: decimal-staged operands + the exact 6-dp render (TextOps
    // .ratio6Col) — the identical arithmetic batch c55 now uses, so the
    // parity spec can't seam on a .5e-6 boundary at any corpus size
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val n = dec(lit(stats.nDocs)); val t = dec(lit(stats.nTokens))
    def termScore(tf: Column, dfCount: Long): Column = {
      val df = dec(lit(dfCount))
      val num = (lit(2) * n - lit(2) * df + lit(1)) * lit(22) * t * dec(tf)
      val den = (lit(2) * df + lit(1)) *
        (lit(10) * t * dec(tf) + lit(3) * t + lit(9) * dec(col("dl")) * n)
      graft.operators.TextOps.ratio6Col(num, den)
    }
    val tfOf = (term: String) =>
      size(filter(col("tk"), x => x === term)).cast("bigint")
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.operators.TextOps.words(lower(col("text"))).as("tk"))
      .select((Seq(col("doc_id"), size(col("tk")).cast("bigint").as("dl")) ++
        stats.dfs.map { case (term, _) => tfOf(term).as(s"tf_$term") }): _*)
      .select((Seq(col("doc_id"), col("dl")) ++
        stats.dfs.map { case (term, _) => col(s"tf_$term") } ++
        stats.dfs.map { case (term, dfc) =>
          termScore(col(s"tf_$term"), dfc).as(s"s_$term") }): _*)
      .withColumn("score",
        stats.dfs.map { case (term, _) => col(s"s_$term") }.reduceLeft(_ + _))
  }

  /** d24: streaming LM transition scoring — c56's bigram model served at
    * the edge through a STREAM-STATIC broadcast equi-join. The model
    * (a vocab²-bounded (a, b, c_pair, c_prefix) frame, trained at rest
    * by [[graft.operators.TextOps.lmModel]]) is the static side; each
    * arriving document explodes to its adjacent pairs (row-local HOF —
    * stateless) and joins to pick up its transition counts, emitting one
    * scored (doc_id, a, b, ppb) row per transition. INNER join semantics
    * drop out-of-model pairs — the d13 trade: an edge can only score
    * what the shipped model knows; the batch side (c56) aggregates the
    * full-corpus average. ppb stays the exact integer floor division so
    * stream and batch transitions are bit-identical (parity-spec'd).
    * Stateless in Spark: the static subtree re-executes per micro-batch
    * (cheap — the model is broadcast-sized), no watermark, no state. */
  def streamLmTransitions(docs: DataFrame, model: DataFrame): DataFrame =
    graft.operators.TextOps.docPairs(docs)
      .join(broadcast(model), Seq("a", "b"))
      .withColumn("ppb", expr("(c_pair * 1000000000L) div c_prefix"))
      .select(col("doc_id"), col("a"), col("b"), col("ppb"))

  /** d25: streaming near-dup MATCH at ingest — the serving loop c57/d23
    * exist for: each arriving document computes its winnowing
    * fingerprints (the native codegen'd selector, row-local) and
    * equi-joins the at-rest (fp, doc_id) index
    * ([[graft.operators.TextOps.winnowIndex]], built by
    * `Main fingerprint --index`), emitting one (doc_id, matched_doc, fp)
    * row per shared fingerprint — by the winnowing guarantee, any
    * at-rest doc sharing a ≥ w+k−1 token run with the arrival WILL
    * surface here. Deliberately STATELESS: match events stream out
    * un-aggregated (counting shared fps per pair is a batch decision —
    * d11's statuses rule); self-matches drop. The index is NOT broadcast
    * — it is corpus-sized; d11's materialization rule applies (a
    * stream-static join re-executes the static subtree per micro-batch,
    * so the index must be a materialized table, and at scale one
    * BUCKETED by fp so the join is co-located with no per-batch
    * shuffle). */
  def streamWinnowMatch(docs: DataFrame, index: DataFrame): DataFrame =
    graft.operators.TextOps.winnowIndex(
        docs.filter(col("text").isNotNull).select("doc_id", "text"))
      .join(index.select(col("fp"), col("doc_id").as("matched_doc")), Seq("fp"))
      .filter(col("matched_doc") =!= col("doc_id"))
      .select(col("doc_id"), col("matched_doc"), col("fp"))

  /** The static-side artifacts [[streamContainment]] joins against —
    * c81's corpus half as at-rest tables: the winnowing index
    * ([[graft.operators.TextOps.winnowIndex]], the same artifact
    * d25/c57 maintain) and the per-doc distinct-shingle sets with their
    * sizes. d11/d25's materialized-table rule: build ONCE per corpus
    * and persist; at scale the index is bucketed by fp and the sets by
    * ex_id so both per-batch joins are co-located. */
  case class ContainStatics(index: DataFrame, sets: DataFrame)

  def containStatics(existing: DataFrame): ContainStatics = {
    import graft.operators.{Dedup, TextOps}
    ContainStatics(
      TextOps.winnowIndex(existing)
        .select(col("fp"), col("doc_id").as("ex_id")),
      Dedup.shingleRows(existing).groupBy("doc_id")
        .agg(collect_list(col("shingle")).as("ex_sl"),
          count(lit(1)).as("ex_ns"))
        .select(col("doc_id").as("ex_id"), col("ex_sl"), col("ex_ns")))
  }

  /** d38: streaming containment hits at ingest — c81's serving twin:
    * each arriving document probes the at-rest winnow index for
    * candidate corpus docs (c57's guarantee carries over: an arrival
    * sharing a ≥ 8-token run with ANY corpus doc collides) and verifies
    * exact bidirectional shingle containment against the candidate's
    * attached set — the doc-in-doc signal (quote farms, boilerplate
    * wrappers) that d11's Jaccard verify structurally under-scores.
    * The arrival's fingerprints and distinct-shingle set are ROW-LOCAL
    * (the same native WinnowFps expression batch winnowIndex projects
    * through, and c2's shingles HOF — d29's shared-subtree rule twice),
    * so the plan is two stateless stream-static equi-joins; no
    * watermark, no state. Emits one hit row per colliding (doc_id,
    * ex_id, fp) — d8/d26's hit-row rule: append mode cannot run the
    * pair-distinct, and every duplicate carries the identical verified
    * ratios, so the fold downstream is a pure distinct. Containment
    * ratios use c81's exact-integer rounding; parity is spec-pinned
    * against batch [[graft.operators.Dedup.containmentOn]] over the
    * straddling pairs. */
  def streamContainment(docs: DataFrame, statics: ContainStatics,
                        threshold: Double = 0.5): DataFrame = {
    import graft.operators.{Dedup, TextOps}
    val arriving = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("sd"),
        explode(graft.functions.WinnowFunctions.winnowFps(
          col("text"), TextOps.WinnowK, TextOps.WinnowW)).as("fp"))
    arriving.join(statics.index, "fp")
      .join(statics.sets, "ex_id")
      .withColumn("n_common",
        size(array_intersect(col("sd"), col("ex_sl"))).cast("bigint"))
      .withColumn("n_in", size(col("sd")).cast("bigint"))
      .filter(col("n_in") >= 1L)
      .withColumn("cont_in_r",
        expr("(2*n_common*1000000 + n_in) div (2*n_in)").cast("double") / 1e6)
      .withColumn("cont_ex_r",
        expr("(2*n_common*1000000 + ex_ns) div (2*ex_ns)").cast("double") / 1e6)
      .withColumn("contained",
        greatest(col("cont_in_r"), col("cont_ex_r")) >= threshold)
      .select(col("doc_id"), col("ex_id"), col("fp"), col("n_common"),
        col("n_in"), col("ex_ns"), col("cont_in_r"), col("cont_ex_r"),
        col("contained"))
  }

  /** d26: streaming duplicated-START hits at ingest — the serving twin
    * of batch c62: each arriving document's positional n-shingles
    * (row-local explode — [[graft.operators.Dedup.positionalShingles]])
    * probe the at-rest corpus shingle set and emit one (doc_id, i) row
    * per start whose shingle already exists at rest. Stateless
    * stream-static equi-join on the 16-byte md5 key — no watermark, no
    * state; the island merge into maximal spans
    * ([[graft.operators.Dedup.mergeStartIslands]]) is a per-doc batch
    * fold downstream (d8's hit-row rule: append mode cannot run the
    * per-doc window, and the merge is a pure function of the emitted
    * hits). Vs batch c62's corpus-global count, the ingest semantic is
    * arrival-vs-AT-REST: a run the arrival repeats only internally is
    * new data and does not hit. The index ([[
    * graft.operators.Dedup.dupShingleIndexOf]]) is NOT broadcast —
    * corpus-sized; d11/d25's materialized-table rule applies, at scale
    * bucketed by sh so the per-batch join is co-located. */
  def streamDupStarts(docs: DataFrame, shingleIndex: DataFrame,
                      n: Int = 5): DataFrame =
    // positionalShingles filters null text and projects internally
    graft.operators.Dedup.positionalShingles(docs, n)
      .join(shingleIndex.select("sh"), Seq("sh"))
      .select(col("doc_id"), col("i"))

  /** d27: streaming THRESHOLDED-span hits at ingest — the serving twin
    * of batch c65: each arriving document probes TWO at-rest shingle
    * indexes ([[graft.operators.Dedup.dupShingleIndexOf]] at widths n
    * and strongN — the same artifact family d26 probes), emitting one
    * tagged (doc_id, i, strong) row per hit: weak (n-width) hits are
    * c65's span CANDIDATES, strong (strongN-width) hits its exact-match
    * CONFIRMATION evidence. Stateless (two stream-static equi-joins on
    * 16-byte md5 keys unioned — no watermark, no state); the fold into
    * confirmed minSpan spans
    * ([[graft.operators.Dedup.spansMinOfHits]]) is a per-doc batch
    * pass downstream (d26's rule: append mode cannot run the per-doc
    * window, and the fold is a pure function of the emitted hits).
    * Both indexes follow d11/d25's materialized-table rule — at scale
    * bucketed by sh so the per-batch joins are co-located. */
  def streamSpanHits(docs: DataFrame, weakIndex: DataFrame,
                     strongIndex: DataFrame, n: Int = 5,
                     strongN: Int = 20): DataFrame =
    streamDupStarts(docs, weakIndex, n)
      .withColumn("strong", lit(false))
      .unionByName(streamDupStarts(docs, strongIndex, strongN)
        .withColumn("strong", lit(true)))

  /** d46: streaming DOMAIN CURATION at ingest — c96/c97's serving twin
    * (r16): each arriving (doc_id, url) extracts its registrable domain
    * ROW-LOCALLY through the SAME host-capture + www-strip expressions
    * the batch rows run ([[graft.operators.Curation.domainOf]] — d29's
    * shared-subtree rule) and gets the static blocklist verdict — the
    * one per-row decision a domain policy CAN take at ingest. Zero
    * state, no watermark, no join; per-domain caps and corpus shares
    * are corpus-level folds and stay batch (d26's rule — c96/c97's
    * job). Emitted as a flag, not a filter, so the caller chooses
    * flag-or-drop. */
  def streamDomainFilter(docs: DataFrame,
                         blocklist: Seq[String] =
                           graft.operators.Curation.DefaultBlocklist): DataFrame =
    docs.filter(col("url").isNotNull)
      .select(col("doc_id"), col("url"),
        graft.operators.Curation.domainOf(col("url")).as("domain"))
      .withColumn("is_blocked", col("domain").isin(blocklist: _*))

  /** d45: streaming SOFT-DEDUP weights at ingest — c92's serving twin
    * (r16): each arriving doc gets the loss weight a trainer should
    * apply, by probing the at-rest (text-md5 → weight_r) index
    * ([[graft.operators.Dedup.softWeightIndexOf]] materialized as
    * parquet — d11/d25's table rule, at scale bucketed by h). A
    * byte-identical replay of a corpus doc inherits 1/|its cluster|;
    * an unseen doc weights exactly 1.0 (it IS a singleton until the
    * next batch maintenance pass — c95's job — folds it in). Stateless
    * zero-state stream-static equi-join; the arrival-side md5 is the
    * SAME expression the index is built from (d29's shared-subtree
    * rule), so the hash contract holds by construction. */
  def streamSoftWeight(docs: DataFrame, weightIndex: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(weightIndex.select(col("h"), col("weight_r").as("w")),
        Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("w"), lit(1.0)).as("weight_r"))

  /** d49: streaming MEDIA cluster inheritance at ingest — c102/c103's
    * serving twin and d45's media analogue (r16): each arriving media
    * record hashes row-locally (the SAME
    * [[graft.operators.Multimodal.phashOf]] dispatch), band-probes the
    * materialized corpus hash index, and every near-dup hit carries the
    * CLUSTER the frozen label table assigns that corpus doc — the
    * per-row decision a media dedup policy can take at ingest (route
    * the arrival to cluster C, weight it, or drop it). Emits one
    * (doc_id, corpus_doc, hamming, cluster_id) row per (arrival,
    * near-dup) pair — canonical-band emission makes that exact without
    * state (for every band before the matching one, the hashes differ
    * — the same codegen'd filter the batch pair surface runs); an
    * arrival with NO rows is new material (its own singleton until the
    * next `cluster-update --media` pass — c103's job, d26's rule: the
    * min/distinct fold across hits is a batch decision downstream). A
    * corpus doc absent from the label table is its own cluster minimum
    * (the c102 singleton convention). Zero state, no watermark;
    * stream-static equi-join on the band keys — at scale the index is
    * bucketed by segment. */
  def streamMediaClusterAssign(media: Dataset[graft.operators.MediaRecord],
                               index: DataFrame, labels: DataFrame,
                               maxHamming: Int = 3): DataFrame = {
    require(Seq("doc_id", "phash").forall(index.columns.contains),
      "index must be a c88 phash frame (doc_id, phash), found " +
        index.columns.mkString("(", ", ", ")"))
    require(Seq("node", "cluster_id").forall(labels.columns.contains),
      "labels must be a (node, cluster_id) table, found " +
        labels.columns.mkString("(", ", ", ")"))
    phashBandProbe(phashArrivals(media), corpusPhashes(index), maxHamming)
      .filter(graft.operators.Multimodal.noEarlierBand(col("phash"), col("cph")))
      .join(labels.select(col("node").as("corpus_doc"),
        col("cluster_id").as("lbl")), Seq("corpus_doc"), "left")
      .select(col("doc_id"), col("corpus_doc"), col("hamming"),
        least(coalesce(col("lbl"), col("corpus_doc")), col("corpus_doc"))
          .as("cluster_id"))
  }

  /** d50: streaming JOINT text+media dedup verdict at ingest — c107's
    * serving twin (r17): each arriving doc carrying BOTH modalities
    * probes two at-rest EXACT-replay indexes row-locally — (text-md5 →
    * frozen c19 cluster, [[graft.operators.Dedup.textClusterIndexOf]])
    * and (phash → frozen c102 cluster,
    * [[graft.operators.Multimodal.mediaClusterIndexOf]]) — and emits
    * the per-arrival verdict: the inherited cluster ids (null = new
    * material on that modality, d49's no-hit convention) and three
    * seen_* flags — "this exact content is already indexed", which is
    * deliberately NOT c107's dup_by_* (non-canonical membership): a
    * replay of a canonical doc is seen=true here but dup=false there.
    * REPLAY grade by design: a byte-identical replay
    * inherits both clusters exactly; NEAR-dup routing (hamming 1-3,
    * jaccard < 1) stays d49/d6's per-hit business, and folding fresh
    * material into the label tables is c95/c103's batch job (d26's
    * rule). Zero state, no watermark, two stream-static equi-joins on
    * 16-byte / 8-byte keys; the arrival-side hashes are the SAME
    * expressions the indexes are built from (d29's shared-subtree
    * rule), so the contracts hold by construction. */
  def streamJointVerdict(recs: Dataset[graft.operators.JointRecord],
                         textIndex: DataFrame,
                         mediaIndex: DataFrame): DataFrame = {
    require(Seq("h", "cluster_id").forall(textIndex.columns.contains),
      "textIndex must be a (h, cluster_id) table, found " +
        textIndex.columns.mkString("(", ", ", ")"))
    require(Seq("phash", "cluster_id").forall(mediaIndex.columns.contains),
      "mediaIndex must be a (phash, cluster_id) table, found " +
        mediaIndex.columns.mkString("(", ", ", ")"))
    import recs.sparkSession.implicits._
    recs
      .mapPartitions(_.map(r => (r.doc_id, r.text,
        graft.operators.Multimodal.phashOf(r.doc_id, r.media_type, r.payload))))
      .toDF("doc_id", "text", "phash")
      .select(col("doc_id"), md5(col("text")).as("h"), col("phash"))
      .join(textIndex.select(col("h"), col("cluster_id").as("tc")),
        Seq("h"), "left")
      .join(mediaIndex.select(col("phash"), col("cluster_id").as("mc")),
        Seq("phash"), "left")
      .select(col("doc_id"),
        col("tc").as("text_cluster_id"), col("mc").as("media_cluster_id"),
        // seen_*, NOT dup_by_* (r18, the r17 ADVICE divergence): these
        // flags mean "this exact content hit the frozen index" — a
        // replay of a CANONICAL doc reads seen=true here while c107's
        // same-named membership flags read dup=false for it (canonical
        // ≠ non-canonical member). Distinct names make the replay-vs-
        // membership semantics impossible to conflate downstream.
        col("tc").isNotNull.as("seen_text"),
        col("mc").isNotNull.as("seen_media"),
        (col("tc").isNotNull || col("mc").isNotNull).as("seen_any"))
  }

  /** d52: streaming VIDEO cluster inheritance at ingest — d50's
    * exact-replay shape at VIDEO grain (r18, closing the r17 verdict's
    * streaming gap: a video arrival got raw frame hits (d44) but no
    * video-grain verdict against the frozen c106 labels). Each
    * arriving video demuxes and hashes its frames ROW-LOCALLY (the
    * SAME [[graft.operators.Multimodal.videoFramePhashes]] walk d44
    * and the batch gate run), folds them row-locally into the
    * frame-order signature (the SAME
    * [[graft.operators.Multimodal.videoSigExpr]] subtree the at-rest
    * index is built from — d29's rule), and probes the (sig → frozen
    * c106 cluster) index with ONE stream-static equi-join on a 32-byte
    * key: the inherited video-grain cluster, null = new material
    * (d49's no-hit convention), plus the seen_video flag (d50's seen_*
    * semantics: "this exact frame sequence is indexed"). REPLAY grade
    * by design: a byte-identical replay inherits exactly its source's
    * c106 label; clipped excerpts and near-dup variants stay d44's
    * per-frame-hit business (d26's rule), and folding fresh material
    * into the labels is c109's batch job. Zero state, no watermark. */
  def streamVideoClusterInherit(media: Dataset[graft.operators.MediaRecord],
                                index: DataFrame): DataFrame = {
    require(Seq("sig", "cluster_id").forall(index.columns.contains),
      "index must be a (sig, cluster_id) table " +
        "(Multimodal.videoClusterIndexOf), found " +
        index.columns.mkString("(", ", ", ")"))
    import media.sparkSession.implicits._
    media
      .mapPartitions(_.map { r =>
        require(r.media_type == "video",
          s"doc ${r.doc_id}: video cluster inheritance is video-only, " +
            s"got '${r.media_type}'")
        (r.doc_id,
          graft.operators.Multimodal.videoFramePhashes(r.doc_id, r.payload)
            .map { case (f, ph) => graft.operators.FrameHash(f, ph) })
      })
      .toDF("doc_id", "frames")
      .select(col("doc_id"),
        graft.operators.Multimodal.videoSigExpr(col("frames")).as("sig"))
      .join(index.select(col("sig"), col("cluster_id").as("vc")),
        Seq("sig"), "left")
      .select(col("doc_id"), col("vc").as("video_cluster_id"),
        col("vc").isNotNull.as("seen_video"))
  }

  /** d54: streaming RELEASE-DIGEST contributions at ingest — c112's
    * serving twin (r18), built on the digest's defining property (the
    * sums are associative/commutative): each arriving doc emits its
    * row-local manifest CONTRIBUTION — (doc_id, shard, n_tokens,
    * digest1, digest2): the two 60-bit md5(doc_id:text) halves (each
    * already < 2⁶¹−1, so per-doc mod is the identity) — via THE SAME
    * shard-key and hex-half expressions the batch c112 row folds
    * (TextOps.withShardKey — d29's shared-subtree rule). Zero state,
    * no watermark, no join; the per-shard merge (sum counts, sum
    * digests mod 2⁶¹−1) is the consumer's batch fold (d26's rule) and
    * equals the batch manifest on ANY replay partitioning — exactly
    * the map-side-combinability c112's scaladoc claims, here doing
    * real streaming work. */
  def streamShardDigest(docs: DataFrame, prefixLen: Int = 1): DataFrame = {
    import graft.operators.TextOps
    TextOps.withShardKey(docs.select(col("doc_id"), col("text")), prefixLen)
      .select(col("doc_id"), col("shard"),
        size(graft.operators.TextOps.words(col("text"))).cast("bigint")
          .as("n_tokens"),
        expr(s"cast(cast(conv(substr(h, 1, 15), 16, 10) as decimal(38,0))" +
          s" % ${TextOps.DigestMod}L as bigint)").as("digest1"),
        expr(s"cast(cast(conv(substr(h, 17, 15), 16, 10) as decimal(38,0))" +
          s" % ${TextOps.DigestMod}L as bigint)").as("digest2"))
  }

  /** d29: streaming CLUSTER ROUTING at ingest — c69's serving twin and
    * d14's lexical analogue: each arriving doc is routed to the
    * existing substring-duplication group(s) it belongs to, by probing
    * the at-rest (shingle → cluster_id) routing table (the c69 label
    * table joined back to its shingle occurrences — the artifact a
    * dedup-aware ingest ships next to c37's shingle index). Emits one
    * (doc_id, sh, cluster_id) row per positional hit — stateless (d26's
    * rule: the distinct/min fold is a batch decision downstream); an
    * arrival hitting NO cluster is new material. The arrival-side
    * shingle hashes derive through the SAME
    * [[graft.operators.Dedup.positionalShingles]] subtree the at-rest
    * routing table is built from (streamDupStarts's rule, r12) — the
    * hash contract is shared by construction, not merely pinned by the
    * d29 parity test, and the routing table never carries bodies. */
  def streamClusterRoute(docs: DataFrame, routingIndex: DataFrame,
                         strongN: Int = 20): DataFrame =
    graft.operators.Dedup.positionalShingles(docs, strongN)
      .join(routingIndex.select("sh", "cluster_id"), "sh")
      .select(col("doc_id"), col("sh"), col("cluster_id"))

  /** d28: streaming eval-ONBOARDING contamination probe — c68's serving
    * twin: benchmark sets evolve, and each arriving eval item must be
    * checked against the (at-rest) training corpus BEFORE it is trusted.
    * The arrival's distinct n-shingles compute row-locally
    * ([[graft.operators.Dedup.shingles]], whose size guard keeps the
    * expression total for a sub-n row; no per-doc state) and probe the
    * corpus shingle index ([[graft.operators.Dedup.shingleRows]]
    * materialized as parquet —
    * corpus-sized, so d11/d25's table rule, at scale bucketed by
    * shingle), emitting one (doc_id, n_shingles, shingle, c_doc) row
    * per leaked (shingle, corpus-doc) pair. Stateless; the fold into
    * the c68 report shape
    * ([[graft.operators.TextOps.contamReportOfHits]]) is a batch pass
    * downstream (d26's rule) — clean items produce NO stream rows, so
    * the fold's total side comes from the arrival log, not the hits. */
  def streamContamProbe(docs: DataFrame, corpusIndex: DataFrame,
                        n: Int = 8): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), graft.operators.Dedup.shingles(col("text"), n).as("shs"))
      .select(col("doc_id"),
        size(col("shs")).cast("bigint").as("n_shingles"),
        explode(col("shs")).as("shingle"))
      .join(corpusIndex.select(col("shingle"), col("doc_id").as("c_doc")),
        "shingle")
      .select(col("doc_id"), col("n_shingles"), col("shingle"), col("c_doc"))
  }
}
