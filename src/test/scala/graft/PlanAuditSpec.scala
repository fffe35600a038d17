package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Plan-shape audits for the r7 IVF changes: these print the formatted
  * plans (for the round's plan review) and assert the load-bearing
  * properties — pushdown reaching the scans, no vec_id exchange, the
  * final top-k being the only shuffle. */
class PlanAuditSpec extends SparkSpec {

  test("c18 plan: query-side filter pushed to scan, no vec_id exchange, one top-k window") {
    val df = Similarity.c18AnnIvf(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = sansFanOut(plan.toString)
    // the vector scans must carry the vec_id pushdown (query side reads
    // only vec_id<5 row groups; candidate side vec_id>=5)
    assert(s.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)]") ||
      s.contains("LessThan(vec_id,5)"), s"query-side pushdown missing:\n$s")
    assert(s.contains("GreaterThanOrEqual(vec_id,5)"), s"candidate-side pushdown missing:\n$s")
    // assignment must not shuffle on vec_id (the r6 n×k exchange)
    assert(!s.contains("hashpartitioning(vec_id"), s"vec_id exchange crept back:\n$s")
    // exactly one hash exchange total: the final per-query top-k window
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(s).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange (the query_id top-k window), got $hashExchanges:\n$s")
  }

  // plan text for shape assertions, with the r20 scan-parallelism-floor
  // exchange filtered out (sansFanOut): every fact-table read at gate
  // scale carries one REPARTITION_BY_COL exchange that is a no-op at
  // cluster scale — the audits pin the operator's OWN shuffle shape
  private def executedPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    sansFanOut((df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString)
  }

  test("c34 plan: top-k is TakeOrderedAndProject, never a global sort") {
    val s = executedPlanOf(graft.operators.TextOps.c34VocabTopk(spark, sfDir))
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$s")
    // a Sort node would mean the full vocabulary is globally sorted just
    // to take k rows — TakeOrdered keeps a k-row heap per partition
    assert(!s.contains("Sort ["), s"global sort crept in:\n$s")
  }

  test("c37 plan: every join is an equi-join — no cartesian, no nested loop") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the frame c37 returns reads a local checkpoint: its joins run in the
    // checkpoint's own plan, which evaluatedOps sees
    val joins = evaluatedOps {
      graft.operators.Dedup.c37IncrementalDedup(spark, sfDir).collect(); ()
    }.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, "no join among c37's evaluated plans")
    // a cartesian product or a nested-loop join has no equi-join keys
    val keyless = joins.filter(_.leftKeys.isEmpty)
    assert(keyless.isEmpty, s"non-equi joins in incremental dedup:\n${keyless.mkString("\n")}")
  }

  test("c38 plan: candidate quantize+reconstruct+score is shuffle-free before the top-k window") {
    val s = executedPlanOf(Similarity.c38PqSearch(spark, sfDir))
    // candidate-side pushdown reaches the scan
    assert(s.contains("GreaterThanOrEqual(vec_id,5)"), s"candidate pushdown missing:\n$s")
    // the ONLY hash exchange is the per-query top-k window — quantization,
    // reconstruction and ADC scoring all live in one stateless projection
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(s).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange (the query_id top-k window), got $hashExchanges:\n$s")
  }

  test("c39 plan: chunking is shuffle-free — the only exchange is the presentation sort") {
    val s = executedPlanOf(graft.operators.TextOps.c39Chunk(spark, sfDir))
    assert(!s.contains("hashpartitioning("),
      s"chunking must not hash-shuffle (stateless projection + explode):\n$s")
    // only text/doc_id leave the scan — chunking must not drag the
    // documents table's other columns through the explode
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning missing at the scan:\n$s")
  }

  test("c40 plan: one shard exchange; the position sort is per-shard, never global") {
    val s = executedPlanOf(graft.operators.TextOps.c40ShuffleShard(spark, sfDir))
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(s).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange (shard key), got $hashExchanges:\n$s")
    assert(s.contains("hashpartitioning(shard"),
      s"window must partition on the shard key:\n$s")
  }

  test("c41 plan: the total-tokens scalar reuses the vocabulary exchange, not a third corpus scan") {
    // logically the total aggregate re-derives the vocab subtree (Catalyst
    // keeps duplicate subtrees), but deriving it FROM the vocab aggregate
    // makes its exchange byte-identical to the join's build side — so the
    // physical plan must REUSE that exchange and the corpus is exploded
    // only twice at execution (vocab build + join side)
    val s = executedPlanOf(graft.operators.TextOps.c41FreqScore(spark, sfDir))
    assert(s.contains("ReusedExchange") || s.contains("ReusedQueryStage"),
      s"vocabulary exchange not reused for the corpus total:\n$s")
  }

  test("c43 plan: assignment comes from the memoized table; pair hunt is a cell equi-join") {
    val s = executedPlanOf(Similarity.c43SemanticDedup(spark, sfDir))
    // the corpus-wide assignment pass must NOT re-run per plan branch —
    // all three consumers read the scratch-parquet memo
    assert(s.contains("cell-assign-"), s"assignment memo scan missing:\n$s")
    // pairwise work is confined to a cell: an equi-join, never a product
    assert(!s.contains("CartesianProduct"), s"cartesian in pair hunt:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested loop in pair hunt:\n$s")
    // and no window anywhere — assignment was the codegen'd argmax at
    // memo-build time, dominance is a join + distinct
    assert(!s.contains("Window"), s"window crept into semantic dedup:\n$s")
  }

  test("c44 plan: pair counts aggregate partially and the cut is TakeOrderedAndProject") {
    val s = executedPlanOf(graft.operators.TextOps.c44BpePairs(spark, sfDir))
    // top-k must not globally sort the pair table
    assert(s.contains("TakeOrderedAndProject"), s"top-k must plan as TakeOrdered:\n$s")
    // both aggregations (word count, pair count) are two-phase hash
    // aggregates — the corpus-heavy word count combines map-side
    val partials = "partial_count|partial_sum".r.findAllIn(s).length
    assert(partials >= 2, s"expected partial aggregation on both stages:\n$s")
  }

  test("c45/c46 plans: dim-keyed partial aggregation, no vec_id exchange, broadcast scalar") {
    val s45 = executedPlanOf(Similarity.c45EmbedMoments(spark, sfDir))
    // moments shuffle only on the dim key (domain = embedding width)
    assert(!s45.contains("hashpartitioning(vec_id"), s"vec_id exchange in moments:\n$s45")
    assert("partial_sum".r.findAllIn(s45).nonEmpty, s"moments must combine map-side:\n$s45")
    val s46 = executedPlanOf(Similarity.c46PowerIter(spark, sfDir))
    // ⟨x,v0⟩ is row-local (the oracle needs a vec_id join; the plan must not)
    assert(!s46.contains("hashpartitioning(vec_id"), s"vec_id exchange in power iter:\n$s46")
    // the max-|component| normalizer arrives as a broadcast 1-row scalar
    assert(s46.contains("BroadcastExchange") || s46.contains("BroadcastNestedLoopJoin"),
      s"normalizer must broadcast:\n$s46")
  }

  test("c47 plan: normalization is row-local against a broadcast stats row — no corpus shuffle") {
    val s = executedPlanOf(Similarity.c47Whiten(spark, sfDir))
    // the oracle joins per (vec_id, pos); the plan must not — the only
    // hash exchange is the dim-keyed moments aggregate. A ReusedExchange
    // line REFERENCING the r20 scan floor (its description embeds the
    // floor's hashpartitioning text) is reuse, not a corpus shuffle.
    val noReuse = s.linesIterator
      .filterNot(_.contains("ReusedExchange")).mkString("\n")
    assert(!noReuse.contains("hashpartitioning(vec_id"),
      s"corpus shuffle in whitening:\n$s")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastNestedLoopJoin"),
      s"moments must arrive broadcast:\n$s")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(noReuse).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange (the pos-keyed moments agg), got $hashExchanges:\n$s")
  }

  test("b21 plan: one identity-key exchange serves the single lag window") {
    val s = executedPlanOf(graft.operators.Relational.b21WindowDedup(spark, sfDir))
    assert(s.contains("Window"), s"lag must plan as a window:\n$s")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(s).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange (the identity key), got $hashExchanges:\n$s")
  }

  test("c49 plan: the release audit is one full-outer equi-join, never a product") {
    val s = executedPlanOf(graft.operators.TextOps.c49SnapshotDiff(spark, sfDir))
    assert(s.contains("FullOuter"), s"diff must plan a full-outer join:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"product join in the release audit:\n$s")
  }

  test("c116 plan: one row-local corpus pass onto the bounded source table — no doc_id exchange, no product") {
    val s = executedPlanOf(graft.operators.TextOps.c116RecipeAudit(spark, sfDir))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"product join in the recipe audit:\n$s")
    // the r18 carry refactor: token counts ride the recipeCopies
    // projection, so the corpus is never re-joined to itself by doc_id
    assert(!s.contains("hashpartitioning(doc_id"),
      s"doc_id exchange crept back into the audit:\n$s")
  }

  test("c112/d54 plan: the manifest fold has NO window — withShardKey dropped shuffleShard's row_number (r18)") {
    val s = executedPlanOf(graft.operators.TextOps.c112ShardManifest(spark, sfDir))
    assert(!s.contains("Window"),
      s"the manifest fold must not pay a per-shard sort window:\n$s")
    assert(!s.contains("CartesianProduct"), s"product in the manifest:\n$s")
  }

  test("c115 plan: the signature index is one label equi-join over a per-video fold — no product") {
    val s = executedPlanOf(
      graft.operators.Multimodal.c115VideoSigIndex(spark, sfDir))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"product join in the signature index:\n$s")
  }

  test("c48 plan: exact-count sample is TakeOrderedAndProject, never a global sort") {
    val s = executedPlanOf(graft.operators.TextOps.c48SampleExact(spark, sfDir))
    assert(s.contains("TakeOrderedAndProject"),
      s"sample must plan as TakeOrdered:\n$s")
    assert(!s.contains("Sort ["), s"global sort crept into the sampler:\n$s")
    assert(!s.contains("hashpartitioning"), s"corpus shuffle in the sampler:\n$s")
  }

  test("c50 plan: grouped top-k is salted — a (lang, salt) window prunes before the per-lang window") {
    val s = executedPlanOf(graft.operators.TextOps.c50GroupBudget(spark, sfDir))
    // the skew shield: the first window partitions on (lang, pmod(doc_id, salts))
    // so a hot language fans across `salts` partitions for the heavy ranking pass
    assert(s.contains("pmod"), s"salted window partitioning missing:\n$s")
    val saltedIdx = s.indexOf("pmod")
    // the lang-only exchange (the final k-per-lang window) must exist...
    val langOnly = "hashpartitioning\\(lang#\\d+, \\d+\\)".r
    val m = langOnly.findAllMatchIn(s).toSeq
    assert(m.nonEmpty, s"per-lang final window exchange missing:\n$s")
    // ...and operate ABOVE the salted pass (string order in the plan tree:
    // upstream operators print below their parents, so the final lang-only
    // exchange appears BEFORE the salted exchange in the dump)
    assert(m.head.start < saltedIdx,
      s"lang-only window does not sit above the salted pass:\n$s")
    // only the ≤ k·salts survivors may reach it: the local-rank filter sits
    // between the two windows
    val between = s.substring(m.head.start, saltedIdx)
    assert(between.contains("lrnk"),
      s"survivor filter missing between salted and final window:\n$s")
    // NOTE: c41's corpus-total (a 1-row aggregate) broadcasts via
    // IdentityBroadcastMode and plans as a BroadcastNestedLoopJoin by
    // construction — a single-row scalar join, safe at any scale — so only
    // a true cartesian is forbidden here
    assert(!s.contains("CartesianProduct"), s"cartesian in grouped top-k:\n$s")
  }

  test("c96 plan: per-domain cap rides the salted two-phase top-k (c50's shield)") {
    val s = executedPlanOf(graft.operators.Curation.c96DomainCap(spark, sfDir))
    // the skew shield matters MOST here: the pathological hot domain is
    // exactly what a per-domain cap exists for — the first window must
    // partition on (domain, pmod(doc_id, salts))
    assert(s.contains("pmod"), s"salted window partitioning missing:\n$s")
    val domOnly = "hashpartitioning\\(domain#\\d+, \\d+\\)".r
    val m = domOnly.findAllMatchIn(s).toSeq
    assert(m.nonEmpty, s"per-domain final window exchange missing:\n$s")
    assert(m.head.start < s.indexOf("pmod"),
      s"domain-only window does not sit above the salted pass:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian in domain cap:\n$s")
  }

  test("c51 plan: type filter precedes the codec loop; no shuffle before the output sort") {
    val s = executedPlanOf(graft.operators.Multimodal.c51ImageCodec(spark, sfDir))
    // the doc_id % 3 predicate must evaluate scan-side, BEFORE the
    // encode+decode mapPartitions — 2/3 of the corpus never reaches the codec
    assert(s.contains("pmod"), s"type filter missing from the scan stage:\n$s")
    // the whole codec loop is row-local: the output-order range exchange is
    // the only exchange in the plan
    assert(!s.contains("hashpartitioning"),
      s"hash exchange crept into the row-local codec pipeline:\n$s")
  }

  test("c53 plan: same row-local shape as c51 — scan-side filter, no hash exchange") {
    val s = executedPlanOf(graft.operators.Multimodal.c53ImageCodec(spark, sfDir))
    assert(s.contains("pmod"), s"type filter missing from the scan stage:\n$s")
    assert(!s.contains("hashpartitioning"),
      s"hash exchange crept into the row-local codec pipeline:\n$s")
  }

  test("c88 plan: scan-side type filter before the hash mapPartitions; band join is equi") {
    val s = executedPlanOf(graft.operators.Multimodal.c88ImagePhash(spark, sfDir))
    // doc_id % 3 evaluates scan-side, BEFORE the decode+hash mapPartitions
    assert(s.contains("pmod"), s"type filter missing from the scan stage:\n$s")
    assert(!s.contains("hashpartitioning"),
      s"hash exchange crept into the row-local hash pipeline:\n$s")
  }

  test("c52 plan: token counts aggregate partially; the cut is TakeOrderedAndProject") {
    val s = executedPlanOf(graft.operators.TextOps.c52BpeTokenize(spark, sfDir))
    // the top-k cut must never be a global sort
    assert(s.contains("TakeOrderedAndProject"), s"c52 cut is not TakeOrdered:\n$s")
    // two bounded-key aggregations (word types, then tokens), each with a
    // partial (map-side) phase — the corpus itself is scanned once by the
    // word count; merge application is row-local column math
    assert("partial_count|partial_sum".r.findAllIn(s).nonEmpty,
      s"map-side combine missing:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"product join in the tokenizer:\n$s")
  }

  test("c54 plan: projection is row-local plan literals — zero corpus exchanges before the gate sort") {
    val s = executedPlanOf(graft.operators.Similarity.c54PcaProject(spark, sfDir))
    // the components are inlined as literals: no join, no broadcast, no
    // hash exchange anywhere — only the gate ordering's range exchange
    assert(!s.contains("hashpartitioning"), s"corpus shuffle in PCA projection:\n$s")
    assert(!s.contains("Join"), s"join crept into the projection:\n$s")
  }

  test("c55 plan: one doc_id exchange, stats broadcast, cut is TakeOrderedAndProject") {
    val s = executedPlanOf(graft.operators.TextOps.c55Bm25(spark, sfDir))
    // the per-doc tf pass is the ONLY physical hash exchange: the corpus
    // stats branch consumes the SAME shuffle through a ReusedExchange
    // (one corpus scan, one shuffle, both consumers) — count real
    // exchanges, not the reused reference's description text
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(s).length -
      "ReusedExchange \\[[^\\]]*\\], Exchange hashpartitioning".r.findAllIn(s).length
    assert(hashExchanges == 1,
      s"expected ONE physical hash exchange (the doc_id tf pass), got $hashExchanges:\n$s")
    assert(s.contains("ReusedExchange"),
      s"stats branch must reuse the tf shuffle, not rescan the corpus:\n$s")
    assert(s.contains("partial_count") || s.contains("partial_sum"),
      s"map-side combine missing from the tf pass:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"1-row stats artifact must broadcast:\n$s")
    assert(s.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$s")
    assert(!s.contains("Sort ["), s"global sort crept into the cut:\n$s")
  }

  test("c56 plan: the model joins broadcast; scoring never sort-merge-joins the corpus") {
    val s = executedPlanOf(graft.operators.TextOps.c56LmScore(spark, sfDir))
    assert(s.contains("BroadcastHashJoin"),
      s"vocab-bounded model must broadcast-join the pair stream:\n$s")
    assert(!s.contains("CartesianProduct"), s"product join in LM scoring:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"corpus-sized sort-merge join in LM scoring (model is bounded — broadcast it):\n$s")
  }

  test("c59 plan: every cut is TakeOrderedAndProject; rank windows see only k-bounded frames") {
    val s = executedPlanOf(graft.operators.TextOps.c59RrfFuse(spark, sfDir))
    // three cuts: ranker A's top-50, ranker B's top-50, the fused top-20 —
    // each a k-row heap, never a corpus sort; the single-partition rank
    // windows are safe BECAUSE they sit above a TakeOrdered cut (≤ 50
    // rows by construction — the c50 salting concern does not arise)
    val cuts = "TakeOrderedAndProject".r.findAllIn(s).length
    assert(cuts >= 3, s"expected >= 3 TakeOrdered cuts, got $cuts:\n$s")
    assert(!s.contains("CartesianProduct"), s"product join in fusion:\n$s")
  }

  test("c57 plan: the whole selector is row-local — no hash exchange at all") {
    val s = executedPlanOf(graft.operators.TextOps.c57Winnow(spark, sfDir))
    // shingle hashing, window minima, distinct, sort: ONE projection;
    // the only exchange is the gate ordering's range partition
    assert(!s.contains("hashpartitioning"),
      s"hash exchange crept into the row-local winnowing selector:\n$s")
    assert(!s.contains("Join"), s"join crept into winnowing:\n$s")
    // text and doc_id only: the selector must not drag other columns
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning missing at the scan:\n$s")
  }

  test("c62/c63 plans: shingle joins are equi-joins, windows doc-partitioned, no product") {
    val s62 = executedPlanOf(graft.operators.Dedup.c62DupSpans(spark, sfDir))
    assert(!s62.contains("CartesianProduct") &&
      !s62.contains("BroadcastNestedLoopJoin"),
      s"span finding must never go all-pairs:\n$s62")
    // the island merge must window per doc — a global (empty-partition)
    // window would single-partition the corpus
    assert(s62.contains("windowspecdefinition(doc_id"),
      s"island window must partition by doc_id:\n$s62")
    val s63 = executedPlanOf(graft.operators.Dedup.c63SpanScrub(spark, sfDir))
    assert(!s63.contains("CartesianProduct") &&
      !s63.contains("BroadcastNestedLoopJoin"),
      s"scrub must never go all-pairs:\n$s63")
    // ownership is a shingle-keyed aggregate with map-side partial
    assert(s63.contains("partial_min") || s63.contains("partial min") ||
      s63.contains("HashAggregate"),
      s"ownership fold must aggregate partially:\n$s63")
    // r11 rebuild contract: zero token-level work in the plan — no
    // explode of the token array (the old form posexploded every corpus
    // token)...
    assert(!s63.contains("Generate") && !s63.contains("posexplode"),
      s"token-level explode crept back into the scrub rebuild:\n$s63")
    // ...and no exchange keyed at (doc_id, p) token granularity: every
    // hash exchange is the shingle key or doc_id alone
    assert(!"hashpartitioning\\(doc_id#\\d+, p#".r.findFirstIn(s63).isDefined,
      s"(doc_id, p)-keyed exchange crept back into the scrub rebuild:\n$s63")
  }

  test("c67 plan: inherits the zero-token-level-rebuild contract, no product") {
    val s = executedPlanOf(graft.operators.Dedup.c67ScrubMinlen(spark, sfDir))
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"thresholded scrub must never go all-pairs:\n$s")
    assert(!s.contains("posexplode"),
      s"token-level explode crept into the thresholded scrub rebuild:\n$s")
    assert(!"hashpartitioning\\(doc_id#\\d+, p#".r.findFirstIn(s).isDefined,
      s"(doc_id, p)-keyed exchange crept into the thresholded scrub:\n$s")
  }

  test("c70 plan: byte staging + merge apply are fused nodes; only the two vocab shuffles") {
    val s = executedPlanOf(graft.operators.TextOps.c70BpeBytes(spark, sfDir))
    // the native expressions run IN the plan — not a UDF, not a chain
    assert(s.contains("graft_byte_stage"), s"ByteStage missing from plan:\n$s")
    assert(s.contains("graft_apply_bpe"), s"fused ApplyBpe missing from plan:\n$s")
    // cost model: exactly the (staged-pretoken count) and (token count)
    // aggregations shuffle — the staging/apply themselves are row-local
    val exchanges = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(exchanges == 2, s"expected exactly 2 vocab shuffles, got $exchanges:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"the top-k cut must never globally sort:\n$s")
  }

  test("index-add quantize plan: zero exchanges — broadcast folds + stateless argmax only") {
    // the d33/`index --add` claim: assignment and the M sub-codebook
    // folds are broadcast cross joins of 1-row static aggregates, the
    // code argmax is codegen'd NearestCells — nothing shuffles the
    // vectors being quantized
    val embs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cb = Similarity.labelCodebook(spark, sfDir)
    val df = Similarity.quantizeAgainstCodebook(embs, cb, m = 4)
    val s = executedPlanOf(df)
    val sub = s.split("== Initial Plan ==").head
    assert(!"Exchange hashpartitioning".r.findFirstIn(sub).isDefined,
      s"the quantize subtree must not shuffle the embedding rows:\n$s")
    assert(sub.contains("graft_nearest_cells") || sub.contains("NearestCells") ||
      sub.contains("nearest_cells"),
      s"codegen'd argmax missing from the quantize plan:\n$s")
  }

  test("c98/c99 plans: greedy match runs vocab-side; the type table broadcasts") {
    // c98: the cut is TakeOrderedAndProject over the vocab-side token
    // counts — never a global sort
    val s98 = executedPlanOf(
      graft.operators.Wordpiece.c98WordpieceTokenize(spark, sfDir))
    assert(s98.contains("TakeOrderedAndProject"),
      s"c98 top-k must plan as TakeOrderedAndProject:\n$s98")
    assert(!s98.contains("Sort ["), s"c98 global sort crept in:\n$s98")
    // c99: the word-type → np table must BROADCAST into the corpus word
    // stream (corpus tokens never shuffle; only per-doc partials do)
    val s99 = executedPlanOf(
      graft.operators.Wordpiece.c99WordpieceFertility(spark, sfDir))
    assert(s99.contains("BroadcastHashJoin"),
      s"c99 type table must broadcast:\n$s99")
    assert(!s99.contains("SortMergeJoin"),
      s"c99 must not sort-merge-join the corpus:\n$s99")
  }

  test("c100 plan: estimates are plan-literal lookups — no join, cut is TakeOrdered") {
    val s = executedPlanOf(graft.operators.Sketch.c100CmsTopk(spark, sfDir))
    // the grid collected as a bounded artifact and shipped back as
    // literals: the estimate pass must contain NO join at all
    assert(!s.contains("Join"), s"c100 estimate pass must be join-free:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"c100 cut must plan as TakeOrderedAndProject:\n$s")
    assert(!s.contains("Sort ["), s"c100 global sort crept in:\n$s")
  }

  test("c101 plan: the matrix is equi-joins of per-doc aggregates, no product") {
    val s = executedPlanOf(
      graft.operators.TextOps.c101TokenizerMatrix(spark, sfDir))
    assert(!s.contains("CartesianProduct"), s"cartesian in the matrix:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"nested loop in the matrix:\n$s")
  }

  test("c105/c106 plans: the video fold is equi-joins over the at-rest pair table, no product") {
    val s5 = executedPlanOf(
      graft.operators.Multimodal.c105VideoPairs(spark, sfDir))
    // the fold: one hash aggregate over the materialized pair surface,
    // then two equi-joins for the frame counts — never a product
    assert(!s5.contains("CartesianProduct") &&
      !s5.contains("BroadcastNestedLoopJoin"),
      s"c105 fold must never go all-pairs:\n$s5")
    assert(s5.contains("HashAggregate"), s"c105 fold must hash-aggregate:\n$s5")
    val s6 = executedPlanOf(
      graft.operators.Multimodal.c106VideoClusters(spark, sfDir))
    // the surface reads the FROZEN label table — no banded join, no CC
    // rounds in the per-query plan (the mediaLabelTablePath memo rule)
    assert(s6.contains("Scan parquet") || s6.contains("FileScan"),
      s"c106 must read the at-rest label table:\n$s6")
    assert(!s6.contains("CartesianProduct") &&
      !s6.contains("BroadcastNestedLoopJoin"),
      s"c106 surface must stay equi-join:\n$s6")
  }

  test("c65 plan: confirm join is a doc_id equi-join over sparse frames, no product") {
    // audit the LIVE plan (dupSpansMin shares every expression with the
    // memoized gate path, which reads the materialized span table)
    val s = executedPlanOf(graft.operators.Dedup.dupSpansMin(
      Tables.documents(spark, sfDir).select("doc_id", "text")))
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"span confirmation must never go all-pairs:\n$s")
    // the range predicates ride an EQUI join on the doc key; a planner
    // that lost the equi piece would nested-loop spans x starts
    assert(s.contains("doc_id"), s)
    // candidates still window per doc (c62's island merge underneath)
    assert(s.contains("windowspecdefinition(doc_id"),
      s"island window must partition by doc_id:\n$s")
  }

  test("c117/c118 plans: row-local regex chains — zero joins, zero aggregates, " +
    "only the presentation sort") {
    for (df <- Seq(graft.operators.Extract.c117HtmlExtract(spark, sfDir),
        graft.operators.Extract.c118EncodingFlag(spark, sfDir))) {
      val s = executedPlanOf(df)
      assert(!s.contains("Join") && !s.contains("HashAggregate"),
        s"extraction must be one row-local pass:\n$s")
      // ONE exchange: the doc_id presentation sort's range partitioning
      val exchanges = "Exchange ".r.findAllIn(s).length
      assert(exchanges == 1, s"expected only the presentation sort, got:\n$s")
      // column pruning: the scan must not read text's siblings
      assert(!s.contains("n_chars"), s"scan pruning lost:\n$s")
    }
  }

  test("c120 plan: sampled truth is pigeonhole equi-joins — no nested loop, " +
    "no cartesian anywhere (r21: the O(sample·corpus) BNL is gone)") {
    val s = executedPlanOf(
      graft.operators.Multimodal.c120RecallSampled(spark, sfDir))
    // r21: the truth side bands sample-vs-corpus hashes through the
    // independent 7×8 pigeonhole and re-attaches docs by equi-joins —
    // the O(sample·corpus) BroadcastNestedLoopJoin comparison is gone
    assert(!s.contains("CartesianProduct"), s"cartesian in sampled recall:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      s"truth side must band, never cross-compare:\n$s")
    // the candidate path, truth expansion and sample restriction are
    // all hash joins
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin"),
      s"sample restriction must be an equi-join:\n$s")
  }
}
